package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native blocked-EWMA convolution — tier-(b) custom Catalyst expression.
  *
  * For a K-tap integer weight vector `w` (see
  * [[graft.operators.Smooth.ewmaWeights]]) and a series blocked into
  * length-K chunks, computes for every position `i` of the current block
  *
  *   ewma_i = (Σ_{j=0}^{min(K−1, i+|prev|)} w_j · v_{i−j}) /
  *            (Σ w_j over the same terms) / 10⁴
  *
  * where `v_{i−j}` reads the current block for `i−j ≥ 0` and the TAIL of
  * the previous block otherwise — exactly the terms the ×K row-fan-out
  * formulation aggregates, evaluated in one compiled primitive loop
  * ([[EwmaKernel.blockConvolve]], which `eval` and generated code both
  * call) instead of K rows through a hash aggregate. Numerator and
  * denominator accumulate in exact LONG arithmetic (the Smooth overflow
  * contract) and the two casts + divisions mirror the fan-out form bit
  * for bit.
  *
  * Children: (prevVals: array<long> — pass an EMPTY array for the first
  * block, not NULL —, curVals: array<long>, weights: FOLDABLE
  * array<long>).
  */
case class EwmaBlockConvolve(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def prettyName: String = "ewma_block_convolve"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), ArrayType(LongType, _))
          if third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<long>, array<long>, foldable array<long>), got ($a, $b, $c)")
    }

  @transient private lazy val wts: Array[Long] =
    third.eval(null).asInstanceOf[ArrayData].toLongArray()

  override protected def nullSafeEval(prev: Any, cur: Any, unused: Any): Any =
    EwmaKernel.blockConvolve(prev.asInstanceOf[ArrayData], cur.asInstanceOf[ArrayData], wts)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("wts", wts, "long[]")
    nullSafeCodeGen(ctx, ev, (a, b, _) =>
      s"${ev.value} = graft.functions.EwmaKernel.blockConvolve($a, $b, $wRef);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object EwmaKernel {
  /** The kernel `eval` and generated code call: one output per element of
    * the current block `c`, reading the tail of the previous block `p`
    * where the window reaches back. */
  def blockConvolve(p: ArrayData, c: ArrayData, w: Array[Long]): ArrayData = {
    val pn = p.numElements()
    val n = c.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      var num = 0L
      var den = 0L
      var jMax = w.length - 1
      if (jMax > i + pn) jMax = i + pn
      var j = 0
      while (j <= jMax) {
        val src = i - j
        val v = if (src >= 0) c.getLong(src) else p.getLong(pn + src)
        num += w(j) * v
        den += w(j)
        j += 1
      }
      out(i) = num.toDouble / den.toDouble / 10000.0
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `convolve(prev, cur, weights)` as a Column — see [[EwmaBlockConvolve]]. */
  def convolve(prev: Column, cur: Column, weights: Column): Column =
    column(EwmaBlockConvolve(expression(prev), expression(cur), expression(weights)))
}
