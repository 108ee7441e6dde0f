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
  * formulation aggregates, evaluated in one codegen'd primitive loop
  * instead of K rows through a hash aggregate. Numerator and denominator
  * accumulate in exact LONG arithmetic (the Smooth overflow contract) and
  * the two casts + divisions mirror the fan-out form bit for bit.
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

  override protected def nullSafeEval(prev: Any, cur: Any, unused: Any): Any = {
    val p = prev.asInstanceOf[ArrayData]
    val c = cur.asInstanceOf[ArrayData]
    val pn = p.numElements()
    val n = c.numElements()
    val w = wts
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("wts", wts, "long[]")
    nullSafeCodeGen(ctx, ev, (a, b, _) => {
      val pn = ctx.freshName("pn")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val jMax = ctx.freshName("jMax")
      val num = ctx.freshName("num")
      val den = ctx.freshName("den")
      val src = ctx.freshName("src")
      val v = ctx.freshName("v")
      s"""
         |int $pn = $a.numElements();
         |int $n = $b.numElements();
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $num = 0L;
         |  long $den = 0L;
         |  int $jMax = $wRef.length - 1;
         |  if ($jMax > $i + $pn) $jMax = $i + $pn;
         |  for (int $j = 0; $j <= $jMax; $j++) {
         |    int $src = $i - $j;
         |    long $v = $src >= 0 ? $b.getLong($src) : $a.getLong($pn + $src);
         |    $num += $wRef[$j] * $v;
         |    $den += $wRef[$j];
         |  }
         |  $out[$i] = (double) $num / (double) $den / 10000.0;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object EwmaKernel {
  /** `convolve(prev, cur, weights)` as a Column — see [[EwmaBlockConvolve]]. */
  def convolve(prev: Column, cur: Column, weights: Column): Column =
    column(EwmaBlockConvolve(expression(prev), expression(cur), expression(weights)))
}
