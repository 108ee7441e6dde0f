package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Nearest-codebook-entry assignment for one PQ subspace — tier-(b)
  * custom Catalyst expression (guide §4).
  *
  * EXACT drop-in for the `array_min(array(struct(l2sqFold, code)…))`
  * composite it replaces in [[graft.llm.ProductQuant.assign]]: for each
  * candidate (code, centroid) it evaluates the identical ascending-index
  * IEEE fold `Σ (vec[offset+i] − cᵢ)²` over the subspace window and
  * returns the argmin code under Spark's struct ordering — strict
  * distance minimum, ties toward the LOWEST code, NaN greater than every
  * double (nanSafeCompareDoubles: all-NaN also ties to the lowest code).
  * The composite's degenerate branches are preserved too: a NULL vector,
  * a window running past the vector's end (zip_with pads the short side
  * with nulls) or a NULL element inside the window all poison EVERY
  * candidate's fold to NULL, and the struct min then falls through to
  * the lowest code id — never a NULL result.
  *
  * Why it exists instead of the composite: with m·k candidate folds
  * inlined per row the interpreted HOF dispatches per element, while the
  * unrolled compiled form (m·k kernel calls in one generated method)
  * left the JIT-compilable envelope and ran 4–12× SLOWER (r16 §18). This
  * expression is the third shape: ONE call per (row, subspace) looping
  * over a driver-held codebook reference — compact generated code, no
  * per-candidate allocation, no slice materialization.
  *
  * The codebook rides as constructor state (model artifact, driver-sized
  * by the PQ contract), not as child expressions — serialized with the
  * expression, embedded via `addReferenceObj` in codegen.
  */
case class PqNearestCode(
    child: Expression,
    cents: Array[Array[Double]],
    codes: Array[Int],
    offset: Int) extends UnaryExpression {
  require(cents.nonEmpty && cents.length == codes.length,
    "pq_nearest_code: need one centroid per code, at least one candidate")
  require(cents.forall(_.length == cents(0).length) && cents(0).length >= 1,
    "pq_nearest_code: centroids must share one positive sub-dimension")
  require(offset >= 0, "pq_nearest_code: offset must be >= 0")

  override def prettyName: String = s"pq_nearest_code_off$offset"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got $other")
  }

  // candidates in ascending code order so keep-first-on-tie IS the struct
  // min's lowest-code tie-break, independent of the caller's ordering
  @transient private lazy val ord: Array[Int] =
    codes.indices.sortBy(codes(_)).toArray
  @transient private lazy val sortedCents: Array[Array[Double]] =
    ord.map(cents(_))
  @transient private lazy val sortedCodes: Array[Int] = ord.map(codes(_))

  /** The whole-row kernel, shared by eval and codegen (one virtual call
    * per row — the loop body is what matters).
    */
  def nearest(vec: ArrayData): Int = {
    val cs = sortedCents
    val sub = cs(0).length
    if (vec == null || vec.numElements() < offset + sub)
      return sortedCodes(0)
    var i = 0
    while (i < sub) {
      if (vec.isNullAt(offset + i)) return sortedCodes(0)
      i += 1
    }
    var bestIx = 0
    var best = Double.NaN
    var k = 0
    while (k < cs.length) {
      val c = cs(k)
      var acc = 0.0
      var j = 0
      while (j < sub) {
        val d = vec.getDouble(offset + j) - c(j)
        acc += d * d
        j += 1
      }
      if (k == 0) best = acc
      else {
        // nanSafeCompareDoubles semantics: NaN > every double, NaN == NaN,
        // ±0.0 equal; equal keeps the earlier (lower) code
        val better =
          if (java.lang.Double.isNaN(best)) !java.lang.Double.isNaN(acc)
          else acc < best
        if (better) { best = acc; bestIx = k }
      }
      k += 1
    }
    sortedCodes(bestIx)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    nearest(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val self = ctx.addReferenceObj("pqNearest", this, classOf[PqNearestCode].getName)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        |${c.code}
        |int ${ev.value} = $self.nearest(${c.isNull} ? null : ${c.value});
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqKernels {
  /** Column builder: argmin code of `vec[offset ..< offset+subDim]`
    * against the (code, centroid) candidates.
    */
  def nearestCode(vec: Column, candidates: Seq[(Int, Seq[Double])],
      offset: Int): Column =
    column(PqNearestCode(
      expression(vec),
      candidates.map(_._2.toArray).toArray,
      candidates.map(_._1).toArray,
      offset))
}
