package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Σ (aᵢ−bᵢ)² — squared Euclidean distance, the PQ/ANN hot kernel.
  *
  * EXACT drop-in for the interpreted formulation it replaces
  * (`aggregate(zip_with(a, b, (x,y) => (x−y)·(x−y)), 0.0, _+_)`),
  * including its null semantics — which differ from `dot_product`'s
  * skip-null convention: zip_with pads a shorter array with nulls and a
  * null term POISONS the fold, so mismatched lengths or any null element
  * yield NULL here, never a silently-partial distance. Ascending-index
  * accumulation from 0.0 — bit-identical IEEE sequence to the fold and
  * to the DuckDB twins' ordered `list_sum(list_transform(...))`.
  *
  * Generated code hands the kernel a one-slot buffer that lives in the
  * generated class, so a row allocates nothing.
  */
case class SquaredL2(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "squared_l2"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<double>, array<double>), got ($l, $r)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val out = new Array[Double](1)
    if (ArrayKernels.squaredL2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], out)) out(0)
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val out = ctx.addMutableState("double[]", "l2sq", v => s"$v = new double[1];")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.isNull} = !graft.functions.ArrayKernels.squaredL2($a, $b, $out); " +
        s"${ev.value} = $out[0];")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The loops of `dot_product`, `cosine_similarity` and [[SquaredL2]]:
  * interpreted `eval` and generated code both call these. */
object ArrayKernels {

  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = x.getDouble(i); val yv = y.getDouble(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
      }
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Σ (xᵢ−yᵢ)² into `out(0)`; false (the result is NULL) when the lengths
    * differ or an element is NULL. */
  def squaredL2(x: ArrayData, y: ArrayData, out: Array[Double]): Boolean = {
    val n = x.numElements()
    if (y.numElements() != n) return false
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return false
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    out(0) = acc
    true
  }
}

/** Native vector math over `array<double>` columns. The `zip_with` +
  * `aggregate` formulation is interpreted (per-element lambda dispatch
  * through NamedLambdaVariable); these run one compiled primitive loop per
  * row ([[ArrayKernels]]), which whole-stage codegen calls like `eval`
  * does. `dot` and `cosine` are Spark's own `StaticInvoke` of their kernel.
  * Element order is ascending-index (fold-left), matching both the
  * interpreted formulation and DuckDB's list functions — results are
  * bit-identical to what they replace.
  */
object ArrayMath {
  private val vec = ArrayType(DoubleType)

  /** Σ aᵢ·bᵢ over the common prefix; null elements contribute 0. */
  private[graft] def dot(a: Expression, b: Expression): Expression =
    StaticInvoke(ArrayKernels.getClass, DoubleType, "dot", Seq(a, b), Seq(vec, vec),
      returnNullable = false)

  def dot(a: Column, b: Column): Column = column(dot(expression(a), expression(b)))

  /** dot(a,b) / (‖a‖·‖b‖), single pass. */
  private[graft] def cosine(a: Expression, b: Expression): Expression =
    StaticInvoke(ArrayKernels.getClass, DoubleType, "cosine", Seq(a, b), Seq(vec, vec),
      returnNullable = false)

  def cosine(a: Column, b: Column): Column = column(cosine(expression(a), expression(b)))

  def l2sq(a: Column, b: Column): Column = column(SquaredL2(expression(a), expression(b)))
}
