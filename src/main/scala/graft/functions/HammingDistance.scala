package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Hamming distance between two strings
  * (byte-wise; length difference counts as distance). Used for SimHash
  * fingerprint comparison, where the interpreted
  * `aggregate(zip_with(split…))` formulation pays per-character lambda
  * dispatch — this expression's generated code calls one compiled byte
  * loop ([[HammingDistance.distance]]): the preference-order tier (b)
  * custom operator, a scalar the built-in function set can't express
  * efficiently.
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hamming_distance"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string), got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HammingDistance.distance(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HammingDistance.distance($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HammingDistance {

  /** The kernel `eval` and generated code call: differing bytes over the
    * common prefix plus the length difference. */
  def distance(a: UTF8String, b: UTF8String): Int = {
    val x = a.getBytes
    val y = b.getBytes
    val len = math.min(x.length, y.length)
    var i = 0
    var n = math.abs(x.length - y.length)
    while (i < len) { if (x(i) != y(i)) n += 1; i += 1 }
    n
  }

  /** Column-API form, built straight from the expression; the SQL name
    * `hamming_distance` comes from [[graft.GraftExtensions]].
    */
  def hamming(a: Column, b: Column): Column =
    column(HammingDistance(expression(a), expression(b)))
}
