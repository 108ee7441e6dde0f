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
  * dispatch — this expression runs inside whole-stage codegen as a tight
  * byte loop: the preference-order tier (b) custom operator, a scalar the
  * built-in function set can't express efficiently.
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

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[UTF8String].getBytes
    val y = b.asInstanceOf[UTF8String].getBytes
    val len = math.min(x.length, y.length)
    var i = 0
    var n = math.abs(x.length - y.length)
    while (i < len) { if (x(i) != y(i)) n += 1; i += 1 }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("xb")
      val y = ctx.freshName("yb")
      val i = ctx.freshName("i")
      val len = ctx.freshName("len")
      s"""
         |byte[] $x = $a.getBytes();
         |byte[] $y = $b.getBytes();
         |int $len = Math.min($x.length, $y.length);
         |${ev.value} = Math.abs($x.length - $y.length);
         |for (int $i = 0; $i < $len; $i++) {
         |  if ($x[$i] != $y[$i]) ${ev.value}++;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HammingDistance {

  /** Column-API form, built straight from the expression; the SQL name
    * `hamming_distance` comes from [[graft.GraftExtensions]].
    */
  def hamming(a: Column, b: Column): Column =
    column(HammingDistance(expression(a), expression(b)))
}
