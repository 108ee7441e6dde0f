package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hamming distance between two strings (byte-wise; length difference
  * counts as distance). Used for SimHash fingerprint comparison, where the
  * interpreted `aggregate(zip_with(split…))` formulation pays
  * per-character lambda dispatch — `hamming_distance` is Spark's
  * `StaticInvoke` of one compiled byte loop ([[distance]]), which
  * generated code and `eval` both call: a scalar the built-in function set
  * can't express efficiently.
  */
object HammingDistance {

  /** The kernel: differing bytes over the common prefix plus the length
    * difference. */
  def distance(a: UTF8String, b: UTF8String): Int = {
    val x = a.getBytes
    val y = b.getBytes
    val len = math.min(x.length, y.length)
    var i = 0
    var n = math.abs(x.length - y.length)
    while (i < len) { if (x(i) != y(i)) n += 1; i += 1 }
    n
  }

  private[graft] def hamming(a: Expression, b: Expression): Expression =
    StaticInvoke(HammingDistance.getClass, IntegerType, "distance", Seq(a, b),
      Seq(StringType, StringType), returnNullable = false)

  /** Column-API form, built straight from the expression; the SQL name
    * `hamming_distance` comes from [[graft.GraftExtensions]].
    */
  def hamming(a: Column, b: Column): Column = column(hamming(expression(a), expression(b)))
}
