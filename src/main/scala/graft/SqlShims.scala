package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Minimal `private[sql]` bridge (the standard Spark-extension pattern):
  * most graft expressions reach Column-land through the function registry
  * (`RegisterOnce` + `call_function`), but an expression carrying a runtime
  * handle that SQL cannot express — e.g. a `Broadcast[Array[Byte]]` in
  * [[graft.functions.BloomMightContainBroadcast]] — needs direct
  * Expression↔Column conversion, which Spark 4 gates behind
  * `private[sql] classic.ExpressionUtils`. `graft.tools.Profile` also reads
  * two package-private engine internals through it: the listener bus (to
  * wait until every posted event is delivered) and the query execution an
  * execution-end event carries (for its planning phases).
  */
object GraftSqlShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
