package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Minimal `private[sql]` bridge (the standard Spark-extension pattern).
  * Every Column helper in `graft.functions` builds its Catalyst expression
  * directly and wraps it with [[column]]; [[expression]] unwraps a helper's
  * Column arguments. Spark 4 gates this Expression↔Column conversion behind
  * `private[sql] classic.ExpressionUtils`. Built this way, a helper needs no
  * function registry, so it works on a frame of any session; an expression
  * carrying a runtime handle SQL cannot express (the `Broadcast[Array[Byte]]`
  * of [[graft.functions.BloomMightContainBroadcast]]) has no other way in.
  * `graft.tools.Profile` also reads two package-private engine internals
  * through it: the listener bus (to wait until every posted event is
  * delivered) and the query execution an execution-end event carries (for
  * its planning phases).
  */
object GraftSqlShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
