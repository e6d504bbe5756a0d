package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two engine internals the traced run reads: the listener bus drains
  * asynchronously, and an execution-end event carries its query.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
