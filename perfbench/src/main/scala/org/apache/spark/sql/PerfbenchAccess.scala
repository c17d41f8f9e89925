package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the traced pass reads, which Spark keeps
  * package-private: the listener bus (to wait for every posted event to
  * be delivered) and the query execution an execution-end event carries. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

  def durationNs(e: SparkListenerSQLExecutionEnd): Long = e.duration
}
