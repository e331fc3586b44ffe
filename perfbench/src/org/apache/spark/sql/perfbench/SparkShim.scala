package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the benchmark's tracing reads: draining the
  * listener bus, so counters read afterwards are complete, and the
  * query an SQL-execution-end event carries. Both are package-private
  * in Spark; this shim lives under `org.apache.spark.sql` to reach
  * them, as the library's own `org.apache.spark.sql.graft.Bridge`
  * does. */
object SparkShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
