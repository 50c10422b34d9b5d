package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark-internal handles the benchmark's tracer needs, reachable
  * only from inside the `org.apache.spark` package.
  */
object Internals {
  /** The QueryExecution whose run an end event reports (null for executions
    * Spark posts without one).
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  /** The execution's wall time in nanoseconds, as Spark measured it. */
  def durationNs(e: SparkListenerSQLExecutionEnd): Long = e.duration

  /** Block until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
