package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4's public `Column` wraps a ColumnNode
  * and the conversion utilities are `private[sql]`, so libraries registering
  * custom Catalyst expressions place this shim inside the sql package
  * namespace — the conventional extension-point pattern.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan (e.g. graft.plans.TopKPerKey) back into a
    * DataFrame — the plan-level twin of `column`.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The QueryExecution an end event reports (null if Spark posted none). */
  def queryExecution(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : org.apache.spark.sql.execution.QueryExecution = e.qe

  /** Block until every posted listener event has been delivered. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
