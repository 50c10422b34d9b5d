package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Sort a small input in one partition. Spark plans every global ORDER BY
  * without LIMIT as a range exchange: a RangePartitioner sampling job and a
  * shuffle map job, which AQE's `CoalesceShufflePartitions` then reads back
  * as one partition whenever the input is small. For such an input this
  * strategy plans `SortExec(global) ← CoalesceExec(1)` instead: the
  * coalesce reports `SinglePartition`, so `EnsureRequirements` adds no
  * exchange, and the sort runs in the one task the coalesced read would
  * have given it. The reference answers ORDER BY with one in-memory sort.
  *
  * "Small" is Spark's own coalescing rule, so no conf of ours decides it:
  * the input reads as one partition when its size is at most
  * `coalescePartitions.minPartitionSize` while `parallelismFirst` is on
  * (Spark's default), or `advisoryPartitionSizeInBytes` when it is off.
  * Streaming plans keep Spark's sort.
  *
  * AQE re-plans through the session planner after every stage, so the
  * size is the static estimate on the first plan and the finished stage's
  * runtime size afterwards: a sort over an aggregate whose shuffle has run
  * fires then. With AQE off the static estimate decides alone. A join
  * keeps its range sort, because without CBO its estimate is the product
  * of its sides.
  */
object SmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !plan.isStreaming &&
        child.stats.sizeInBytes <= onePartitionBytes(plan.conf) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  /** The largest shuffle input AQE coalesces to a single partition. */
  private def onePartitionBytes(conf: SQLConf): Long =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
}
