package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Operator counts of a physical plan as it ran.
  *
  * Under adaptive execution the root is an `AdaptiveSparkPlanExec`, which
  * Spark's tree API treats as a leaf: `plan.collect` over it finds nothing,
  * so every count reads zero. [[nodes]] descends into the adaptive node's
  * final plan, into the exchange each query stage materialised, into the
  * physical plan a command ran, and into subquery plans.
  */
object PlanShape {
  final case class Counts(exchanges: Int, broadcasts: Int, codegenStages: Int) {
    def +(o: Counts): Counts = Counts(exchanges + o.exchanges,
      broadcasts + o.broadcasts, codegenStages + o.codegenStages)
  }
  val Zero: Counts = Counts(0, 0, 0)

  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val out = ArrayBuffer.empty[SparkPlan]
    def go(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case s: QueryStageExec => go(s.plan)
      case _: ReusedExchangeExec => () // ran once, where it was first planned
      case c: CommandResultExec => go(c.commandPhysicalPlan)
      case _ =>
        out += p
        p.children.foreach(go)
        p.subqueries.foreach(go)
    }
    go(root)
    out.toSeq
  }

  private def count(ns: Seq[SparkPlan]): Counts = Counts(
    ns.count(_.isInstanceOf[ShuffleExchangeLike]),
    ns.count(_.isInstanceOf[BroadcastExchangeLike]),
    ns.count(_.isInstanceOf[WholeStageCodegenExec]))

  def of(root: SparkPlan): Counts = count(nodes(root))

  /** The plain tree walk that stops at the adaptive leaf — kept so the
    * self-test can show the difference.
    */
  def naive(root: SparkPlan): Counts = count(root.collect { case p => p })
}
