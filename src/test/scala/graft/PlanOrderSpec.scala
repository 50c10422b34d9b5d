package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TopKPerKeyExec

/** A query's plan must not depend on what ran before it. The session is a
  * `newSession()`, which stands in for one a `SparkEntry` caller built
  * itself: the only install it gets is the one every `SparkEntry` query
  * function performs before its body runs.
  */
class PlanOrderSpec extends AnyFunSuite with SparkSpec {

  /** Keys q_topk_auto's rewrite used to reach only when it ran first,
    * q_topk_group (keeps its rank column, so it must stay a window) and
    * q_mv_rewrite (registers a rollup). */
  private val sample = Seq("q_dedup_minhash", "q_inverted_index",
    "q_vocab_drift", "q_topk_group", "q_mv_rewrite")

  test("plans and planner extensions do not depend on query order") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    var planner: Option[(Seq[Any], Seq[Any])] = None
    def build(n: String): (Harness.PlanShape, Int) = try {
      val plan = SparkEntry.queries(n)(s, sf).queryExecution.executedPlan
      val now = (s.experimental.extraStrategies, s.experimental.extraOptimizations)
      planner.foreach(p => assert(p == now, s"$n changed the planner: $p -> $now"))
      planner = Some(now)
      (Harness.shape(plan), plan.collect { case t: TopKPerKeyExec => t }.size)
    } finally Harness.release(s)

    val before = sample.map(n => n -> build(n)).toMap
    build("q_topk_auto")
    val after = sample.reverse.map(n => n -> build(n)).toMap
    val moved = sample.filter(n => before(n) != after(n))
      .map(n => s"$n: ${before(n)} -> ${after(n)}")
    assert(moved.isEmpty, s"plans moved with query order: ${moved.mkString("; ")}")
    assert(before("q_topk_group")._2 == 0,
      "the rewrite fired on a query that keeps its rank column")
  }
}
