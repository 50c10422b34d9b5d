package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** ScaleProbe's plan-shape walk must see through adaptive execution: an
  * AQE root is a leaf to Spark's tree API, so a plain `collect` over it
  * reads zero scans and zero exchanges for every query.
  */
class ScaleProbeSpec extends AnyFunSuite with SparkSpec {

  test("plan shape counts through the adaptive root and its query stages") {
    withConf("spark.sql.adaptive.enabled", "true") {
      val plan = q("q_agg_group").queryExecution.executedPlan
      assert(plan.isInstanceOf[AdaptiveSparkPlanExec],
        s"expected an adaptive root, got ${plan.nodeName}")
      val sh = ScaleProbe.shape(plan)
      assert(sh.scans > 0, s"no scans counted under AQE: $sh")
      assert(sh.exchanges > 0, s"no exchanges counted under AQE: $sh")
    }
  }
}
