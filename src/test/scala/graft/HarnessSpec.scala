package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Persisted
import graft.plans.RollupRewrite

/** The shared measurement harness: the session factory's standard confs,
  * the release contract every runner relies on between queries, and the
  * AQE-aware plan-shape walk.
  */
class HarnessSpec extends AnyFunSuite with SparkSpec {

  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  private def assertReleased(): Unit = {
    assert(Persisted.pending(spark) == 0, "ledgered frames left behind")
    assert(RollupRewrite.registered(spark) == 0, "rollups left registered")
    assert(cacheEmpty, "cached data left behind")
  }

  test("session applies the standard confs, shuffle partitions = cores") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("release drops the body's persists, rollups and cache") {
    // q_mv_rewrite persists a rollup frame and registers it for navigation
    q("q_mv_rewrite")
    assert(Persisted.pending(spark) > 0 && RollupRewrite.registered(spark) > 0
      && !cacheEmpty, "q_mv_rewrite no longer persists and registers a rollup")
    Harness.release(spark)
    assertReleased()
  }

  test("timedPass releases even when the body throws") {
    val e = intercept[IllegalStateException] {
      Harness.timedPass(spark) {
        q("q_mv_rewrite")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assertReleased()
  }

  test("plan shape counts through the adaptive root and its query stages") {
    withConf("spark.sql.adaptive.enabled", "true") {
      val plan = q("q_agg_group").queryExecution.executedPlan
      assert(plan.isInstanceOf[AdaptiveSparkPlanExec],
        s"expected an adaptive root, got ${plan.nodeName}")
      val sh = Harness.shape(plan)
      assert(sh.scans > 0, s"no scans counted under AQE: $sh")
      assert(sh.exchanges > 0, s"no exchanges counted under AQE: $sh")
    }
  }
}
