package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Persisted
import graft.plans.RollupRewrite

/** The shared measurement harness: the session factory's standard confs,
  * the release contract every runner relies on between queries, the
  * metered pass's spans, and the AQE-aware plan-shape walk.
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

  private def metered(body: => org.apache.spark.sql.DataFrame): Harness.Pass = {
    val m = Harness.meter(spark)
    try Harness.measuredPass(spark, Some(m))(body)
    finally m.detach()
  }

  test("a single-task stage is critical path, not scheduler time") {
    // a stage that runs one task keeps every other core idle: its wall is
    // the critical path, which `exec - Σtask/cores` would charge to the
    // scheduler
    val cores = spark.sparkContext.defaultParallelism
    // one range partition: the scan and partial aggregate run as one task
    val c = metered(spark.range(0L, 10000000L, 1L, 1)
      .selectExpr("sum(hash(id)) AS h")).exec
    assert(c.tasks > 0 && c.taskS > 0, c)
    assert(c.critS >= c.taskS / cores, c)
    assert(c.critS <= c.taskS, c)
  }

  test("a body's eager job is booked in the build span, not the execution's") {
    def result(n: Long) = spark.range(0L, n, 1L, 2).selectExpr("sum(id) AS s")
    val plain = metered(result(1000L))
    val eager = metered {
      val n = spark.range(0L, 1000L, 1L, 2).count()
      result(n)
    }
    assert(plain.build.jobs == 0, plain)
    assert(eager.build.jobs > 0, eager)
    // the execution span counts the sink's jobs only
    assert(plain.exec.jobs > 0, plain)
    assert(eager.exec.jobs == plain.exec.jobs, eager)
    assert(eager.exec.tasks == plain.exec.tasks, eager)
  }

  test("a warm round of text_vector's keys compiles no generated class") {
    // the three keys compile ~155 classes a pass: a 100-entry cache, or
    // class names carrying AQE stage ids, recompile them every round
    val keys = Seq("q_minhash_rollup", "q_ann_pq", "q_dedup_minhash")
    val rounds = (1 to 2).map(_ => keys.map { k =>
      val p = metered(q(k))
      k -> (p.build.compiles + p.exec.compiles)
    })
    val recompiled = rounds(1).filter(_._2 > 0)
    assert(recompiled.isEmpty, s"(round 2's compiles; round 1: ${rounds(0)})")
    // the meter does see compiles: an inlined literal no query used before
    // makes a body the cache has never held
    val fresh = metered(spark.range(1).selectExpr(s"id + ${System.nanoTime} AS x"))
    assert(fresh.exec.compiles > 0, fresh)
  }

  test("install keeps explicit confs and fills in unset ones") {
    val (size, ids, explain) = ("spark.sql.codegen.cache.maxEntries",
      "spark.sql.codegen.useIdInClassName", "spark.sql.ui.explainMode")
    val explicit = spark.newSession()
    explicit.sessionState.conf.setConfString(size, "64")
    explicit.sessionState.conf.setConfString(ids, "true")
    explicit.sessionState.conf.setConfString(explain, "formatted")
    Context.install(explicit)
    assert(explicit.conf.get(size) == "64")
    assert(explicit.conf.get(ids) == "true")
    assert(explicit.conf.get(explain) == "formatted")
    val unset = spark.newSession()
    Context.install(unset)
    assert(unset.conf.get(size) == Context.CodegenCacheEntries.toString)
    assert(unset.conf.get(ids) == "false")
    assert(unset.conf.get(explain) == "simple")
  }

  test("a table's second load in a session lists no files and gets fresh ids") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED
    val fresh = spark.newSession()
    val c0 = METRIC_FILES_DISCOVERED.getCount
    val a = Tables(fresh, sf, "nation")
    val c1 = METRIC_FILES_DISCOVERED.getCount
    assert(c1 > c0, "the first load discovered no files")
    val b = Tables(fresh, sf, "nation")
    assert(METRIC_FILES_DISCOVERED.getCount == c1, "the second load listed again")
    val ids = Seq(a, b).map(_.queryExecution.analyzed.output.map(_.exprId).toSet)
    assert(ids(0).intersect(ids(1)).isEmpty, ids)
    // a self-join of the two loads matches each key once
    assert(a.join(b, a("n_nationkey") === b("n_nationkey")).count() == a.count())
  }
}
