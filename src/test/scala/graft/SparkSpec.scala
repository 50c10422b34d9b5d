package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session for all suites (suites run in one forked JVM).
  * Each suite drains the persist ledger on exit — the test-side half of
  * the Persisted ownership contract (Verify per dump, Bench per pass,
  * suites here), so caches never accumulate across the 18 suites. */
trait SparkSpec extends BeforeAndAfterAll { this: Suite =>

  override def afterAll(): Unit = {
    graft.operators.Persisted.releaseAll(spark)
    super.afterAll()
  }
  lazy val spark: SparkSession = Harness.session(4)

  /** Smallest scale factor: fast, still exercises every operator. */
  val sf = "/root/testdata/sf0.001"

  def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** Run `f` with a session conf temporarily overridden (restored after). */
  def withConf[T](k: String, v: String)(f: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f
    finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None    => spark.conf.unset(k)
    }
  }

  /** Plan without AQE so `executedPlan` is the fully-prepared static plan
    * (exchanges inserted, codegen collapsed) instead of an opaque
    * AdaptiveSparkPlanExec leaf — build AND inspect the plan inside `f`.
    */
  def withoutAQE[T](f: => T): T = withConf("spark.sql.adaptive.enabled", "false")(f)
}
