package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** The measurement harness every main, `Context.local` and the test
  * sessions share: one session factory, one cache release, one timed
  * noop-sink pass and one plan-shape walk.
  */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, or the host's core count when unset. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one place a session is built: `local[cores]`, shuffle partitions =
    * cores, UTC session time, `nanosAsLong` (events.parquet carries
    * TIMESTAMP(NANOS)), UI off, WARN logging, and the engine's planner
    * extensions (`Context.install`). `extraConf` is applied last, so it
    * can override a standard conf.
    */
  def session(cores: Int, extraConf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Context.install(spark)
    spark
  }

  /** Drop everything a query body left cached: the persist ledger releases
    * exactly what the body registered, the rollup registry is emptied, and
    * clearCache backstops anything cached outside the tracked path.
    */
  def release(spark: SparkSession): Unit = {
    graft.operators.Persisted.releaseAll(spark)
    graft.plans.RollupRewrite.clear(spark)
    spark.catalog.clearCache()
  }

  /** Seconds to build `body` and execute it into the noop sink (which runs
    * the full plan, where count() would let Catalyst prune projections).
    * `release` runs after the timed span, also when the body throws.
    */
  def timedPass(spark: SparkSession)(body: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      body.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally release(spark)
  }

  final case class PlanShape(exchanges: Int, broadcasts: Int, sorts: Int,
                             scans: Int, codegen: Int, windows: Int,
                             globalWindows: Int, cartesians: Int,
                             nestedLoops: Int) {
    def json: String =
      s"""{"exchanges":$exchanges,"broadcasts":$broadcasts,""" +
        s""""sorts":$sorts,"scans":$scans,"codegen_spans":$codegen,""" +
        s""""windows":$windows,"global_windows":$globalWindows,""" +
        s""""cartesians":$cartesians,"nested_loops":$nestedLoops}"""
  }

  /** Every operator of `plan` as it runs. An AQE root is a leaf to Spark's
    * tree API (a plain `collect` over it counts nothing), so descend into
    * its FINAL plan — which materializes the query stages — and into each
    * query stage's exchange. A reused exchange stays a leaf: it ran once,
    * where it was first planned. Without AQE this is exactly `collect`.
    */
  private[graft] def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.finalPhysicalPlan)
    case q: QueryStageExec => nodes(q.plan)
    case p => p +: p.children.flatMap(nodes)
  }

  def shape(plan: SparkPlan): PlanShape = {
    val ns = nodes(plan)
    PlanShape(
      exchanges = ns.count(_.isInstanceOf[ShuffleExchangeExec]),
      broadcasts = ns.count(_.isInstanceOf[BroadcastExchangeExec]),
      sorts = ns.count(_.isInstanceOf[SortExec]),
      scans = ns.count(_.isInstanceOf[FileSourceScanExec]),
      codegen = ns.count(_.isInstanceOf[WholeStageCodegenExec]),
      windows = ns.count(_.isInstanceOf[WindowExec]),
      globalWindows = ns.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      },
      cartesians = ns.count(_.isInstanceOf[CartesianProductExec]),
      nestedLoops = ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }
}
