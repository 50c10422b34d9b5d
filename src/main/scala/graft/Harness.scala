package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.graftx.Bridge

/** The measurement harness every main, `Context.local` and the test
  * sessions share: one session factory, one cache release, one measured
  * noop-sink pass with its listener, and one plan-shape walk.
  */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, or the host's core count when unset. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one place a session is built: `local[cores]`, shuffle partitions =
    * cores, UTC session time, `nanosAsLong` (events.parquet carries
    * TIMESTAMP(NANOS)), UI off, WARN logging, and `Context.install`: the
    * engine's planner extensions, and a generated-class cache sized for
    * its working set with stage ids kept out of class names. `extraConf`
    * is applied last, so it can override a standard conf, the two codegen
    * confs `install` fills in among them (the cache size only in a JVM
    * that has not compiled generated code yet).
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

  /** What the [[Meter]] counted over one span. `critS` is Σ over stage
    * attempts of the slowest task's duration (≤ `taskS`): the wall the
    * tasks need however many cores there are. `planS`: optimization +
    * planning phases of each SQL execution's own `QueryExecution.tracker`.
    * `compiles`/`compileS`: codegen cache misses, JVM-wide (tasks' too).
    */
  final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      taskS: Double = 0, cpuS: Double = 0, critS: Double = 0, gcS: Double = 0,
      shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
      spillBytes: Long = 0, inputRows: Long = 0, planS: Double = 0,
      compiles: Long = 0, compileS: Double = 0)

  /** The engine's one SparkListener: it counts until [[take]] reads and
    * resets it. Events are not filtered by job group, so meter one runner
    * at a time.
    */
  final class Meter private[Harness] (sc: org.apache.spark.SparkContext)
      extends SparkListener {
    private var c = Counts()
    /** slowest task per (stage, attempt) */
    private val slowest = scala.collection.mutable.Map.empty[(Int, Int), Long]
    private var compiles0 = compiles
    sc.addSparkListener(this) // last: the bus may call in at once

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { c = c.copy(jobs = c.jobs + 1) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { c = c.copy(stages = c.stages + 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val d = Option(e.taskInfo).fold(0L)(_.duration)
      val k = (e.stageId, e.stageAttemptId)
      slowest(k) = math.max(slowest.getOrElse(k, 0L), d)
      c = c.copy(tasks = c.tasks + 1, taskS = c.taskS + d / 1e3)
      Option(e.taskMetrics).foreach { m =>
        c = c.copy(cpuS = c.cpuS + m.executorCpuTime / 1e9,
          gcS = c.gcS + m.jvmGCTime / 1e3,
          shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
          inputRows = c.inputRows + m.inputMetrics.recordsRead)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(Bridge.queryExecution(end)).foreach { qe =>
          val ms = Seq("optimization", "planning").flatMap(qe.tracker.phases.get)
            .map(_.durationMs).sum
          synchronized { c = c.copy(planS = c.planS + ms / 1e3) }
        }
      case _ =>
    }

    /** Wait for the listener bus, then return what was counted since the
      * last `take` (or the attach) and start afresh. */
    def take(): Counts = {
      Bridge.drainListeners(sc)
      val now = compiles
      synchronized {
        val out = c.copy(critS = slowest.values.sum / 1e3,
          compiles = now._1 - compiles0._1, compileS = now._2 - compiles0._2)
        c = Counts(); slowest.clear(); compiles0 = now
        out
      }
    }

    def detach(): Unit = sc.removeSparkListener(this)
  }

  /** A new [[Meter]] registered on `spark`'s context. */
  def meter(spark: SparkSession): Meter = new Meter(spark.sparkContext)

  /** Codegen compiles so far, and their seconds (Spark's running total:
    * the compile-time histogram's mean decays, so mean·count can fall). */
  private def compiles: (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e9)

  /** `buildS`: the body's DataFrame construction, including any eager job
    * it runs; `execS`: the noop-sink execution; `build`/`exec`: what a
    * meter counted in each span. */
  final case class Pass(buildS: Double, execS: Double, build: Counts,
                        exec: Counts) {
    def totalS: Double = buildS + execS
  }

  /** Build `body`, then execute it into the noop sink (which runs the full
    * plan, where count() would let Catalyst prune projections), timing the
    * two apart. The meter is taken around each span, outside the timed
    * walls, so a span's counts hold its own events and none of earlier
    * work's. `release` runs after the pass, also when the body throws.
    */
  def measuredPass(spark: SparkSession, meter: Option[Meter])
                  (body: => DataFrame): Pass = {
    def take(): Counts = meter.fold(Counts())(_.take())
    try {
      take()
      val t0 = System.nanoTime()
      val df = body
      val buildS = (System.nanoTime() - t0) / 1e9
      val build = take()
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val execS = (System.nanoTime() - t1) / 1e9
      Pass(buildS, execS, build, take())
    } finally release(spark)
  }

  /** Seconds to build `body` and execute it into the noop sink: the total
    * of an unmetered [[measuredPass]]. */
  def timedPass(spark: SparkSession)(body: => DataFrame): Double =
    measuredPass(spark, None)(body).totalS

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
