package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftx.Bridge

/** Mid-band cost census (r16 verdict item 7): for each named query,
  * decompose wall time into
  *
  *   - `build_s`: DataFrame construction (logical plan assembly; includes
  *     any eager materialization a body does at construction time),
  *   - `plan_s`: analysis → executedPlan preparation (optimizer +
  *     physical planning + codegen collapse) on a fresh copy,
  *   - `exec_s`: the noop-sink execution wall (median of 3 warm passes),
  *   - `task_s`: Σ executor task durations inside that execution,
  *   - `crit_s`: the critical path — Σ over stages of the stage's slowest
  *     task, the wall the tasks need however many cores there are,
  *   - `tasks`/`stages`/`jobs`: scheduling volume,
  *   - `sched_s`: exec_s − crit_s — the wall spent off the critical path:
  *     scheduler latency, stage barriers, driver-side codegen/broadcast
  *     waits. (exec_s − task_s/cores would charge an under-parallelised
  *     stage, e.g. 6 tasks on 32 cores, to the scheduler.) For a 1–2 s
  *     query, sched_s ≈ exec_s means the key is fixed-cost-bound (a
  *     bench-scale artifact, not a 100 TB problem); task-bound keys are
  *     the real optimization candidates.
  *
  * `runMain graft.MidbandCensus <sfDir> <outPath> <query...>` — the key
  * list comes from the caller (the round's BENCH_FULL mins band), so the
  * census never hardcodes a cost model.
  */
object MidbandCensus {

  private class Acc extends SparkListener {
    private var taskMs = 0L
    private var tasks = 0L
    private var stages = 0L
    private var jobs = 0L
    /** slowest task per (stage, attempt) */
    private val slowest = scala.collection.mutable.Map.empty[(Int, Int), Long]
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (t.taskInfo != null) {
        val d = t.taskInfo.duration
        taskMs += d; tasks += 1
        val k = (t.stageId, t.stageAttemptId)
        slowest(k) = math.max(slowest.getOrElse(k, 0L), d)
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    def reset(): Unit = synchronized {
      taskMs = 0; tasks = 0; stages = 0; jobs = 0; slowest.clear()
    }
    def cost(buildS: Double, planS: Double, execS: Double): Cost =
      synchronized {
        Cost(buildS, planS, execS, taskMs / 1e3, slowest.values.sum / 1e3,
          tasks, stages, jobs)
      }
  }

  final case class Cost(buildS: Double, planS: Double, execS: Double,
                        taskS: Double, critS: Double, tasks: Long,
                        stages: Long, jobs: Long) {
    def schedS: Double = execS - critS
    def json(name: String): String =
      f"""{"q":"$name","build_s":$buildS%.3f,"plan_s":$planS%.3f,""" +
        f""""exec_s":$execS%.3f,"task_s":$taskS%.3f,"tasks":$tasks,""" +
        f""""stages":$stages,"jobs":$jobs,"crit_s":$critS%.3f,""" +
        f""""sched_s":$schedS%.3f}"""
  }

  /** Warm pass, then build and plan times, then the median of 3 timed
    * noop passes with that pass's listener counters. */
  def measure(spark: SparkSession, build: () => DataFrame): Cost = {
    val sc = spark.sparkContext
    val acc = new Acc
    sc.addSparkListener(acc)
    try {
      Harness.timedPass(spark)(build()) // warm (JIT, page cache, codegen cache)
      // build: logical assembly incl. any eager work the body does
      val tb0 = System.nanoTime()
      val df = build()
      val buildS = (System.nanoTime() - tb0) / 1e9
      // plan: force the prepared physical plan on the built frame
      val tp0 = System.nanoTime()
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan
      val planS = (System.nanoTime() - tp0) / 1e9
      Harness.release(spark)
      // listener events arrive asynchronously: drain around each pass so
      // its counters hold all of its own events and none of earlier work's
      val passes = (1 to 3).map { _ =>
        Bridge.drainListeners(sc)
        acc.reset()
        val wall = Harness.timedPass(spark)(build())
        Bridge.drainListeners(sc)
        acc.cost(buildS, planS, wall)
      }.sortBy(_.execS)
      passes(1)
    } finally sc.removeSparkListener(acc)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: MidbandCensus <sfDir> <outPath> <query...>")
      sys.exit(2)
    }
    val (sfDir, outPath) = (args(0), args(1))
    val names = args.drop(2).toSeq
    val cpus = Harness.cores
    val spark = Harness.session(cpus)
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    val rows = names.filter(all.contains).map { name =>
      spark.sparkContext.setJobDescription(s"midband: $name")
      measure(spark, () => all(name)(spark, sfDir)).json(name)
    }
    val json = s"""{"cpus":$cpus,"sf":"$sfDir","rows":[${rows.mkString(",\n")}]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    println(s"[midband] wrote ${rows.size} rows to $outPath")
    spark.stop()
  }
}
