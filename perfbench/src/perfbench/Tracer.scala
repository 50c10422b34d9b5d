package perfbench

import java.io.{BufferedWriter, FileWriter}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Internals

/** Spans and per-operation counters for the benchmark's client calls.
  *
  * The client thread opens one span per operation and one per call into a
  * layer (`sql`, `plan`, `render`, `sink`, `ddl`, `build`, `noop_sink`,
  * `release`). Every job Spark runs for an operation carries the job group
  * `op-<id>`; the registered SparkListener turns the operation's SQL
  * executions, jobs, stages and tasks into child spans, and each one is
  * hung under the innermost client span that contains it in time. Spans stay
  * in memory until [[finish]] writes them out.
  *
  * With `listening = false` (an untraced run) the client calls are the same
  * — the job group is still set — but nothing is recorded and no listener is
  * registered.
  */
final class Tracer(sc: SparkContext, val listening: Boolean) extends SparkListener {
  import Tracer._

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nanoOf(ms: Long): Long = ms * 1000000L - epochOffsetNs

  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }

  // client side (one thread)
  private val clientSpans = ArrayBuffer.empty[Span]
  private val stats = mutable.LinkedHashMap.empty[Long, OpStats]
  private var op = 0L
  private var opSpan = 0L
  private var recording = false

  // listener side, read by finish() after the bus is drained
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val tracedOps = mutable.Set.empty[Long]

  if (listening) sc.addSparkListener(this)

  /** Run one operation; `traced` ops are recorded (only when listening).
    * Returns the operation's wall time in nanoseconds.
    */
  def operation(id: Long, name: String, traced: Boolean)(body: => Unit): Long = {
    op = id
    recording = listening && traced
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    val st = if (recording) {
      synchronized(tracedOps += id)
      val s = new OpStats(name)
      stats(id) = s
      s.compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      s.compileMs0 = compileMsTotal()
      s
    } else null
    opSpan = if (recording) newId() else 0L
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.clearJobGroup()
      if (st != null) {
        clientSpans += Span(opSpan, 0L, id, "op", t0, t1)
        st.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - st.compiles0
        st.compileMs = compileMsTotal() - st.compileMs0
      }
      recording = false
    }
    System.nanoTime() - t0
  }

  /** A call into one layer, inside the current operation. */
  def span[T](name: String)(body: => T): T = {
    if (!recording) return body
    val id = newId()
    val t0 = System.nanoTime()
    try body
    finally clientSpans += Span(id, opSpan, op, name, t0, System.nanoTime())
  }

  /** Add to a named per-operation counter (no-op when not recording). */
  def count(name: String, v: Long): Unit =
    if (recording) stats(op).extra(name) = stats(op).extra.getOrElse(name, 0L) + v

  // ---------------------------------------------------------------- listener

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      opOf(s.jobGroupId.orNull).foreach { o =>
        val root = s.rootExecutionId.getOrElse(s.executionId)
        synchronized(execs(s.executionId) = new Exec(o, root))
      }
    case end: SparkListenerSQLExecutionEnd =>
      synchronized(execs.get(end.executionId)).foreach { x =>
        x.endMs = end.time
        x.durNs = Internals.durationNs(end)
        val qe = Internals.queryExecution(end)
        if (qe != null) {
          x.shape = PlanShape.of(qe.executedPlan)
          val ph = qe.tracker.phases
          x.planMs = Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
        }
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = e.properties
    if (props == null) return
    opOf(props.getProperty("spark.jobGroup.id")).foreach { o =>
      val exec = Option(props.getProperty("spark.sql.execution.id")).map(_.toLong)
      synchronized {
        jobs(e.jobId) = new Job(o, exec, e.time)
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).filter(jobs.contains).foreach { j =>
      val st = stages.getOrElseUpdate(e.stageId, new Stage(j))
      val info = e.taskInfo
      st.tasks += ((info.launchTime, info.finishTime))
      st.maxTaskMs = math.max(st.maxTaskMs, info.duration)
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach { st =>
      st.startMs = i.submissionTime.getOrElse(0L)
      st.endMs = i.completionTime.getOrElse(0L)
    }
  }

  private def opOf(group: String): Option[Long] =
    Option(group).filter(_.startsWith("op-")).map(_.drop(3).toLong)
      .filter(o => synchronized(tracedOps.contains(o)))

  // ------------------------------------------------------------------ finish

  /** Wait for the listener bus, attach listener spans to client spans, write
    * every span to `spansPath` (JSON lines) and the per-operation counters
    * to `out.traced_ops`.
    */
  def finish(spansPath: String, out: ObjectNode): Unit = {
    if (!listening) return
    Internals.drainListeners(sc)
    sc.removeSparkListener(this)
    val all = ArrayBuffer.empty[Span] ++ clientSpans
    val byOp = clientSpans.groupBy(_.op)
    // innermost client span of `o` containing t (the op span if none)
    def container(o: Long, t: Long): Span = {
      val c = byOp.getOrElse(o, Seq.empty)
      val hits = c.filter(s => s.start <= t && t <= s.end)
      if (hits.isEmpty) c.find(_.name == "op").orNull
      else hits.minBy(s => s.end - s.start)
    }
    def clip(s: Span, p: Span): Span =
      if (p == null) s
      else {
        val a = math.min(math.max(s.start, p.start), p.end)
        s.copy(start = a, end = math.max(a, math.min(s.end, p.end)))
      }
    val execSpan = mutable.Map.empty[Long, Span]
    for ((id, x) <- execs if x.endMs > 0 && x.root == id && stats.contains(x.op)) {
      val st = stats(x.op)
      val end = nanoOf(x.endMs)
      val parent = container(x.op, end - x.durNs / 2)
      val s = clip(Span(newId(), if (parent == null) 0L else parent.id, x.op,
        "execution", end - x.durNs, end), parent)
      execSpan(id) = s
      all += s
      st.execNs += x.durNs
      st.shape = st.shape + x.shape
      // planning that ran inside the execution (writes, noop sink, eager
      // actions); a read's plan is the client's own `plan` span
      if (parent != null && parent.name != "render" && x.planMs > 0) {
        all += clip(Span(newId(), s.id, x.op, "plan", s.start,
          s.start + x.planMs * 1000000L), s)
      }
    }
    val jobSpan = mutable.Map.empty[Int, Span]
    for ((id, j) <- jobs if j.endMs > 0 && stats.contains(j.op)) {
      val st = stats(j.op)
      val raw = Span(newId(), 0L, j.op, "job", nanoOf(j.startMs), nanoOf(j.endMs))
      val client = container(j.op, (raw.start + raw.end) / 2)
      val parent = j.exec.flatMap(execs.get).flatMap(x => execSpan.get(x.root)).getOrElse(client)
      val s = clip(raw.copy(parent = if (parent == null) 0L else parent.id), parent)
      jobSpan(id) = s
      all += s
      st.jobs += 1
      if (client != null && client.name == "build") st.buildJobs += 1
      // a job outside any SQL execution (an RDD action in a query body)
      if (j.exec.isEmpty) st.execNs += s.end - s.start
    }
    for ((_, g) <- stages if g.endMs > 0; parent <- jobSpan.get(g.job)) {
      val st = stats(parent.op)
      val s = clip(Span(newId(), parent.id, parent.op, "stage",
        nanoOf(g.startMs), nanoOf(g.endMs)), parent)
      all += s
      g.tasks.foreach { case (a, b) =>
        all += clip(Span(newId(), s.id, parent.op, "task", nanoOf(a), nanoOf(b)), s)
      }
      st.stages += 1
      st.tasks += g.tasks.size
      st.criticalMs += g.maxTaskMs
      st.taskMs += g.runMs
      st.cpuNs += g.cpuNs
      st.gcMs += g.gcMs
      st.shuffleRead += g.shuffleRead
      st.shuffleWrite += g.shuffleWrite
      st.spill += g.spill
      st.inputRows += g.inputRows
    }
    val t0 = if (all.isEmpty) 0L else all.map(_.start).min
    val w = new BufferedWriter(new FileWriter(spansPath))
    try all.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_us":${(s.start - t0) / 1000},"end_us":${(s.end - t0) / 1000}}""")
      w.newLine()
    } finally w.close()
    val arr = out.putArray("traced_ops")
    for ((id, st) <- stats) {
      val o = arr.addObject()
      o.put("op", id).put("name", st.name)
      o.put("jobs", st.jobs).put("build_jobs", st.buildJobs)
      o.put("stages", st.stages).put("tasks", st.tasks)
      o.put("exec_ms", st.execNs / 1e6)
      o.put("task_ms", st.taskMs).put("cpu_ms", st.cpuNs / 1e6)
      o.put("critical_path_ms", st.criticalMs).put("gc_ms", st.gcMs)
      o.put("shuffle_read_bytes", st.shuffleRead)
      o.put("shuffle_write_bytes", st.shuffleWrite)
      o.put("spill_bytes", st.spill).put("input_rows", st.inputRows)
      o.put("exchanges", st.shape.exchanges).put("broadcasts", st.shape.broadcasts)
      o.put("codegen_stages", st.shape.codegenStages)
      o.put("codegen_compiles", st.compiles).put("codegen_compile_ms", st.compileMs)
      st.extra.foreach { case (k, v) => o.put(k, v) }
    }
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long)

  final class OpStats(val name: String) {
    var compiles0, compileMs0, compiles, compileMs = 0L
    var jobs, buildJobs, stages, tasks = 0L
    var execNs, taskMs, cpuNs, criticalMs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill, inputRows = 0L
    var shape: PlanShape.Counts = PlanShape.Zero
    val extra = mutable.LinkedHashMap.empty[String, Long]
  }

  final class Exec(val op: Long, val root: Long) {
    @volatile var endMs, durNs, planMs = 0L
    @volatile var shape: PlanShape.Counts = PlanShape.Zero
  }

  final class Job(val op: Long, val exec: Option[Long], val startMs: Long) {
    @volatile var endMs = 0L
  }

  final class Stage(val job: Int) {
    var startMs, endMs, maxTaskMs, runMs, cpuNs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill, inputRows = 0L
    val tasks = ArrayBuffer.empty[(Long, Long)]
  }

  /** Codegen compile time recorded so far, in ms. Spark keeps the samples in
    * a 1028-entry reservoir, which holds every sample until it fills; past
    * that the mean times the count stands in for the sum.
    */
  def compileMsTotal(): Long = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    if (h.getCount <= snap.size) snap.getValues.sum
    else (snap.getMean * h.getCount).toLong
  }
}
