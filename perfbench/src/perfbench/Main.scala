package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.{Context, Render, SparkEntry}
import graft.operators.Persisted

/** JVM side of the benchmark: runs one workload in a closed loop (one client
  * thread; the next operation starts when the previous one returns) and
  * writes raw timings, failures and — when traced — spans and per-operation
  * counters to a JSON file. `perfbench/run.py` prepares the spec, turns the
  * raw numbers into metrics and prints them.
  *
  * Usage: perfbench.Main <spec.json>
  */
object Main {
  val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val entered = System.currentTimeMillis()
    val spec = json.readTree(new File(args(0)))
    val out = json.createObjectNode()
    out.put("main_entered_ms", entered)
    val status =
      try {
        if (spec.path("mode").asText == "selftest") SelfTest.run(spec, out)
        else new Driver(spec, out).run()
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          out.put("fatal", e.toString)
          1
      }
    json.writeValue(new File(spec.get("result").asText), out)
    System.exit(status)
  }

  def session(spec: JsonNode): SparkSession = {
    val cores = spec.get("cores").asInt.toString
    val work = spec.get("work_dir").asText
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every cache a query body took (the same release Bench runs). */
  def release(spark: SparkSession, tracer: Tracer): Unit = {
    tracer.count("persisted_frames", Persisted.pending(spark).toLong)
    val t0 = System.nanoTime()
    Persisted.releaseAll(spark)
    tracer.count("release_ns", System.nanoTime() - t0)
    graft.plans.RollupRewrite.clear(spark)
    spark.catalog.clearCache()
  }
}

final class Driver(spec: JsonNode, out: ObjectNode) {
  private val dataDir = spec.get("data_dir").asText
  private val seconds = spec.get("seconds").asDouble
  private val traceMode = spec.get("trace").asBoolean
  private val batch = spec.has("queries")
  private val failures = out.putArray("failures")
  private val ops = out.putArray("ops")
  private var spark: SparkSession = _
  private var ctx: Context = _
  private var tracer: Tracer = _
  private var nextOp = 0L

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(): Unit = {
    // set-up: session, function registration, table DDL, then the
    // warm-up/check pass; it ends where the first timed operation starts
    val t0 = System.nanoTime()
    spark = Main.session(spec)
    ctx = new Context(spark)
    if (!batch) registerTables()
    out.put("session_s", since(t0))
    tracer = new Tracer(spark.sparkContext, listening = false)
    val w0 = System.nanoTime()
    if (batch) {
      checkPass()
      spec.get("warmup").forEach(q => query(q.asText, traced = false, "warmup"))
    } else spec.get("warmup").forEach(i => statement(i.asInt, "warmup"))
    out.put("warmup_s", since(w0))

    tracer = new Tracer(spark.sparkContext, listening = traceMode)
    val gc0 = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    out.put("first_timed_ms", System.currentTimeMillis())
    timedPasses()
    out.put("jvm_gc_ms", gcMs() - gc0)
    out.put("jvm_heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0)
    if (traceMode) {
      tracer.finish(spec.get("spans").asText, out)
      Kernels.measure(out.putObject("kernels_ns_per_row"))
    }
    out.put("calib_s", calibrate())
    out.put("peak_rss_mb", vmHwmMb())
    spark.stop()
  }

  // ------------------------------------------------------------ sql_interactive

  private def registerTables(): Unit =
    spec.get("tables").forEach { t =>
      ctx.sql(s"CREATE EXTERNAL TABLE ${t.asText} STORED AS PARQUET " +
        s"LOCATION '$dataDir/${t.asText}.parquet'")
    }

  /** Run statement `i`; returns the wall ns, or -1 if it failed. */
  private def statement(i: Int, phase: String, traced: Boolean = false): Long = {
    val st = spec.get("statements").get(i)
    val name = st.get("name").asText
    nextOp += 1
    var error: String = null
    val ns = tracer.operation(nextOp, name, traced) {
      try {
        error = if (st.has("write")) write(st) else read(st)
      } catch { case e: Exception => error = e.toString }
    }
    if (error != null) fail(name, phase, error)
    if (error == null) ns else -1L
  }

  private def read(st: JsonNode): String = {
    val df = tracer.span("sql")(ctx.sql(st.get("sql").asText))
    tracer.span("plan")(df.queryExecution.executedPlan)
    val lines = tracer.span("render")(Render.consoleLines(df))
    Check.rows(lines, st.get("expect"))
  }

  private def write(st: JsonNode): String = {
    val w = st.get("write")
    val path = w.get("path").asText
    val df = tracer.span("sql")(ctx.sql(st.get("sql").asText))
    tracer.span("sink")(ctx.write(df, path, w.get("format").asText))
    tracer.span("ddl")(ctx.sql(w.get("ddl").asText))
    val parts = Option(new File(path).listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("part-"))
    tracer.count("write_bytes", parts.map(_.length).sum)
    if (!new File(path, "_SUCCESS").exists || parts.isEmpty) s"no output written to $path"
    else null
  }

  // ------------------------------------------------------ graph_dedup, text_vector

  /** Warm-up and correctness pass: every query's collected result goes to
    * parquet for the DuckDB comparison run.py makes afterwards. Collecting
    * runs the same query plan the timed noop sink runs, so its generated
    * code is compiled here rather than in the first timed pass.
    */
  private def checkPass(): Unit = {
    val dir = spec.get("check_dir").asText
    val oracles = out.putObject("oracle_sql")
    spec.get("queries").forEach { q =>
      val name = q.asText
      SparkEntry.oracleSql.get(name).foreach(oracles.put(name, _))
      try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        spark.createDataFrame(df.collect().toList.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$name")
      } catch { case e: Exception => fail(name, "check", e.toString) }
      Main.release(spark, tracer)
    }
  }

  private def query(name: String, traced: Boolean, phase: String = "timed"): Long = {
    nextOp += 1
    var error: String = null
    val ns = tracer.operation(nextOp, name, traced) {
      try {
        val df = tracer.span("build")(SparkEntry.queries(name)(spark, dataDir))
        tracer.span("noop_sink")(df.write.format("noop").mode("overwrite").save())
      } catch { case e: Exception => error = e.toString }
      tracer.span("release")(Main.release(spark, tracer))
    }
    if (error != null) { fail(name, phase, error); -1L } else ns
  }

  // ------------------------------------------------------------------ timed loop

  /** Whole passes until the deadline, and at least two: one to take a
    * median of, and in a traced run one traced pass and one untraced. A
    * pass is a block of statements (sql_interactive) or the query list.
    */
  private def timedPasses(): Unit = {
    val passes = spec.get("passes")
    val statements = spec.get("statements")
    val walls = out.putArray("passes_s")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    while (p < 2 || System.nanoTime() < deadline) {
      val traced = traceMode && p % 2 == 0
      val t0 = System.nanoTime()
      var ok = true
      passes.get(p % passes.size).forEach { x =>
        val (name, kind, ns) =
          if (batch) (x.asText, "query", query(x.asText, traced))
          else {
            val st = statements.get(x.asInt)
            (st.get("name").asText, if (st.has("write")) "write" else "read",
              statement(x.asInt, "timed", traced))
          }
        ok &&= ns >= 0
        ops.addObject().put("name", name).put("kind", kind).put("ms", ns / 1e6)
          .put("ok", ns >= 0).put("traced", traced).put("pass", p)
      }
      walls.addObject().put("s", since(t0)).put("traced", traced).put("ok", ok)
      p += 1
    }
  }

  // ------------------------------------------------------------------ helpers

  private def fail(name: String, phase: String, error: String): Unit = {
    System.err.println(s"[perfbench] $phase $name failed: $error")
    failures.addObject().put("name", name).put("phase", phase).put("error", error.take(500))
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** graft.Bench's CPU anchor (one untimed pass, then one timed). */
  private def calibrate(): Double = {
    import org.apache.spark.sql.functions.{col, sum}
    val cores = spec.get("cores").asInt
    def pass(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 400000000L, 1, cores).select(sum(col("id") * 2654435761L % 1000003L)).head
      since(t0)
    }
    pass()
    pass()
  }
}

/** Compare rendered console lines with the expected rows run.py computed in
  * DuckDB. Expected cells are JSON: null, an integer, a double, a string, or
  * `{"dec": "<decimal>"}`. Doubles compare exactly after parsing the
  * rendered text, decimals by value.
  */
object Check {
  def rows(lines: Seq[String], expect: JsonNode): String = {
    if (lines.size != expect.size) return s"rows: got ${lines.size}, expected ${expect.size}"
    for ((line, r) <- lines.zipWithIndex) {
      val cells = line.split("\t", -1)
      val want = expect.get(r)
      if (cells.length != want.size) return s"row $r: got ${cells.length} cells, expected ${want.size}"
      for ((c, k) <- cells.zipWithIndex if !same(c, want.get(k)))
        return s"row $r col $k: got '$c', expected ${want.get(k)}"
    }
    null
  }

  private def same(cell: String, w: JsonNode): Boolean =
    if (w.isNull) cell == "NULL"
    else if (w.isObject) scala.util.Try(BigDecimal(cell) == BigDecimal(w.get("dec").asText)).getOrElse(false)
    else if (w.isIntegralNumber) cell == w.asText
    else if (w.isNumber) scala.util.Try(cell.toDouble == w.asDouble).getOrElse(false)
    else cell == w.asText
}
