package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** `ExecutionContext` analog (reference: /root/reference/src/execution/
  * context.rs) — a thin facade over a SparkSession: table registration with
  * declared schemas, SQL entry point routing our DDL dialect, and the
  * engine's planner extensions ([[Context.install]]). One reference line ↦
  * one Spark call; parsing, planning, optimization and execution are all
  * Catalyst's.
  */
class Context(val spark: SparkSession) {
  Context.install(spark)

  /** register_datasource(CSV): declared schema, never inferred
    * (datasource.rs:39-43). `header=true` mirrors the reference's hard-coded
    * has_header that consumes the first data row of headerless fixtures
    * (datasource.rs:41; SURVEY §7.4-4).
    */
  def registerCsv(name: String, path: String, schema: StructType,
      header: Boolean = true): DataFrame = {
    val df = spark.read.schema(schema).option("header", header.toString).csv(path)
    df.createOrReplaceTempView(name)
    df
  }

  def registerParquet(name: String, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    df.createOrReplaceTempView(name)
    df
  }

  def registerNdjson(name: String, path: String, schema: StructType): DataFrame = {
    val df = spark.read.schema(schema).json(path)
    df.createOrReplaceTempView(name)
    df
  }

  /** SQL entry point: our `CREATE EXTERNAL TABLE` dialect goes through the
    * Ddl translator; everything else is Spark SQL (context.rs:44-98).
    */
  def sql(text: String): DataFrame =
    if (graft.sources.Ddl.matches(text)) graft.sources.Ddl.register(spark, text)
    else spark.sql(text)

  /** File sink (`PhysicalPlan::Write{plan, filename, kind}`,
    * reference physicalplan.rs:25-29): execute a plan and persist it.
    * `kind` ∈ csv | parquet | ndjson. Distributed write — one file per
    * partition; pass a repartitioned df to control file count.
    */
  def write(df: DataFrame, path: String, kind: String,
      header: Boolean = true): Unit = kind.toLowerCase match {
    case "csv" => df.write.mode("overwrite").option("header", header.toString).csv(path)
    case "parquet" => df.write.mode("overwrite").parquet(path)
    case "ndjson" | "json" => df.write.mode("overwrite").json(path)
    case "orc" => df.write.mode("overwrite").orc(path)
    case other => throw new IllegalArgumentException(s"unsupported sink kind: $other")
  }
}

object Context {
  /** Generated classes Spark keeps per JVM (see [[install]]): a
    * text_vector pass needs about 155 entries. */
  val CodegenCacheEntries = 2048

  /** Install every planner extension and SQL function the engine needs on
    * `spark`, once: the TopKPerKey strategy and window-top-k rewrite, the
    * one-partition sort of small inputs ([[graft.plans.SmallSortStrategy]]),
    * the rollup navigation rule (a no-op while no rollup is registered),
    * and the console's SQL functions. The reference builds its whole planner
    * in `ExecutionContext::new`; the runtime-injection twin here is
    * `spark.experimental`, because callers of `SparkEntry` (perfbench
    * among them) build their own sessions. So the install runs from the
    * three places a session reaches the engine: `Harness.session`, this
    * class's constructor and every `SparkEntry` query function.
    * Idempotent: a session plans every query with the same planner,
    * whatever ran on it before.
    *
    * It also fills in three confs the session has no explicit value for
    * (a builder, `spark-defaults` or `-Dspark.…` value always wins). Two
    * fit Spark's generated code to the engine's working set:
    *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]].
    *    The JVM-wide generated-class cache (default 100 entries) is keyed
    *    by class loader and body, so a whole-stage class takes one entry
    *    under the driver's loader and one under the executor's, and one
    *    text_vector pass needs about 155; at 100 every warm query
    *    recompiles. Spark sizes the cache once, in `CodeGenerator`'s
    *    static initialiser, from `SQLConf.get`: the value takes effect
    *    only if this JVM has not compiled generated code yet (so on the
    *    first session of a JVM, before its first query).
    *  - `spark.sql.codegen.useIdInClassName` = false. Under AQE stage ids
    *    follow the order stages finish, so the same body would carry a
    *    different class name from run to run and miss the cache at any
    *    size.
    * The same code runs either way; only whether it is recompiled changes.
    * The third, `spark.sql.ui.explainMode` = simple, stops Spark rendering
    * a formatted plan for the UI on every SQL execution and every AQE plan
    * update, which it does even with the UI disabled.
    */
  def install(spark: SparkSession): Unit = synchronized {
    import graft.functions.{MinHashSig, RollingHash, SimHashBits, WinnowHashes}
    import graft.plans.{RollupRewrite, SmallSortStrategy, TopKRewrite, TopKStrategy}
    val conf = spark.sessionState.conf
    Seq("spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
        "spark.sql.codegen.useIdInClassName" -> "false",
        "spark.sql.ui.explainMode" -> "simple").foreach {
      case (k, v) => if (!conf.contains(k)) conf.setConfString(k, v)
    }
    val ext = spark.experimental
    if (!ext.extraStrategies.contains(TopKStrategy)) {
      ext.extraStrategies = ext.extraStrategies :+ TopKStrategy :+ SmallSortStrategy
      ext.extraOptimizations =
        ext.extraOptimizations :+ TopKRewrite :+ RollupRewrite
      // ST_Point(x, y) → struct<x,y>, ST_AsText(point) → WKT; a
      // reference-typed UDF arg receives null AS null (primitive args are
      // null-checked around the call), so ST_AsText propagates it
      spark.udf.register("ST_Point", (x: Double, y: Double) => (x, y))
      spark.udf.register("ST_AsText", (pt: org.apache.spark.sql.Row) =>
        if (pt == null) null
        else s"POINT (${pt.getDouble(0)} ${pt.getDouble(1)})")
      val fns = spark.sessionState.functionRegistry
      fns.createOrReplaceTempFunction(
        "minhash_sig", exprs => MinHashSig(exprs.head, 64), "scala_udf")
      fns.createOrReplaceTempFunction(
        "simhash62", exprs => SimHashBits(exprs.head, 62), "scala_udf")
      fns.createOrReplaceTempFunction(
        "rolling_hash", exprs => RollingHash(exprs.head), "scala_udf")
      fns.createOrReplaceTempFunction(
        "winnow_hashes", exprs => WinnowHashes(exprs.head, 3, 4), "scala_udf")
    }
  }

  /** Standalone session with the project's standard config. */
  def local(cores: Int = Harness.cores): Context =
    new Context(Harness.session(cores))
}
