package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** `ExecutionContext` analog (reference: /root/reference/src/execution/
  * context.rs) — a thin facade over a SparkSession: table registration with
  * declared schemas, SQL entry point routing our DDL dialect, and UDF
  * registration. One reference line ↦ one Spark call; parsing, planning,
  * optimization and execution are all Catalyst's.
  */
class Context(val spark: SparkSession) {
  graft.functions.Geo.register(spark)
  graft.functions.TextExprs.register(spark)

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
  /** Standalone session with the project's standard config. */
  def local(cores: Int = Harness.cores): Context =
    new Context(Harness.session(cores))
}
