package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftx.Bridge

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Mirrors the reference's table registry (`ExecutionContext::register_datasource`,
  * /root/reference/src/execution/context.rs:100-102) — here a table is just a
  * parquet directory entry; Spark's catalog plays the role of the registry.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per session, each path's analyzed relation as its first load
    * resolved it: the schema, and the file index with its listing. Later
    * loads reuse it, so they neither infer the schema nor list the
    * directory again. This holds because sf tables are read-only inputs:
    * every caller passes an sf directory, and nothing writes into one
    * while a session reads it. Weak keys, as in `Persisted`; the relation
    * refers back to its session, so an entry lives as long as the JVM
    * (the mains build one session per JVM: `Harness.session` is
    * `getOrCreate`). */
  private val relations = new java.util.WeakHashMap[SparkSession,
    java.util.Map[String, LogicalRelation]]()

  /** Load one table from an sf directory. Parquet is self-describing
    * (reference: DataSourceMeta::ParquetFile, datasource.rs:87-92), so no
    * schema declaration is needed; column pruning + predicate pushdown reach
    * the scan automatically. Each load gets fresh expression ids
    * (`newInstance`), so two loads in one self-join analyse as two reads.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val memo = relations.synchronized(relations.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, LogicalRelation]()))
    val relation = memo.computeIfAbsent(path, _ =>
      spark.read.parquet(path).queryExecution.analyzed.asInstanceOf[LogicalRelation])
    val df = Bridge.ofRows(spark, relation.newInstance())
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark only reads as a
    // long (spark.sql.legacy.parquet.nanosAsLong=true, set in our session
    // builders). Normalize to a micros TimestampType column so query code
    // stays uniform; sub-microsecond precision is dropped, matching what a
    // TimestampType pipeline would see on a real cluster.
    df.schema.find(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case None => df
    }
  }

  /** Register every table as a temp view so `spark.sql` sees the same names
    * the DuckDB oracle uses.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
