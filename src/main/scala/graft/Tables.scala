package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

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

  /** Per session, each path's schema as its first load inferred it. Later
    * loads hand it to the reader, which skips inference (footer reads,
    * often a job) but still lists the directory. Weak keys, as in
    * `Persisted`. */
  private val schemas = new java.util.WeakHashMap[SparkSession,
    java.util.Map[String, StructType]]()

  /** Load one table from an sf directory. Parquet is self-describing
    * (reference: DataSourceMeta::ParquetFile, datasource.rs:87-92), so no
    * schema declaration is needed; column pruning + predicate pushdown reach
    * the scan automatically.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val memo = schemas.synchronized(schemas.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, StructType]()))
    val df = Option(memo.get(path)).fold {
      val inferred = spark.read.parquet(path)
      memo.put(path, inferred.schema)
      inferred
    }(spark.read.schema(_).parquet(path))
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
