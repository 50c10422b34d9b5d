package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_group")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. Each function
    * here and in [[benchOnly]] first installs the engine's planner
    * extensions on the session it is given (`Context.install`): a caller
    * may build its own session. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    installing(Relational.queries ++ Relational2.queries ++ TextOps.queries ++
      DedupOps.queries ++ VectorOps.queries ++ Sessions.queries ++
      MultimodalOps.queries ++ PipelineOps.queries ++ CorpusOps.queries ++
      TemporalOps.queries ++ GraphOps.queries ++ StorageOps.queries ++
      GeoOps.queries ++ TimeSeriesOps.queries ++ StatsOps.queries ++
      BasketOps.queries ++ MLOps.queries ++ StarOps.queries ++
      StreamGateOps.queries)
  /** Timed by Bench but NOT oracle-verified: production-shape plans whose
    * values are engine-specific (e.g. raw HLL estimates). Each has an
    * oracle-gated twin in [[queries]] carrying the correctness gate. */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] =
    installing(Relational2.benchOnly ++ StatsOps.benchOnly)
  private def installing(m: Map[String, (SparkSession, String) => DataFrame]) =
    m.map { case (k, f) =>
      k -> ((s: SparkSession, d: String) => { Context.install(s); f(s, d) })
    }
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Relational2.oracles ++ TextOps.oracles ++
      DedupOps.oracles ++ VectorOps.oracles ++ Sessions.oracles ++
      MultimodalOps.oracles ++ PipelineOps.oracles ++ CorpusOps.oracles ++
      TemporalOps.oracles ++ GraphOps.oracles ++ StorageOps.oracles ++
      GeoOps.oracles ++ TimeSeriesOps.oracles ++ StatsOps.oracles ++
      BasketOps.oracles ++ MLOps.oracles ++ StarOps.oracles ++
      StreamGateOps.oracles
}
