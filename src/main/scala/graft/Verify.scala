package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd+ args: only dump these queries, in the order given (the
    // determinism sweep's order axis); default: every query, map order
    val all = SparkEntry.queries
    val todo = if (args.length > 2) args.drop(2).toSeq.map(n => n -> all(n))
      else all.toSeq
    // SPARK_GRAFT_AQE=false gives the determinism sweep a second axis
    // beyond parallelism: AQE re-plans exchanges at runtime (coalesced
    // partitions, demoted broadcasts), which moves partial-aggregation
    // trees — gated VALUES must not move with them
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val spark = Harness.session(Harness.cores,
      "spark.sql.adaptive.enabled" -> aqe)
    new java.io.File(outDir).mkdirs()
    todo.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // so cache doesn't accumulate across the whole inventory run
      Harness.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
