package graft

import graft.Harness.PlanShape
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scaling probe (r15 verdict item 4): measures how the top-cost query
  * family's wall time actually scales from sf0.1 to a ×10 synthetic sf1,
  * and whether any physical plan flips to a scale-killer on the way.
  *
  * The sf gates prove correctness; this main probes the 100-TB ARGUMENT —
  * "the heavy plans are linear in the corpus" — by running them at two
  * decades and recording the observed scaling exponent
  * log10(t_sf1 / t_sf0.1) per query, plus a plan-shape diff (exchanges,
  * broadcasts, cartesians, corpus-sized global windows) between scales.
  *
  * ×10 data layout (REPLICAS disjoint copies of sf0.1, the same growth
  * shape TPC-H uses — key spaces and row counts scale together, degree
  * and similarity distributions stay fixed):
  *  - every integer key (order/part/supp/cust/event/user/doc/vec) is
  *    offset by replica·STRIDE, so FK joins stay consistent and the
  *    co-purchase / supply graphs become 10 disjoint isomorphic
  *    components — 10× nodes, 10× edges, unchanged degree profile;
  *  - documents: replica 0 is byte-identical to sf0.1; replicas 1-9
  *    suffix every whitespace token with "x<r>", an isomorphic vocabulary
  *    rename per replica. Within-replica shingle/minhash/similarity
  *    structure is exactly sf0.1's; cross-replica Jaccard is 0, so
  *    near-dup pair counts grow LINEARLY (10 disjoint copies), not
  *    quadratically as naive text duplication would;
  *  - events: ids/users offset, timestamps unchanged (10× events per
  *    window, session structure replicated per disjoint user space);
  *  - region/nation copy through unchanged (catalog dims).
  *
  * Expected exponents: ~1.0 for everything in the family (disjoint
  * replicas add no cross-replica work); wedge enumeration and ppjoin
  * candidate generation are linear in replicas because their quadratic
  * term lives INSIDE a replica, which is constant-sized here. Exponent
  * thresholds: > 1.3 flags SUPERLINEAR (exit 1 unless the plan diff
  * explains it); plan flags fire on any cartesian product, nested-loop
  * join over a non-broadcast side, or unpartitioned window whose input
  * is corpus-sized (heuristic: global window + exponent > 1.3).
  *
  * `runMain graft.ScaleProbe gen  <baseSfDir> <probeDir>` — write ×10 data
  * `runMain graft.ScaleProbe run  <baseSfDir> <probeDir> <outJson>`
  */
object ScaleProbe {

  val Replicas = 10
  val Stride = 100000000L // >> any sf0.1 key; keeps 2·key+1 encodings safe

  /** The top-cost family from BENCH_r15 (driver mins ≥ ~3s) plus
    * q_heavy_hitters_by_source (named in the r15 verdict brief). */
  val Family: Seq[String] = Seq(
    "q_triangles", "q_clustering_coeff", "q_er_best_match",
    "q_dedup_ppjoin", "q_pagerank", "q_hits", "q_label_prop",
    "q_blocking_quality", "q_link_predict", "q_conductance",
    "q_random_walk", "q_modularity", "q_dedup_sn_multipass",
    "q_bfs_hops", "q_dedup_sorted_neighborhood",
    "q_heavy_hitters_by_source")

  // ---------------------------------------------------------------- gen

  /** Explode one base table into Replicas disjoint copies, offsetting the
    * named integer-key columns by r·STRIDE. */
  private def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val withR = df.withColumn("__r",
      explode(lit((0 until Replicas).toArray)))
    keyCols.foldLeft(withR) { (d, k) =>
      d.withColumn(k, col(k) + col("__r").cast("long") * Stride)
    }
  }

  def generate(spark: SparkSession, baseDir: String, outDir: String): Unit = {
    def base(n: String): DataFrame = spark.read.parquet(s"$baseDir/$n.parquet")
    def write(df: DataFrame, n: String, parts: Int): Unit =
      df.drop("__r").repartition(parts)
        .write.mode("overwrite").parquet(s"$outDir/$n.parquet")

    // dims: copy through (region/nation are catalog-sized at every sf)
    Seq("region", "nation").foreach { n =>
      base(n).write.mode("overwrite").parquet(s"$outDir/$n.parquet")
    }
    write(replicate(base("customer"), Seq("c_custkey")), "customer", 4)
    write(replicate(base("supplier"), Seq("s_suppkey")), "supplier", 2)
    write(replicate(base("part"), Seq("p_partkey")), "part", 4)
    write(replicate(base("orders"), Seq("o_orderkey", "o_custkey")),
      "orders", 16)
    write(replicate(base("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem", 32)
    write(replicate(base("events"), Seq("event_id", "user_id")),
      "events", 16)
    write(replicate(base("embeddings"), Seq("vec_id")), "embeddings", 8)
    // documents: isomorphic per-replica vocabulary rename (replica 0
    // untouched). "$1x" + r suffixes every \S+ token; n_chars tracks the
    // rewritten text so length-derived features stay self-consistent.
    val docs = replicate(base("documents"), Seq("doc_id"))
      .withColumn("text",
        when(col("__r") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1x"), col("__r").cast("string")))))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docs, "documents", 8)
    println(s"[scale-probe] generated ${Replicas}x of $baseDir -> $outDir")
  }

  // ---------------------------------------------------------------- run

  /** warm + `passes` timed noop-sink executions; returns (min, shape). */
  private def time(spark: SparkSession, name: String, dir: String,
                   passes: Int): (Double, PlanShape) = {
    val fn = SparkEntry.queries(name)
    def pass(): Double = Harness.timedPass(spark)(fn(spark, dir))
    // untimed: under AQE the shape walk runs the query's stages, because
    // the final plan exists only once they have materialized
    val sh = Harness.shape(fn(spark, dir).queryExecution.executedPlan)
    Harness.release(spark)
    pass() // warm (JIT, codegen cache, parquet footers)
    val best = Seq.fill(passes)(pass()).min
    (best, sh)
  }

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "run"
    val baseDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val probeDir = if (args.length > 2) args(2) else "target/sf1probe"
    val out = if (args.length > 3) args(3) else "BENCH_SF1_PROBE.json"
    val spark = Harness.session(Harness.cores)

    if (mode == "gen") {
      generate(spark, baseDir, probeDir)
      spark.stop(); return
    }

    val flags = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows = Family.map { name =>
      val cell = try {
        val (tBase, shBase) = time(spark, name, baseDir, passes = 2)
        val (tProbe, shProbe) = time(spark, name, probeDir, passes = 2)
        val exp = math.log10(math.max(tProbe, 1e-3) / math.max(tBase, 1e-3))
        val planChanged = shBase != shProbe
        if (shProbe.cartesians > 0)
          flags += s"$name: CARTESIAN at x10"
        if (exp > 1.3)
          flags += f"$name: SUPERLINEAR exponent=$exp%.2f"
        if (shProbe.globalWindows > shBase.globalWindows)
          flags += s"$name: NEW GLOBAL WINDOW at x10"
        f"""{"t_sf01_s":$tBase%.3f,"t_x10_s":$tProbe%.3f,""" +
          f""""exponent":$exp%.3f,"plan_changed":$planChanged,""" +
          s""""plan_sf01":${shBase.json},"plan_x10":${shProbe.json}}"""
      } catch {
        case e: Throwable =>
          Harness.release(spark)
          flags += s"$name: ERROR ${e.getClass.getSimpleName}"
          s"""{"error":"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").take(120)
              .replace("\\", "\\\\").replace("\"", "'").replace("\n", " ")}"}"""
      }
      println(s"[scale-probe] $name done")
      s"""  "$name": $cell"""
    }
    val flagJson = flags
      .map(s => "\"" + s.replace("\\", "\\\\").replace("\"", "'") + "\"")
      .mkString("[", ",", "]")
    val summary =
      s"""  "summary": {"base":"$baseDir","probe":"$probeDir",""" +
        s""""replicas":$Replicas,"n_queries":${Family.size},""" +
        s""""flags":$flagJson}"""
    val json = "{\n" + (summary +: rows).mkString(",\n") + "\n}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(s"[scale-probe] ${Family.size} queries, ${flags.size} flags -> $out")
    flags.foreach(f => println(s"[scale-probe] FLAG $f"))
    spark.stop()
    if (flags.nonEmpty) sys.exit(1)
  }
}
