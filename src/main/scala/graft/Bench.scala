package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line the driver parses.
  *
  * Protocol (BASELINE.md): warm runs — one untimed pass first (JIT +
  * whole-stage codegen compilation, parquet footer caches, OS page cache),
  * then the MEDIAN of N timed passes per query (default 3, override with
  * SPARK_GRAFT_BENCH_RUNS). Caches are cleared after every pass so a
  * query's own persist() calls never hide recompute cost; what's measured
  * is the full operator pipeline on warm I/O. Timings are rounded to ms so
  * the one-line JSON stays within the driver's tail buffer even at 100+
  * queries (raw doubles at 17 significant digits overflowed it in r4).
  */
object Bench {

  /** Adaptive re-run policy (r13 verdict item 5): after the standard
    * interleaved passes, a query whose spread (max/min) exceeds
    * `threshold` gets up to `maxExtra` extra passes — a contaminated
    * host window inflates some samples, and one clean extra sample
    * restores a usable min/median without re-running the whole suite.
    * Pure function so BenchPolicySpec can inject a stalled sample set.
    */
  def adaptiveSamples(initial: List[Double], next: () => Double,
                      maxExtra: Int = 2,
                      threshold: Double = 5.0): List[Double] = {
    var xs = initial
    var extra = 0
    while (extra < maxExtra && xs.nonEmpty && xs.min > 1e-3 &&
           xs.max / xs.min > threshold) {
      xs = next() :: xs
      extra += 1
    }
    xs
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cores
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = Harness.session(cpus)
    // Calibration anchor: a fixed pure-CPU workload (no I/O, no shuffle)
    // timed at bench start. Identical code measured across sessions varies
    // ±16% uniformly with host CPU steal (PLANS.md §8b); dividing totals by
    // calib_s yields a host-normalized number comparable across sessions.
    // One untimed pass JITs the loop; the median of 3 is recorded.
    def calibPass(): Double = {
      import org.apache.spark.sql.functions.{col, sum}
      val t0 = System.nanoTime()
      spark.range(0, 400000000L, 1, cpus)
        .select(sum(col("id") * 2654435761L % 1000003L)).head
      (System.nanoTime() - t0) / 1e9
    }
    def calibrate(): Double = {
      calibPass()
      Seq.fill(3)(calibPass()).sorted.apply(1)
    }
    // Second, FP/vector-shaped calibration anchor (r13 verdict item 2):
    // the scalar anchor above is integer-ALU-bound and demonstrably does
    // not track the host sensitivity of the FP-heavy ANN/PQ family (its
    // r13 normalized drift sat entirely inside r12's noise envelope).
    // This anchor runs the SAME machinery those queries run — 64-dim
    // float arrays through the repo's native cosine Expression — so
    // normalizing q_ann_*/q_bm25-class timings by calib_fp_s attributes
    // host FP/array throughput separately from scalar CPU steal.
    def calibrateFp(): Double = {
      import org.apache.spark.sql.functions.{col, expr, sum}
      def pass(): Double = {
        val t0 = System.nanoTime()
        spark.range(0, 750000L, 1, cpus)
          .select(
            expr("transform(sequence(0, 63), j -> " +
              "CAST(pmod(id * 2654435761 + j * 40503, 997) / 997.0 AS FLOAT))")
              .as("v1"),
            expr("transform(sequence(0, 63), j -> " +
              "CAST(pmod(id * 40503 + j * 2654435761, 1009) / 1009.0 AS FLOAT))")
              .as("v2"))
          .select(sum(graft.functions.VectorExprs.cosine(col("v1"), col("v2"))))
          .head
        (System.nanoTime() - t0) / 1e9
      }
      pass()
      Seq.fill(3)(pass()).sorted.apply(1)
    }
    // benchOnly entries (engine-specific values, production-shape cost —
    // e.g. the sketch-only HLL plan) are timed alongside the gated set.
    // optional args: bench only these queries (local iteration aid; the
    // driver passes none and gets the full inventory)
    val only = args.toSet
    val allQueries = (SparkEntry.queries ++ SparkEntry.benchOnly)
      .filter { case (n, _) => only.isEmpty || only(n) }
    // A query that throws must be VISIBLE in the artifact, not just in the
    // correctness gate: a broken body returns in ~ms, scores near-0s, and
    // silently flatters the total (r10 verdict finding). Every caught
    // throwable increments this per-query counter, which flows into
    // BENCH_FULL.json as "failed" and nulls the query's spread (a spread
    // computed over failure-speed samples is meaningless).
    val failures = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    // a failed pass's sample is its time to the throw (plus the release)
    def timedPass(name: String): Double = {
      val t0 = System.nanoTime()
      try Harness.timedPass(spark)(allQueries(name)(spark, sfDir))
      catch { case _: Throwable =>
        failures(name) += 1
        (System.nanoTime() - t0) / 1e9
      }
    }
    val calib = calibrate()
    val calibFp = calibrateFp()
    val names = allQueries.keys.toSeq.sorted
    names.foreach(timedPass) // warm pass (failures counted here too)
    // Interleave passes round-robin (pass 0 of all queries, then pass 1, ...)
    // so per-query samples are spread across the session: a slow phase (GC,
    // codegen-cache churn) late in the run taxes one sample of many queries
    // instead of all samples of a few — the median then rejects it.
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // Per-block calibration track (r15 verdict item 7): a ONE-pass anchor
    // snapshot every `calibBlock` timed queries, interleaved with the
    // samples it brackets. A co-scheduled driver window now identifies
    // itself — the snapshots covering it read high — instead of being
    // inferred post hoc from per-query spread. ~10 snapshots/pass at 372
    // queries ≈ a few seconds of overhead per run.
    val calibBlock = 40
    val calibTrack =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    (1 to nRuns).foreach { p =>
      names.zipWithIndex.foreach { case (n, i) =>
        if (i % calibBlock == 0)
          calibTrack += ((p, i / calibBlock, calibPass()))
        samples(n) = timedPass(n) :: samples(n)
      }
    }
    // Adaptive re-runs: spread > 5 after the standard passes means a
    // stalled host window hit this query; up to 2 extra passes recover a
    // clean sample (bounded cost — the r13 offenders totaled <40 s).
    // Skipped for failed / ~0-min queries, whose spread is meaningless.
    val extraPasses = scala.collection.mutable.Map.empty[String, Int]
    names.foreach { n =>
      if (failures(n) == 0) {
        val before = samples(n).size
        samples(n) = adaptiveSamples(samples(n), () => timedPass(n))
        val extra = samples(n).size - before
        if (extra > 0) extraPasses(n) = extra
      }
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      s(s.size / 2) // odd n → true median; even n → upper-median (conservative)
    }
    val results = names.map(n => n -> median(samples(n)))
    // Contamination self-identification: alongside each median, record the
    // per-query MIN (the cleanest sample this session) and SPREAD = max/min.
    // A co-scheduled driver window inflates some samples but rarely all of
    // them — a query whose spread >= 1.5 with a min near last round's median
    // is noise, not a regression, and the file alone now says so (r9 lost a
    // perf-review cycle to 5 queries reading 2-5x high from exactly this).
    val mins = names.map(n => n -> samples(n).min)
    // spread sentinel: a query that failed any pass (or whose min is ~0,
    // the failure signature even if the counter somehow missed it) gets
    // spread null, NOT 1.0 — 1.0 reads as "perfectly clean" for a query
    // that was broken every pass (ADVICE r10)
    val spreads: Seq[(String, Option[Double])] = names.map { n =>
      val xs = samples(n)
      n -> (if (failures(n) > 0 || xs.min <= 1e-3) None
            else Some(xs.max / xs.min))
    }
    // flagged set = spread ≥ 1.5 on queries the perf review tracks
    // (median ≥ 0.4 s): a 0.2 s jitter on a 0.4 s query flips the ratio
    // without meaning anything, and the first full run flagged 35 such
    // rows — noise drowning the signal the field exists to carry
    val medianOf = results.toMap
    val spreadHi = spreads.collect { case (n, Some(sp))
      if sp >= 1.5 && medianOf(n) >= 0.4 => n -> sp }
    val total = results.map(_._2).sum
    def qjson(rs: Seq[(String, Double)]): String = rs
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    def qjson2(rs: Seq[(String, Double)]): String = rs
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    // Option-valued spreads: None (failed / ~0-min query) renders as JSON
    // null — machine-distinguishable from a genuinely clean 1.0
    def qjsonOpt(rs: Seq[(String, Option[Double])]): String = rs
      .map { case (k, v) =>
        "\"" + k + "\":" + v.map(x => f"$x%.2f").getOrElse("null") }
      .mkString("{", ",", "}")
    val failedJson = failures.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // The driver captures only the LAST 2000 chars of output; at 125+
    // queries the full per-query map no longer fits one line (r4 lost 40
    // timings to exactly this). Split: the COMPLETE map goes to
    // BENCH_FULL.json next to the build, and the one-line contract carries
    // every query at or above 0.4 s (the set perf review actually tracks)
    // plus the count/total of the fast remainder — parseable end to end.
    // total normalized by the calibration anchor: dimensionless multiple of
    // the fixed CPU workload — comparable across host-speed windows.
    val norm = total / calib
    val extraJson = extraPasses.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val calibTrackJson = calibTrack
      .map { case (p, b, s) => f"""{"pass":$p,"block":$b,"s":$s%.3f}""" }
      .mkString("[", ",", "]")
    val fullJson =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$nRuns,"calib_s":$calib%.3f,"calib_fp_s":$calibFp%.3f,"total_norm":$norm%.2f,"queries":${qjson(results)},"mins":${qjson(mins)},"spread":${qjsonOpt(spreads)},"extra_passes":$extraJson,"calib_track":$calibTrackJson,"failed":$failedJson,"sf":"$sfDir"}"""
    // a failed write must not kill the one-line contract, but it also must
    // not leave the "full" pointer referencing a STALE file from a prior
    // run — on failure the pointer is nulled so consumers see the map is
    // absent. Only non-fatal errors are swallowed (an OOM should surface).
    val fullRef =
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_FULL.json"), fullJson + "\n")
        "\"BENCH_FULL.json\""
      } catch { case scala.util.control.NonFatal(_) => "null" }
    // Compact summary guaranteed to survive any driver tail truncation:
    // headline numbers + top-10 by median + the spread-flagged set. If the
    // driver's BENCH_rNN.json parse fails again (open since r7), this file
    // is machine-readable on its own.
    // top10 carries BOTH median and min: a contaminated median (one co-
    // scheduled window inflating 2 of 3 samples) still ranks a query into
    // the top10, but its min is the clean sample — a cross-round perf diff
    // needs only BENCH_SUMMARY files, no BENCH_FULL archaeology (r10 ask)
    val top10 = results.sortBy(-_._2).take(10)
    val minOf = mins.toMap
    val top10Mins = top10.map { case (n, _) => n -> minOf(n) }
    // Per-family normalized roll-up (r14 verdict item 5): the FP/vector
    // family (ANN/PQ/embedding math — the queries whose hot loop is the
    // native cosine/PQ Expressions) normalizes by calib_fp_s, everything
    // else by the scalar anchor. Cross-round drift questions are answered
    // by diffing these two numbers between BENCH_SUMMARY files — no
    // re-derivation from BENCH_FULL archaeology. Mins, not medians: the
    // cleanest sample is the cross-round comparable (r14 verdict).
    val fpFamily = names.filter(n =>
      n.startsWith("q_ann_") || n.startsWith("q_embed_") ||
      n.startsWith("q_pq_") || Set("q_dedup_embedding", "q_semantic_clusters",
        "q_cluster_medoid", "q_mmr_diverse", "q_coreset_kcenter",
        "q_dim_ablation", "q_media_ann", "q_media_dedup")(n)).toSet
    def famJson(sel: String => Boolean, anchor: Double): String = {
      val ms = mins.collect { case (n, v) if sel(n) => v }
      val s = ms.sum
      f"""{"n":${ms.size},"mins_sum_s":$s%.3f,"norm":${s / anchor}%.2f}"""
    }
    val familiesJson =
      s"""{"fp":${famJson(fpFamily, calibFp)},""" +
        s""""scalar":${famJson(n => !fpFamily(n), calib)}}"""
    val summaryJson =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$nRuns,"calib_s":$calib%.3f,"calib_fp_s":$calibFp%.3f,"total_norm":$norm%.2f,"n_queries":${names.size},"top10":${qjson(top10)},"top10_mins":${qjson(top10Mins)},"families":$familiesJson,"spread_hi":${qjson2(spreadHi)},"failed":$failedJson,"sf":"$sfDir"}"""
    try
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_SUMMARY.json"), summaryJson + "\n")
    catch { case scala.util.control.NonFatal(_) => () }
    // The one-line stdout contract must FIT the driver's 2000-char tail
    // capture END TO END or the driver records parsed:null (the r7-r9
    // failure: "every query ≥ 0.4 s" grew to ~200 entries ≈ 4-5 KB, so
    // the captured tail lost the line's HEAD — including "metric" — and
    // nothing parsed). Carry the top-20 by median plus count/total of the
    // remainder and the 10 widest spread flags: ~900 chars, parseable in
    // any 2000-char window; the complete maps live in BENCH_FULL.json and
    // the headline survives independently in BENCH_SUMMARY.json.
    val top20 = results.sortBy(r => (-r._2, r._1)).take(20)
    val restTotal = total - top20.map(_._2).sum
    val lineSpread = spreadHi.sortBy(r => (-r._2, r._1)).take(10)
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$nRuns,"calib_s":$calib%.3f,"calib_fp_s":$calibFp%.3f,"total_norm":$norm%.2f,"queries":${qjson(top20)},"rest_n":${names.size - top20.size},"rest_total":$restTotal%.3f,"spread_hi":${qjson2(lineSpread)},"failed_n":${failures.size},"full":$fullRef,"sf":"$sfDir"}"""
    println(line)
    spark.stop()
  }
}
