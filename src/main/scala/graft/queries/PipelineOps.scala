package graft.queries

import graft.operators.Persisted._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-4 training-data-pipeline operators: benchmark-contamination
  * detection, Gopher-style repetition quality, sequence packing, PII
  * scrubbing, URL parsing, and bloom-filter join pre-pruning.
  *
  * Scale notes (the design bar is 100 TB, not the sf0.01 fixtures):
  *  - contamination: the eval side is tiny by construction (a benchmark
  *    suite), the train side is the corpus — the overlap join shuffles on
  *    the n-gram key, which is near-unique (no hot keys), and the eval
  *    n-gram set is deduplicated before the join so its size is bounded by
  *    the benchmark, not the corpus.
  *  - repetition / packing: one map-side-combined shuffle keyed by
  *    (doc_id[, token]) — keys are fine-grained, so no reducer hotspot.
  *  - bloom pre-filter: the bloom filter is built from the SMALL (filtered)
  *    side only — the same size class as a broadcast-join build side — and
  *    ships to executors once; the big table is pre-filtered BEFORE its
  *    shuffle, which is the whole point at scale.
  */
object PipelineOps {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  /** Whitespace tokens of lowercased text (empty docs excluded). */
  private def tokenized(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))

  /** Range-partitioned layout, written AND read — the q_range_layout plan
    * made real (the reference's DataSource story, datasource.rs:27-30, at
    * scale is exactly partition layout + pruned scans):
    *
    *  1. plan 7 equal-mass boundaries over the o_orderdate key space (same
    *     single mergeable percentile_approx pass as q_range_layout);
    *  2. materialize orders with `part_id = #{boundaries ≤ key}` as a
    *     DIRECTORY partition column (8 dirs), `repartitionByRange` on
    *     (part_id, o_orderdate) so writer tasks align with directories and
    *     files are date-clustered within each;
    *  3. answer a one-year range query through a layout-aware read: the 7
    *     collected boundaries are table METADATA (what Delta/Iceberg keep in
    *     the transaction log) from which the reader derives the eligible
    *     part_id interval, so the scan's PartitionFilters prune 5-6 of the 8
    *     directories before any I/O (PlanSpec-asserted) — at 100 TB that is
    *     the difference between reading ~an eighth of the table and all of
    *     it. Pruning is conservative by construction — every row with key in
    *     [lo, hi) has part_id in the derived interval — so the result is
    *     value-identical to the unpartitioned scan, which is exactly what
    *     the DuckDB oracle runs.
    */
  def layoutRead(s: SparkSession, d: String): DataFrame = {
    val key = unix_timestamp(col("o_orderdate"))
    val bs: Seq[Long] = Tables(s, d, "orders")
      .select(key.as("k"))
      .agg(percentile_approx(col("k"),
        array((1 to 7).map(i => lit(i / 8.0)): _*), lit(1000000)).as("bs"))
      .head.getSeq[Long](0)
    val partId = bs.foldLeft(lit(0)) { (acc, b) =>
      acc + when(key >= lit(b), 1).otherwise(0)
    }
    // under the session's own temp root (Spark deletes it at stop), so
    // two JVMs laying out the same sf dir never share the directory
    val layoutDir = org.apache.spark.SparkFiles.getRootDirectory() +
      "/graft_layout_orders_" + Integer.toHexString(d.hashCode)
    Tables(s, d, "orders")
      .withColumn("part_id", partId.cast("int"))
      .repartitionByRange(8, col("part_id"), col("o_orderdate"))
      .write.mode("overwrite").partitionBy("part_id").parquet(layoutDir)
    // UTC epoch-second bounds for [1996-01-01, 1997-01-01) — the session
    // timezone is UTC, so driver-side LocalDate arithmetic matches
    // unix_timestamp exactly
    def epochS(iso: String): Long = java.time.LocalDate.parse(iso).toEpochDay * 86400L
    val (loS, hiS) = (epochS("1996-01-01"), epochS("1997-01-01"))
    val pLo = bs.count(_ <= loS)  // part of the first eligible key
    val pHi = bs.count(_ <= hiS - 1) // part of the last eligible key
    s.read.parquet(layoutDir)
      .filter(col("part_id").between(pLo, pHi) &&
        key >= lit(loS) && key < lit(hiS))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        ExactMoney.sum2(col("o_totalprice")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Sequence packing (concat-then-chunk, GPT-style): documents are sharded,
    * token counts cumulated per shard in doc_id order, and a bin boundary
    * falls every `binTokens` tokens. One window shuffle on the shard key; no
    * reducer sees more than corpus/shards rows, so `shards` is THE scale
    * knob — it defaults from the session's parallelism (thousands on a real
    * cluster) rather than a constant that would cap the window at 8-way.
    */
  def packSequences(documents: DataFrame, shards: Int = 0,
      binTokens: Int = 2048): DataFrame = {
    val nShards =
      if (shards > 0) shards
      else documents.sparkSession.sparkContext.defaultParallelism
    val t = documents
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_tok"),
        (col("doc_id") % nShards).as("shard"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    t.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin_id", expr(s"(cum - n_tok) div $binTokens"))
      .groupBy(col("shard"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("shard", "bin_id")
  }

  val queries: Map[String, Q] = Map(
    // ---- benchmark-contamination detection: word-4-gram overlap between an
    //      eval slice (doc_id % 97 == 0 — stand-in for a benchmark set) and
    //      the train remainder. Distinct grams per doc, shuffled join on the
    //      gram key (near-unique → no skew), eval grams deduped first so the
    //      join's build side is bounded by the benchmark size. Production
    //      pipelines use 8-13-grams of a real vocabulary; the synthetic
    //      ~30-word vocab makes 4 the equivalent signal. At production scale
    //      the gram strings would be 64-bit hashes; strings keep the oracle
    //      byte-exact here ----
    "q_contamination" -> ((s, d) => {
      val grams = tokenized(s, d)
        .filter(size(col("w")) >= 4)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(1), size(col("w")) - 3),
            i => concat_ws(" ", slice(col("w"), i, lit(4)))))).as("gram"))
      val evalG = grams.filter(col("doc_id") % 97 === 0)
        .select("gram").distinct()
      grams.filter(col("doc_id") % 97 =!= 0)
        .join(evalG, "gram")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .orderBy("doc_id")
    }),

    // ---- decontamination APPLY: the removal step downstream of
    //      q_contamination. Contaminated train doc ids (any eval-gram
    //      overlap) are removed with a left_anti join — only 8-byte doc ids
    //      shuffle, never text — and the kept train corpus is reported as a
    //      per-lang census. Same gram pipeline as the detector, so the two
    //      stay consistent by construction ----
    "q_decontaminate" -> ((s, d) => {
      val grams = tokenized(s, d)
        .filter(size(col("w")) >= 4)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(1), size(col("w")) - 3),
            i => concat_ws(" ", slice(col("w"), i, lit(4)))))).as("gram"))
      val evalG = grams.filter(col("doc_id") % 97 === 0)
        .select("gram").distinct()
      val dirty = grams.filter(col("doc_id") % 97 =!= 0)
        .join(evalG, "gram")
        .select("doc_id").distinct()
      docs(s, d).filter(col("doc_id") % 97 =!= 0)
        .join(dirty, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("sum_chars"))
        .orderBy("lang")
    }),

    // ---- n-gram novelty scoring (dedup-aware curriculum signal): the
    //      fraction of a doc's distinct word-4-grams that appear in NO
    //      earlier doc (doc_id order = ingest order). High-novelty docs
    //      carry new content; near-zero novelty marks templated/boiler-
    //      plate tails that exact+near dedup both miss (they need the
    //      WHOLE doc to repeat — novelty sees gram-level reuse). One
    //      fine-key agg (min doc per gram) + one fine-key join back;
    //      novelty in integer basis points — no float ratios in the gate.
    //      The gram stream is the q_decontaminate shape, never collected ----
    "q_gram_novelty" -> ((s, d) => {
      val grams = tokenized(s, d)
        .filter(size(col("w")) >= 4)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(1), size(col("w")) - 3),
            i => concat_ws(" ", slice(col("w"), i, lit(4)))))).as("gram"))
      val first = grams.groupBy(col("gram"))
        .agg(min(col("doc_id")).as("first_doc"))
      grams.join(first, "gram")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          expr("(n_novel * 10000) div n_grams").as("novelty_bp"))
        .orderBy("doc_id")
    }),

    // ---- Bloom-gated decontamination (the 100 TB shape of
    //      q_decontaminate, same exact answer): a Bloom filter over the
    //      eval gram set (~10 bits/elem at 1% FPP — 10-50× smaller than
    //      the set itself) pre-gates the TRAIN gram stream with a
    //      codegen'd per-row predicate BEFORE any shuffle, so ~99% of
    //      train grams never leave their input partition. Bloom filters
    //      have no false negatives, so the exact join on the survivors
    //      removes the ≤1% false positives and the result is IDENTICAL to
    //      the unfiltered plan — the oracle is the same SQL. Filter sized
    //      from the actual eval side (the q_bloom_join discipline) ----
    "q_bloom_decontaminate" -> ((s, d) => {
      val grams = tokenized(s, d)
        .filter(size(col("w")) >= 4)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(1), size(col("w")) - 3),
            i => concat_ws(" ", slice(col("w"), i, lit(4)))))).as("gram"))
      val evalG = grams.filter(col("doc_id") % 97 === 0)
        .select("gram").distinct().persistTracked()
      // the native might_contain predicate keys on BIGINT — gate on
      // xxhash64(gram) (both sides). A 64-bit pre-hash adds ~0 collision
      // mass on top of the filter's own 1% FPP, and the exact join removes
      // every false positive either way
      val bf = evalG.stat.bloomFilter(xxhash64(col("gram")),
        evalG.count().max(1024L), 0.01)
      val dirty = grams.filter(col("doc_id") % 97 =!= 0)
        .filter(graft.functions.SketchExprs.bloomMightContain(bf,
          xxhash64(col("gram"))))
        .join(evalG, "gram")
        .select("doc_id").distinct()
      docs(s, d).filter(col("doc_id") % 97 =!= 0)
        .join(dirty, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("sum_chars"))
        .orderBy("lang")
    }),

    // ---- Bloom-filter FPR calibration (the q_minhash_calibration story
    //      for membership sketches): measure the REAL false-positive rate
    //      of a d=2 integer-hash Bloom filter at three sizes, with insert
    //      and probe key sets DISJOINT by construction (o_orderkey % 10
    //      split) so every probe that passes both hash membership tests
    //      is a counted false positive. This is the number that sizes
    //      q_bloom_decontaminate's filter: m per key for a target FPR is
    //      read off the measured curve, not trusted from the formula.
    //      Each bit-set is ≤ m ≤ 65536 DISTINCT positions — broadcast by
    //      construction — so probes are two semi-joins against broadcast
    //      sets, pipelined, no probe-side shuffle; hashes are the shared
    //      LCG pair (exact int64, no overflow: (P−1)·1103515245 < 2⁶³) ----
    "q_bloom_fpr" -> ((s, d) => {
      val P = 2147483647L
      def h1(m: Int) = expr(s"((k % $P) * 1103515245 + 12345) % $P % $m")
      def h2(m: Int) = expr(s"((k % $P) * 69069 + 362437) % $P % $m")
      val keys = Tables(s, d, "orders").select(col("o_orderkey").as("k"))
      val ins = keys.filter(col("k") % 10 < 8).persistTracked()
      val pr = keys.filter(col("k") % 10 >= 8).persistTracked()
      val insN = ins.agg(count(lit(1)).as("n_inserted"))
      val prN = pr.agg(count(lit(1)).as("n_probes"))
      Seq(4096, 16384, 65536).map { m =>
        val setbits = ins.select(h1(m).as("pos"))
          .unionByName(ins.select(h2(m).as("pos"))).distinct()
          .persistTracked()
        val fp = pr
          .join(broadcast(setbits.select(col("pos").as("p1"))),
            h1(m) === col("p1"), "left_semi")
          .join(broadcast(setbits.select(col("pos").as("p2"))),
            h2(m) === col("p2"), "left_semi")
          .agg(count(lit(1)).as("n_false_pos"))
        fp.crossJoin(broadcast(setbits.agg(count(lit(1)).as("n_set_bits"))))
          .crossJoin(broadcast(insN))
          .crossJoin(broadcast(prN))
          .select(lit(m).as("m_bits"), col("n_inserted"),
            col("n_set_bits"), col("n_probes"), col("n_false_pos"),
            expr("(n_false_pos * 10000) div n_probes").as("fpr_bp"))
      }.reduce(_ unionByName _).orderBy("m_bits")
    }),

    // ---- Gopher-style repetition signals: top-token fraction, distinct
    //      fraction, duplicate-2-gram fraction. Two map-side-combined
    //      aggregations keyed (doc_id, token) / (doc_id, bigram) — fine keys,
    //      skew-proof — then a doc_id join. Purely distributive aggregates ----
    "q_quality_repetition" -> ((s, d) => {
      // NOT persisted: caching the token arrays (cache write + loss of
      // codegen fusion across the InMemoryRelation) measured 3× slower than
      // letting both branches re-tokenize — same trade TF-IDF documents
      val tok = tokenized(s, d)
      val toks = tok.select(col("doc_id"), explode(col("w")).as("t"))
      val wc = toks.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      val uni = wc.groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_tokens"),
        round(max(col("c")).cast("double") / sum(col("c")), 4).as("top_word_frac"),
        round(count(lit(1)).cast("double") / sum(col("c")), 4).as("distinct_frac"))
      val bi = tok
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(
          transform(sequence(lit(1), size(col("w")) - 1),
            i => concat_ws(" ", slice(col("w"), i, lit(2))))).as("g"))
        .groupBy(col("doc_id"))
        .agg(round(lit(1) - countDistinct(col("g")).cast("double") / count(lit(1)), 4)
          .as("dup_bigram_frac"))
      uni.join(bi, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("top_word_frac"),
          col("distinct_frac"), col("dup_bigram_frac"))
        .orderBy("doc_id")
    }),

    // ---- sequence packing (see [[packSequences]]); the oracle-gated entry
    //      pins shards=8 so the result is engine-independent, the shard
    //      count itself defaults from the cluster's parallelism ----
    "q_pack_sequences" -> ((s, d) => packSequences(docs(s, d), shards = 8)),

    // ---- PII scrubbing: redact emails/phones via regex, count the hits.
    //      The synthetic corpus contains no PII, so a deterministic PII
    //      suffix derived from doc_id is appended first — both engines
    //      derive the identical augmented text, and the scrubber is
    //      exercised for real. Pure per-row work: no shuffle before the
    //      oracle ORDER BY ----
    "q_pii_scrub" -> ((s, d) => {
      val emailRe = "[a-z0-9]+@[a-z]+\\.com"
      val phoneRe = "\\+1-555-[0-9]{4}"
      val aug = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val scrubbed = regexp_replace(
        regexp_replace(aug, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
      docs(s, d).select(col("doc_id"),
        size(regexp_extract_all(aug, lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(aug, lit(phoneRe), lit(0))).as("n_phones"),
        length(scrubbed).as("scrub_len"),
        md5(scrubbed).as("scrub_md5"))
        .orderBy("doc_id")
    }),

    // ---- URL parsing (web-corpus op): host/path/query extraction with
    //      Spark's parse_url over URLs derived deterministically from the
    //      table, then per-host aggregation. Per-row parse + one
    //      map-side-combined groupBy on host (20 sources → fine at any
    //      scale since host cardinality grows with the corpus) ----
    "q_url_parse" -> ((s, d) => {
      val url = concat(lit("https://"), col("source"), lit(".example.com/"),
        col("lang"), lit("/"), col("doc_id"), lit("?page="), col("doc_id") % 7)
      docs(s, d)
        .select(parse_url(url, lit("HOST")).as("host"),
          parse_url(url, lit("QUERY"), lit("page")).cast("long").as("page"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_urls"), sum(col("page")).as("sum_page"))
        .orderBy("host")
    }),

    // ---- bloom-filter join pre-pruning: build a bloom filter over the
    //      SMALL side's join keys (selective orders — same size class as a
    //      broadcast build side), ship it once, and drop non-matching
    //      lineitem rows BEFORE the join shuffle. False positives are
    //      removed by the exact join, so the result is exact; false
    //      negatives don't exist. At 100 TB this turns a full-corpus
    //      shuffle into a ~10% shuffle ----
    "q_bloom_join" -> ((s, d) => {
      val sel = Tables(s, d, "orders")
        .filter(col("o_totalprice") > 450000.0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .persistTracked()
      // filter sized from the actual build side (a count on the small,
      // already-persisted side), not a constant — the false-positive rate
      // holds at every scale factor instead of degrading past a fixed cap
      val bf = sel.stat.bloomFilter("o_orderkey", sel.count().max(1024L), 0.01)
      // native codegen'd membership predicate — no per-row Scala UDF boxing
      Tables(s, d, "lineitem")
        .filter(graft.functions.SketchExprs.bloomMightContain(bf, col("l_orderkey")))
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(max(col("o_totalprice")), 2).as("o_price"))
        .orderBy("o_orderkey")
    }),

    // ---- approx-quantile, production shape: ONLY the mergeable sketch agg
    //      (map-side partials, no per-group full sort) — the plan a 100 TB
    //      user runs, benched separately from the exact anchor below so the
    //      bench tracks the sketch path, not the oracle scaffolding. At the
    //      fixture SFs the 10⁻⁶-error sketch retains every value (n < ~5·10⁵
    //      per group), so its output is the exact discrete 90th-percentile
    //      element and DuckDB's quantile_disc oracle value-checks it; at
    //      100 TB the same plan degrades gracefully to ±10⁻⁶ rank error ----
    "q_quantile_sketch" -> ((s, d) =>
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.9), lit(1000000))
          .as("ap90"))
        .select(col("l_returnflag"), round(col("ap90"), 2).as("p90_disc"))
        .orderBy("l_returnflag")),

    // ---- join-key skew report: the diagnostic a pipeline runs BEFORE
    //      choosing plain vs salted vs AQE-skew join for a key. Per-key
    //      counts (map-side-combined fine shuffle), reduced to a 1-row
    //      profile: key count, max/avg frequency, skew ratio, and the top-3
    //      hot keys (TakeOrderedAndProject heap — constant rows moved).
    //      At 100 TB this is the cheap pre-pass that tells you whether
    //      q_join_salted's layout is even needed ----
    "q_skew_report" -> ((s, d) => {
      val cnt = Tables(s, d, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val stats = cnt.agg(count(lit(1)).as("n_keys"),
        max(col("c")).as("max_c"), sum(col("c")).as("total"))
      // top keys rendered sorted by id: collect_list order after a sorted
      // limit is not contractual, array_sort is — deterministic either engine
      val top = cnt.orderBy(col("c").desc, col("user_id").asc).limit(3)
        .agg(array_join(array_sort(collect_list(col("user_id"))), ",")
          .as("top_keys"))
      stats.crossJoin(top)
        .select(col("n_keys"), col("max_c"),
          round(col("total").cast("double") / col("n_keys"), 4).as("avg_c"),
          round(col("max_c") /
            (col("total").cast("double") / col("n_keys")), 4).as("skew"),
          col("top_keys"))
    }),

    // ---- declarative data-quality rules census: N assertions about a
    //      table evaluated in ONE scan pass (every rule is a conditional
    //      sum in the same aggregate — adding a rule adds zero passes),
    //      then pivoted to a (rule, n_violations, pass) report. The
    //      single-table complement of q_fk_audit's cross-table checks;
    //      at 100 TB the census costs one map-side-combined scan whatever
    //      the rule count ----
    "q_dq_rules" -> ((s, d) => {
      val a = Tables(s, d, "orders").agg(
        sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("r_price"),
        sum(when(col("o_orderdate") < to_timestamp(lit("1990-01-01")) ||
          col("o_orderdate") >= to_timestamp(lit("2006-01-01")), 1L)
          .otherwise(0L)).as("r_date"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("r_cust"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("r_dupkey"))
      a.select(explode(map(
          lit("order_date_in_range"), col("r_date"),
          lit("orderkey_unique"), col("r_dupkey"),
          lit("custkey_not_null"), col("r_cust"),
          lit("totalprice_positive"), col("r_price")))
          .as(Seq("rule", "n_violations")))
        .withColumn("pass", col("n_violations") === 0L)
        .orderBy("rule")
    }),

    // ---- Lorenz deciles (concentration census): how concentrated is
    //      revenue across customers — the inequality diagnostic a corpus
    //      curator runs on source/host contribution before fixing mixture
    //      weights. NOT the textbook global-rank Gini (a full sort at
    //      100 TB): decile thresholds come from one mergeable
    //      percentile_approx pass, assignment is a 9-row broadcast range
    //      join, and the cumulative share windows over the 10-row decile
    //      census. Per-customer revenue is rounded to cents BEFORE
    //      ranking so both engines rank identical multisets ----
    "q_lorenz_deciles" -> ((s, d) => {
      val rev = Tables(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      val th = rev.agg(percentile_approx(col("rev"),
          array((1 to 9).map(i => lit(i / 10.0)): _*), lit(1000000)).as("ts"))
        .select(explode(col("ts")).as("thr"))
      val dec = rev.join(broadcast(th), col("rev") > col("thr"), "left")
        .groupBy(col("o_custkey"), col("rev"))
        .agg((count(col("thr")) + 1).as("decile"))
      val d10 = dec.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("rev")), 2).as("revenue"))
      val tot = d10.agg(sum(col("revenue")).as("tot"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d10.crossJoin(broadcast(tot))
        .withColumn("cum_share",
          round(sum(col("revenue")).over(w) / col("tot"), 6))
        .select(col("decile"), col("n_customers"), col("revenue"),
          col("cum_share"))
        .orderBy("decile")
    }),

    // ---- join-cardinality pre-flight: estimate |events ⋈ events on
    //      user_id| (the quadratic self-join blowup) from a deterministic
    //      md5 key sample BEFORE running the join — the q_skew_report
    //      sibling an optimizer consults. True size = Σ_k c(k)² computed
    //      from per-key counts (never executing the join); estimate =
    //      4 × the same sum over the 4/16 md5-prefix key sample. All
    //      integer until the final error percentage; per-key counts are
    //      one map-side-combined groupBy ----
    "q_join_cardinality" -> ((s, d) => {
      val cnt = Tables(s, d, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .withColumn("sampled",
          substring(md5(col("user_id").cast("string")), 1, 1) <= "3")
      cnt.agg(count(lit(1)).as("n_keys"),
          sum(col("c") * col("c")).as("true_rows"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sample_keys"),
          (sum(when(col("sampled"), col("c") * col("c")).otherwise(0L)) * 4)
            .as("est_rows"))
        .select(col("n_keys"), col("true_rows"), col("n_sample_keys"),
          col("est_rows"),
          round((col("est_rows") - col("true_rows")).cast("double") /
            col("true_rows").cast("double") * 100.0, 2).as("err_pct"))
    }),

    // ---- incremental view maintenance: a per-customer revenue rollup is
    //      MAINTAINED under the CDC batch by aggregating the (tiny) change
    //      set into per-key deltas and merging them into the old rollup —
    //      the base table is never rescanned. The oracle mirrors the same
    //      base-sum + delta-sum expression (identical FP term multisets, so
    //      the hash gate is fixture-robust); delta ≡ from-scratch recompute
    //      is proven in PipelineSpec with an explicit tolerance. At
    //      100 TB this is touching |changes| rows instead of |base| rows;
    //      both aggregations are map-side-combined on the fine customer key
    //      and the delta side is change-batch-sized ----
    "q_ivm_rollup" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      // exact integer cents (r16 margin census): the base and delta sums
      // become order-free exact aggregates, so delta ≡ recompute holds
      // as integer identity, not an FP-term-multiset argument; per-row
      // units stay LONG via the grid-exact floor device on SumCents's
      // fast path (r16 opt — round()/decimal both cost a BigDecimal/row)
      val centsL = ExactMoney.centsL(col("o_totalprice"))
      val oldRoll = o.filter(col("o_orderkey") % 10 < 8)
        .groupBy(col("o_custkey"))
        .agg(graft.functions.SumCents.sum(centsL).as("rev_c"),
          count(lit(1)).as("n"))
      val deltas = o.filter((col("o_orderkey") % 10).isin(3, 7, 8))
        .select(col("o_custkey"),
          when(col("o_orderkey") % 10 === 3, -centsL)
            .when(col("o_orderkey") % 10 === 7, lit(10000L)) // (p+100)−p
            .otherwise(centsL + lit(10000L))
            .as("d_rev_c"),
          when(col("o_orderkey") % 10 === 3, -1L)
            .when(col("o_orderkey") % 10 === 7, 0L)
            .otherwise(1L).as("d_n"))
        .groupBy(col("o_custkey"))
        .agg(graft.functions.SumCents.sum(col("d_rev_c")).as("d_rev_c"),
          sum(col("d_n")).as("d_n"))
      oldRoll.join(deltas, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          (coalesce(col("rev_c"), lit(0)) +
            coalesce(col("d_rev_c"), lit(0))).as("rev_c_total"),
          (coalesce(col("n"), lit(0L)) +
            coalesce(col("d_n"), lit(0L))).as("n_orders"))
        .filter(col("n_orders") > 0)
        .select(col("o_custkey"),
          round(col("rev_c_total").cast("double") / 100, 2).as("revenue"),
          col("n_orders"))
        .orderBy("o_custkey")
    }),

    // ---- range-partition layout planning: the boundary table a
    //      repartitionByRange writer uses — 7 split points dividing the
    //      o_orderdate key space into 8 equal-mass shards, from ONE
    //      mergeable percentile_approx pass (map-side partials, no sort of
    //      the table). Exact at fixture scale (sketch retains all values);
    //      at 100 TB the identical plan holds with ±10⁻⁶·n rank error
    //      spreading shard mass — which is what range-partitioned writers
    //      (and Spark's own RangePartitioner sampling) accept by design ----
    "q_range_layout" -> ((s, d) => {
      val k = Tables(s, d, "orders")
        .select(unix_timestamp(col("o_orderdate")).as("k"))
      k.agg(percentile_approx(col("k"),
          array((1 to 7).map(i => lit(i / 8.0)): _*), lit(1000000)).as("bs"))
        .select(posexplode(col("bs")).as(Seq("p", "boundary_s")))
        .select((col("p") + 1).cast("long").as("part_id"), col("boundary_s"))
        .orderBy("part_id")
    }),

    // ---- the layout CLOSED: materialize orders directory-partitioned by
    //      the planned boundaries, then answer a date-range query through a
    //      layout-aware read whose scan PRUNES partitions (see
    //      [[layoutRead]]; PlanSpec asserts the pruning) ----
    "q_layout_read" -> ((s, d) => layoutRead(s, d)),

    // ---- approx-quantile sketch vs exact (the percentile analog of
    //      q_agg_approx's HLL): the approx value is mergeable partial state,
    //      value-checked by reducing it to its error bound against the exact
    //      interpolated percentile, which IS oracle-able. The exact column's
    //      per-group sort is correctness scaffolding — q_quantile_sketch
    //      above is the plan that ships ----
    "q_approx_quantile" -> ((s, d) =>
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_extendedprice"), lit(0.9)).as("p90"),
          percentile_approx(col("l_extendedprice"), lit(0.9), lit(10000))
            .as("ap90"))
        .select(col("l_returnflag"), round(col("p90"), 2).as("p90_exact"),
          (abs(col("ap90") - col("p90")) / col("p90") <= 0.01).as("approx_ok"))
        .orderBy("l_returnflag")),

    // ---- incremental-ingest dedup: a new batch (doc_id % 10 == 9 stands in
    //      for today's crawl) is checked against the historical corpus by
    //      content fingerprint; only never-seen content is kept. Left-anti
    //      hash join on md5 — shuffles ONLY the fingerprints (16 bytes/doc),
    //      never the text, and the anti join is the streaming-friendly shape
    //      (same keys drive the watermarked streaming dedup twin) ----
    "q_dedup_incremental" -> ((s, d) => {
      val fp = docs(s, d).select(col("doc_id"), md5(col("text")).as("fp"))
      val hist = fp.filter(col("doc_id") % 10 =!= 9).select("fp").distinct()
      fp.filter(col("doc_id") % 10 === 9)
        .join(hist, Seq("fp"), "left_anti")
        .select(col("doc_id"), col("fp"))
        .orderBy("doc_id")
    }),

    // ---- sliding-window document chunking (RAG/eval-context style — the
    //      SPLITTING counterpart of q_pack_sequences' concatenation): 32-
    //      token windows every 16 tokens, so consecutive chunks overlap by
    //      half. Pure per-row expansion (no shuffle before the final ORDER
    //      BY); each chunk carries its start offset, length, and content
    //      md5 — the id a chunk-level dedup or embedding stage would key on.
    //      Starts run to len−stride (not len−win+1), so the final —
    //      possibly truncated — window always reaches the last token: full
    //      tiling coverage, PipelineSpec-proven. Short docs yield one
    //      full-doc chunk ----
    "q_chunk_overlap" -> ((s, d) => {
      val win = 32; val stride = 16
      tokenized(s, d)
        .select(col("doc_id"), col("w"), explode(
          sequence(lit(1), greatest(lit(1), size(col("w")) - stride),
            lit(stride))).as("start"))
        .select(col("doc_id"), col("start").cast("long").as("start"),
          slice(col("w"), col("start"), lit(win)).as("chunk"))
        .select(col("doc_id"), col("start"),
          size(col("chunk")).cast("long").as("n_tok"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
        .orderBy("doc_id", "start")
    }),

    // ---- referential-integrity audit (the FK half of q_profile's census):
    //      orphan counts for each declared relationship via LEFT ANTI joins
    //      on the key columns only — no payload moves, each check is one
    //      fine-key shuffle (or a broadcast when the parent key set is
    //      dim-sized), and the output is one row per relationship
    //      regardless of table size. The audit a pipeline runs before
    //      trusting joins downstream ----
    "q_fk_audit" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
      def check(rel: String, child: DataFrame, key: String,
          parent: DataFrame, pkey: String): DataFrame = {
        val orphans = child.select(col(key))
          .join(parent.select(col(pkey).as(key)).distinct(), Seq(key), "left_anti")
        child.agg(count(lit(1)).as("n_children"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(rel).as("relationship"), col("n_children"), col("n_orphans"))
      }
      check("lineitem->orders", li, "l_orderkey", Tables(s, d, "orders"), "o_orderkey")
        .unionByName(check("lineitem->part", li, "l_partkey",
          Tables(s, d, "part"), "p_partkey"))
        .unionByName(check("lineitem->supplier", li, "l_suppkey",
          Tables(s, d, "supplier"), "s_suppkey"))
        .unionByName(check("orders->customer", Tables(s, d, "orders"), "o_custkey",
          Tables(s, d, "customer"), "c_custkey"))
        .orderBy("relationship")
    }),

    // ---- snapshot reconciliation (merkle-style drift detection): two
    //      table versions are each reduced to 64 bucket checksums — count +
    //      order-independent sum of a pure-BIGINT row hash (the shared LCG
    //      constants; sum in decimal(38,0) so no wrap at any row count) —
    //      and only DIFFERING buckets are reported. At 100 TB this is how
    //      replicas/backups are compared without moving either table: two
    //      scans, map-side-combined aggs onto 64 rows, a 64-row join; a
    //      production run raises the bucket count (the shape is unchanged)
    //      and recurses into differing buckets only. Fixture drift = the
    //      CDC batch (delete %10=3, reprice %10=7, insert %10=8) ----
    "q_table_diff" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val P = 2147483647L
      def digest(df: DataFrame, n: String, h: String): DataFrame = df
        .select((col("o_orderkey") % 64).as("bucket"),
          // r17: floor-cents (value-identical to round() on the 2-dp
          // o_totalprice grid, no per-row BigDecimal) and SumCents
          // (all-long buffers; rowh < 2³¹ per row, Σ ≪ 2¹²² at any
          // corpus) replace the round()+decimal-sum digest — the SAME
          // integers bucket for bucket, cheaper per row
          (((col("o_orderkey") % P) * 1103515245L +
            (col("o_custkey") % P) * 12345L +
            graft.queries.ExactMoney.centsL(col("o_totalprice"))) % P)
            .as("rowh"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(n),
          (graft.functions.SumCents.sum(col("rowh")) % P).cast("long").as(h))
      val base = o.filter(col("o_orderkey") % 10 < 8)
      val snap = o.filter(col("o_orderkey") % 10 < 8 &&
          col("o_orderkey") % 10 =!= 3)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 7, col("o_totalprice") + 100.0)
            .otherwise(col("o_totalprice")))
        .unionByName(o.filter(col("o_orderkey") % 10 === 8)
          .withColumn("o_totalprice", col("o_totalprice") + 100.0))
      digest(base, "n_base", "h_base")
        .join(digest(snap, "n_snap", "h_snap"), Seq("bucket"), "full_outer")
        .filter(coalesce(col("n_base"), lit(-1L)) =!= coalesce(col("n_snap"), lit(-1L)) ||
          coalesce(col("h_base"), lit(-1L)) =!= coalesce(col("h_snap"), lit(-1L)))
        .select(col("bucket"), col("n_base"), col("n_snap"),
          col("h_base"), col("h_snap"))
        .orderBy("bucket")
    }),

    // ---- deterministic train/val/test split (90/5/5): membership is the
    //      shared integer LCG over doc_id — no RNG state, so the holdout is
    //      DISJOINT, reproducible across runs/engines/re-crawls, and needs
    //      zero coordination at 100 TB (a per-row filter; the census agg is
    //      one map-side-combined fine-key shuffle). Splitting by hash of a
    //      stable id — never by position or random() — is what keeps eval
    //      contamination out when the corpus is re-ingested ----
    "q_split_stratified" -> ((s, d) => {
      val bucket = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(1103515245L)
        + lit(12345L), lit(2147483647L)) % 100
      docs(s, d)
        .withColumn("split",
          when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .orderBy("source", "split")
    }),

    // ---- CDC merge (MERGE INTO semantics over a snapshot): apply a keyed
    //      change batch — updates, deletes, inserts — to the base table in
    //      ONE full-outer shuffle join on the key, the scale shape of a
    //      lakehouse MERGE: both sides hash-partition on o_orderkey (fine
    //      key, no hotspot), no driver loop, no per-row lookups; at 100 TB
    //      AQE broadcast-plans the (typically tiny) change side instead.
    //      The change batch is derived deterministically from orders so the
    //      oracle can reproduce it: key%10==3 → delete, ==7 → update
    //      (price+100), ==8 → insert (base holds key%10<8, so 8 is new) ----
    "q_cdc_merge" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val base = o.filter(col("o_orderkey") % 10 < 8)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val changes = o.filter((col("o_orderkey") % 10).isin(3, 7, 8))
        .select(col("o_orderkey"), col("o_custkey").as("ch_custkey"),
          when(col("o_orderkey") % 10 === 3, "D")
            .when(col("o_orderkey") % 10 === 7, "U")
            .otherwise("I").as("op"),
          (col("o_totalprice") + 100.0).as("new_price"))
      base.join(changes, Seq("o_orderkey"), "full_outer")
        .filter(coalesce(col("op"), lit("K")) =!= "D")
        .select(col("o_orderkey"),
          coalesce(col("o_custkey"), col("ch_custkey")).as("o_custkey"),
          coalesce(col("new_price"), col("o_totalprice")).as("price"),
          when(col("op").isNull, "kept")
            .when(col("op") === "U", "updated")
            .otherwise("inserted").as("action"))
        .orderBy("o_orderkey")
    }),

    // ---- span-level boilerplate detection (the exact-substring analog of
    //      doc-level MinHash dedup, à la C4's repeated-line removal): docs
    //      are chunked into non-overlapping 3-token spans, per-span document
    //      frequency is computed corpus-wide, and spans appearing in ≥ 3
    //      distinct docs are flagged as boilerplate. The df AGGREGATION is
    //      skew-proof (map-side combine); the stats JOIN back is where the
    //      Zipf head would hot-spot a reducer, so it runs as the standard
    //      HYBRID: the top-1024 heaviest spans (bounded by construction →
    //      broadcastable at any corpus size, TakeOrdered heap) resolve via
    //      broadcast joins, and only the near-unique tail shuffles on the
    //      span key. The head/tail split partitions the span set exactly,
    //      so results are identical to the plain join ----
    "q_span_dedup" -> ((s, d) => {
      val sp = tokenized(s, d)
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), expr("size(w) div 3").cast("int") - 1),
          i => concat_ws(" ", slice(col("w"), i * 3 + 1, lit(3))))).as("span"))
        .persistTracked() // df + both hybrid branches reuse the exploded spans
      val df = sp.groupBy(col("span"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
      val head = df.orderBy(col("ndocs").desc, col("span").asc).limit(1024)
      val tail = df.join(broadcast(head.select("span")), Seq("span"), "left_anti")
      val joined = sp.join(broadcast(head), "span")
        .unionByName(
          sp.join(broadcast(head.select("span")), Seq("span"), "left_anti")
            .join(tail, "span"))
      joined
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("ndocs") >= 3, 1L).otherwise(0L)).as("n_boiler"),
          // exact integer sum ÷ count, ONE double division — not
          // avg(double): the r16 margin census found a doc whose true
          // avg_span_df sits exactly ON a 4-dp half boundary, and an
          // exact numerator makes the rounded grain a pure function of
          // the data at any scale (double Average is only exact while
          // totals stay under 2^53)
          round(sum(col("ndocs")).cast("double") / count(lit(1)), 4)
            .as("avg_span_df"))
        .orderBy("doc_id")
    }),

    // ---- array-function matrix over token arrays (per-row, no shuffle) ----
    "q_array_fns" -> ((s, d) =>
      tokenized(s, d).select(col("doc_id"),
        size(col("w")).as("n_words"),
        concat_ws(",", slice(array_sort(array_distinct(col("w"))), 1, 5))
          .as("first5_distinct"),
        element_at(col("w"), 1).as("first_w"),
        element_at(col("w"), -1).as("last_w"),
        array_contains(col("w"), "spark").as("has_spark"))
        .orderBy("doc_id")),

    // ---- Heaps'-law vocabulary-growth fit (new in r14) — q_zipf_slope's
    //      growth-side sibling: V(N) ≈ K·N^β estimated from 10 corpus
    //      prefixes. Prefixes cut on doc_id VALUE deciles (an explicit
    //      10-row spine off the 1-row max — NO corpus-sized window/rank
    //      anywhere): V(k) counts the token FIRST-OCCURRENCE census below
    //      each cut, N(k) sums the per-doc token census. The log-log OLS
    //      moments are EXACT: the per-row-rounded lns (round(ln·,9)) are
    //      scaled ×1e9 to integers and all four moments ride decimal(38,0)
    //      (the q_granger_lite device) — order-free under any partial-agg
    //      tree, so the slope's sign cannot flip with parallelism (the r14
    //      gate red: on a constant-vocab fixture the true slope is 0 and a
    //      plain double sum's summation-order residue rounded to 0.0 at 8
    //      cores but -0.0 at local[32]). beta and ln_k are each ONE double
    //      division of exact integers, then round + 0.0 normalizes any
    //      signed zero. β ≈ 0.4-0.6 for natural text — the capacity number
    //      a tokenizer budget at 100 TB is planned from ----
    "q_heaps_law" -> ((s, d) => {
      val tk = tokenized(s, d)
        .select(col("doc_id"), explode(col("w")).as("t"))
        .filter(col("t") =!= "")
        .persistTracked()
      val mx = tk.agg(max(col("doc_id")).as("mx"))
      val first = tk.groupBy(col("t")).agg(min(col("doc_id")).as("fd"))
      val perDoc = tk.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
      val spine = s.range(1, 11).select(col("id").as("k"))
        .crossJoin(broadcast(mx))
        .select(col("k"), expr("(mx + 1) * k div 10").as("thr"))
      // spine broadcasts (10 rows); the vocab census is never broadcast
      val vk = first.join(broadcast(spine), col("fd") < col("thr"))
        .groupBy(col("k")).agg(count(lit(1)).as("vocab_cum"))
      val nk = perDoc.join(broadcast(spine), col("doc_id") < col("thr"))
        .groupBy(col("k")).agg(sum(col("nt")).as("tokens_cum"))
      val pts = vk.join(nk, "k")
        .select(col("k"), col("tokens_cum"), col("vocab_cum"),
          expr("cast(round(round(ln(cast(tokens_cum as double)), 9) * 1e9," +
            " 0) as decimal(38,0))").as("xi"),
          expr("cast(round(round(ln(cast(vocab_cum as double)), 9) * 1e9," +
            " 0) as decimal(38,0))").as("yi"))
        .persistTracked()
      val fit = pts.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("xi")).as("sx"), sum(col("yi")).as("sy"),
          sum(expr("xi * yi")).as("sxy"), sum(expr("xi * xi")).as("sxx"))
        .select(col("n"), col("sx"), col("sy"),
          expr("n * sxy - sx * sy").as("num"),
          expr("n * sxx - sx * sx").as("den"))
        .select(
          (round(expr("cast(num as double) / cast(den as double)"), 4)
            + lit(0.0)).as("beta"),
          (round(expr("cast(sy * den - num * sx as double) / " +
            "cast(den * n * 1000000000 as double)"), 4) + lit(0.0))
            .as("ln_k"))
      pts.crossJoin(broadcast(fit))
        .select(col("k").as("decile"), col("tokens_cum"), col("vocab_cum"),
          col("beta"), col("ln_k"))
        .orderBy("decile")
    }),

    // ---- boilerplate share per source (new in r14) — the complement of
    //      q_gram_novelty's first-seen view: a 4-gram WINDOW (instance,
    //      not distinct) is boilerplate when its gram appears in ≥ 3
    //      distinct docs, and a source's boilerplate ratio is the share
    //      of its windows that are boilerplate — the corpus-triage number
    //      dedup thresholds are tuned from. The df census rides one
    //      fine-key gram shuffle and is never broadcast-HINTED (Spark's
    //      size estimate may still auto-broadcast it at bench SF; at
    //      vocab scale the same estimate flips it to a shuffle join);
    //      everything else is doc-sized ----
    "q_boilerplate" -> ((s, d) => {
      val grams = tokenized(s, d)
        .filter(size(col("w")) >= 4)
        .select(col("doc_id"), explode(
          transform(sequence(lit(1), size(col("w")) - 3),
            i => concat_ws(" ", slice(col("w"), i, lit(4))))).as("gram"))
        .persistTracked()
      val df = grams.select(col("doc_id"), col("gram")).distinct()
        .groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 3)
        .select(col("gram"), lit(1L).as("bp"))
      val docsrc = docs(s, d).select(col("doc_id"), col("source"))
      grams.join(df, Seq("gram"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nw"), coalesce(sum(col("bp")), lit(0L))
          .as("nb"))
        .join(docsrc, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_windows"),
          sum(col("nb")).as("n_boiler"))
        .select(col("source"), col("n_docs"), col("n_windows"),
          col("n_boiler"),
          expr("n_boiler * 10000 div n_windows").as("boiler_bp"))
        .orderBy("source")
    })
  )

  /** q_bloom_fpr oracle: same LCG pair, same disjoint split, one
    * generated branch per filter size. */
  private def bloomFprOracle: String = {
    val P = 2147483647L
    def h(m: Int, a: Long, b: Long) =
      s"((k % $P) * $a + $b) % $P % $m"
    val branches = Seq(4096, 16384, 65536).map { m =>
      val (x1, x2) = (h(m, 1103515245L, 12345L), h(m, 69069L, 362437L))
      s"""SELECT $m AS m_bits,
         |  (SELECT count(*) FROM ins) AS n_inserted,
         |  (SELECT count(DISTINCT pos) FROM (
         |     SELECT $x1 AS pos FROM ins
         |     UNION ALL SELECT $x2 FROM ins)) AS n_set_bits,
         |  (SELECT count(*) FROM pr) AS n_probes,
         |  (SELECT count(*) FROM pr
         |   WHERE $x1 IN (SELECT $x1 FROM ins
         |                 UNION SELECT $x2 FROM ins)
         |     AND $x2 IN (SELECT $x1 FROM ins
         |                 UNION SELECT $x2 FROM ins)) AS n_false_pos""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\n")
    s"""WITH ins AS MATERIALIZED (
       |  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 10 < 8),
       |pr AS MATERIALIZED (
       |  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 10 >= 8),
       |u AS ($branches)
       |SELECT m_bits, n_inserted, n_set_bits, n_probes, n_false_pos,
       |       (n_false_pos * 10000) // n_probes AS fpr_bp
       |FROM u ORDER BY m_bits""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_bloom_fpr" -> bloomFprOracle,

    "q_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           range(1, len(w) - 2),
        |           i -> array_to_string(w[i:i+3], ' ')))) AS gram
        |  FROM toks WHERE len(w) >= 4),
        |eval_g AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0)
        |SELECT g.doc_id, count(*) AS n_overlap
        |FROM grams g JOIN eval_g e USING (gram)
        |WHERE g.doc_id % 97 <> 0
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    "q_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           range(1, len(w) - 2),
        |           i -> array_to_string(w[i:i+3], ' ')))) AS gram
        |  FROM toks WHERE len(w) >= 4),
        |eval_g AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
        |dirty AS (SELECT DISTINCT g.doc_id
        |          FROM grams g JOIN eval_g e USING (gram)
        |          WHERE g.doc_id % 97 <> 0)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents d
        |WHERE d.doc_id % 97 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM dirty x WHERE x.doc_id = d.doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_gram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           range(1, len(w) - 2),
        |           i -> array_to_string(w[i:i+3], ' ')))) AS gram
        |  FROM toks WHERE len(w) >= 4),
        |fst AS (SELECT gram, min(doc_id) AS first_doc
        |        FROM grams GROUP BY gram)
        |SELECT g.doc_id, count(*) AS n_grams,
        |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_novel,
        |       (CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |             AS BIGINT) * 10000) // count(*) AS novelty_bp
        |FROM grams g JOIN fst f USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    // the Bloom pre-gate changes the PLAN, not the answer (no false
    // negatives + exact verify join) — same oracle as q_decontaminate
    "q_bloom_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           range(1, len(w) - 2),
        |           i -> array_to_string(w[i:i+3], ' ')))) AS gram
        |  FROM toks WHERE len(w) >= 4),
        |eval_g AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
        |dirty AS (SELECT DISTINCT g.doc_id
        |          FROM grams g JOIN eval_g e USING (gram)
        |          WHERE g.doc_id % 97 <> 0)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents d
        |WHERE d.doc_id % 97 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM dirty x WHERE x.doc_id = d.doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_quality_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |wc AS (
        |  SELECT doc_id, t, count(*) AS c
        |  FROM (SELECT doc_id, unnest(w) AS t FROM toks)
        |  GROUP BY doc_id, t),
        |uni AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |         round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_word_frac,
        |         round(CAST(count(*) AS DOUBLE) / sum(c), 4) AS distinct_frac
        |  FROM wc GROUP BY doc_id),
        |bi AS (
        |  SELECT doc_id,
        |         round(1 - CAST(count(DISTINCT g) AS DOUBLE) / count(*), 4)
        |           AS dup_bigram_frac
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |               i -> array_to_string(w[i:i+1], ' '))) AS g
        |        FROM toks WHERE len(w) >= 2)
        |  GROUP BY doc_id)
        |SELECT uni.doc_id, n_tokens, top_word_frac, distinct_frac, dup_bigram_frac
        |FROM uni LEFT JOIN bi ON uni.doc_id = bi.doc_id
        |ORDER BY uni.doc_id""".stripMargin,

    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         length(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
        |         doc_id % 8 AS shard
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (
        |  SELECT doc_id, n_tok, shard,
        |         CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t)
        |SELECT shard, (cum - n_tok) // 2048 AS bin_id,
        |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY shard, bin_id ORDER BY shard, bin_id""".stripMargin,

    "q_pii_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text || ' contact user' || doc_id ||
        |         '@example.com or call +1-555-' ||
        |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS a
        |  FROM documents),
        |scrub AS (
        |  SELECT doc_id, a,
        |         regexp_replace(
        |           regexp_replace(a, '[a-z0-9]+@[a-z]+\.com', '<EMAIL>', 'g'),
        |           '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS sc
        |  FROM aug)
        |SELECT doc_id,
        |       len(regexp_extract_all(a, '[a-z0-9]+@[a-z]+\.com')) AS n_emails,
        |       len(regexp_extract_all(a, '\+1-555-[0-9]{4}')) AS n_phones,
        |       length(sc) AS scrub_len,
        |       md5(sc) AS scrub_md5
        |FROM scrub ORDER BY doc_id""".stripMargin,

    // the oracle derives host/page algebraically from the same columns the
    // URL was built from — an independent check that parse_url inverted the
    // construction exactly
    "q_url_parse" ->
      """SELECT source || '.example.com' AS host,
        |       count(*) AS n_urls, CAST(sum(doc_id % 7) AS BIGINT) AS sum_page
        |FROM documents GROUP BY host ORDER BY host""".stripMargin,

    // oracle is the PLAIN selective join — proves the bloom pre-filter
    // changed nothing about the result
    "q_bloom_join" ->
      """SELECT o_orderkey, count(*) AS n_lines,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
        |       round(max(o_totalprice), 2) AS o_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 450000.0
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,

    // the oracle is the from-scratch recompute over the merged snapshot —
    // value-equality proves delta maintenance ≡ recomputation
    // the oracle mirrors the DELTA formulation (base-sum + delta-sum), not a
    // from-scratch recompute of the merged snapshot: recompute sums a
    // different FP term multiset, so its round(.., 2) could flip on a true
    // sum near a half-cent boundary — a fixture regeneration hazard, not a
    // code bug. Delta ≡ recompute is proven separately in PipelineSpec
    // (recompute twin, explicit half-ulp tolerance).
    "q_dq_rules" ->
      """WITH a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS r_price,
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
        |                    OR o_orderdate >= TIMESTAMP '2006-01-01'
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS r_date,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS r_cust,
        |    count(*) - count(DISTINCT o_orderkey) AS r_dupkey
        |  FROM orders)
        |SELECT rule, n_violations, n_violations = 0 AS pass FROM (
        |  SELECT 'order_date_in_range' AS rule, r_date AS n_violations FROM a
        |  UNION ALL SELECT 'orderkey_unique', r_dupkey FROM a
        |  UNION ALL SELECT 'custkey_not_null', r_cust FROM a
        |  UNION ALL SELECT 'totalprice_positive', r_price FROM a)
        |ORDER BY rule""".stripMargin,

    // strict > against discrete thresholds: boundary values land in the
    // lower decile on both engines; the 10-row window sums in frame order
    "q_lorenz_deciles" ->
      """WITH rev AS (
        |  SELECT o_custkey, round(sum(o_totalprice), 2) AS rev
        |  FROM orders GROUP BY o_custkey),
        |th AS (
        |  SELECT unnest(quantile_disc(rev,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])) AS thr
        |  FROM rev),
        |dec AS (
        |  SELECT r.o_custkey, r.rev, count(t.thr) + 1 AS decile
        |  FROM rev r LEFT JOIN th t ON r.rev > t.thr
        |  GROUP BY r.o_custkey, r.rev),
        |d AS (
        |  SELECT decile, count(*) AS n_customers,
        |         round(sum(rev), 2) AS revenue
        |  FROM dec GROUP BY decile),
        |tot AS (SELECT sum(revenue) AS tot FROM d)
        |SELECT decile, n_customers, revenue,
        |       round(sum(revenue) OVER (ORDER BY decile
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         / (SELECT tot FROM tot), 6) AS cum_share
        |FROM d ORDER BY decile""".stripMargin,

    "q_join_cardinality" ->
      """WITH c AS (
        |  SELECT user_id, count(*) AS c,
        |         substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '3' AS sampled
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT count(*) AS n_keys,
        |         CAST(sum(c * c) AS BIGINT) AS true_rows,
        |         CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_sample_keys,
        |         CAST(sum(CASE WHEN sampled THEN c * c ELSE 0 END) * 4
        |              AS BIGINT) AS est_rows
        |  FROM c)
        |SELECT n_keys, true_rows, n_sample_keys, est_rows,
        |       round(CAST(est_rows - true_rows AS DOUBLE) /
        |             CAST(true_rows AS DOUBLE) * 100.0, 2) AS err_pct
        |FROM a""".stripMargin,

    "q_ivm_rollup" ->
      """WITH roll AS (
        |  SELECT o_custkey,
        |         sum(CAST(round(o_totalprice*100) AS BIGINT)) AS rev_c,
        |         count(*) AS n
        |  FROM orders WHERE o_orderkey % 10 < 8 GROUP BY o_custkey),
        |d AS (
        |  SELECT o_custkey,
        |         sum(CASE WHEN o_orderkey % 10 = 3
        |                  THEN -CAST(round(o_totalprice*100) AS BIGINT)
        |                  WHEN o_orderkey % 10 = 7 THEN 10000
        |                  ELSE CAST(round(o_totalprice*100) AS BIGINT) + 10000
        |             END) AS d_rev_c,
        |         sum(CASE WHEN o_orderkey % 10 = 3 THEN -1
        |                  WHEN o_orderkey % 10 = 7 THEN 0 ELSE 1 END) AS d_n
        |  FROM orders WHERE o_orderkey % 10 IN (3, 7, 8) GROUP BY o_custkey)
        |SELECT coalesce(r.o_custkey, d.o_custkey) AS o_custkey,
        |       round(CAST(coalesce(rev_c, 0) + coalesce(d_rev_c, 0)
        |                  AS DOUBLE)/100, 2) AS revenue,
        |       CAST(coalesce(n, 0) + coalesce(d_n, 0) AS BIGINT) AS n_orders
        |FROM roll r FULL OUTER JOIN d ON r.o_custkey = d.o_custkey
        |WHERE coalesce(n, 0) + coalesce(d_n, 0) > 0
        |ORDER BY o_custkey""".stripMargin,

    "q_skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
        |s AS (SELECT count(*) AS n_keys, max(c) AS max_c,
        |             CAST(sum(c) AS BIGINT) AS total FROM c),
        |t AS (SELECT array_to_string(list_sort(list(user_id)), ',') AS top_keys
        |      FROM (SELECT user_id FROM c
        |            ORDER BY c DESC, user_id ASC LIMIT 3))
        |SELECT n_keys, max_c,
        |       round(CAST(total AS DOUBLE) / n_keys, 4) AS avg_c,
        |       round(max_c / (CAST(total AS DOUBLE) / n_keys), 4) AS skew,
        |       top_keys
        |FROM s CROSS JOIN t""".stripMargin,

    // same exact-at-fixture-scale sketch convention as q_quantile_sketch
    "q_range_layout" ->
      """WITH k AS (SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) AS k
        |           FROM orders),
        |q AS (SELECT quantile_disc(k,
        |               [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
        |      FROM k)
        |SELECT i.range + 1 AS part_id,
        |       bs[CAST(i.range + 1 AS INTEGER)] AS boundary_s
        |FROM q, range(0, 7) i ORDER BY part_id""".stripMargin,

    "q_fk_audit" ->
      """SELECT 'lineitem->orders' AS relationship,
        |       (SELECT count(*) FROM lineitem) AS n_children,
        |       (SELECT count(*) FROM lineitem l
        |        WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem->part',
        |       (SELECT count(*) FROM lineitem),
        |       (SELECT count(*) FROM lineitem l
        |        WHERE NOT EXISTS (SELECT 1 FROM part p
        |                          WHERE p.p_partkey = l.l_partkey))
        |UNION ALL
        |SELECT 'lineitem->supplier',
        |       (SELECT count(*) FROM lineitem),
        |       (SELECT count(*) FROM lineitem l
        |        WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |                          WHERE s.s_suppkey = l.l_suppkey))
        |UNION ALL
        |SELECT 'orders->customer',
        |       (SELECT count(*) FROM orders),
        |       (SELECT count(*) FROM orders o
        |        WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                          WHERE c.c_custkey = o.o_custkey))
        |ORDER BY relationship""".stripMargin,

    // pure BIGINT row hash + decimal sum — bit-exact either engine
    "q_table_diff" ->
      """WITH base AS (
        |  SELECT * FROM orders WHERE o_orderkey % 10 < 8),
        |snap AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 10 = 7 THEN o_totalprice + 100.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 < 8 AND o_orderkey % 10 <> 3
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice + 100.0
        |  FROM orders WHERE o_orderkey % 10 = 8),
        |da AS (
        |  SELECT o_orderkey % 64 AS bucket, count(*) AS n_base,
        |         CAST(sum(((o_orderkey % 2147483647) * 1103515245 +
        |                   (o_custkey % 2147483647) * 12345 +
        |                   CAST(round(o_totalprice * 100) AS BIGINT))
        |                  % 2147483647) % 2147483647 AS BIGINT) AS h_base
        |  FROM base GROUP BY 1),
        |db AS (
        |  SELECT o_orderkey % 64 AS bucket, count(*) AS n_snap,
        |         CAST(sum(((o_orderkey % 2147483647) * 1103515245 +
        |                   (o_custkey % 2147483647) * 12345 +
        |                   CAST(round(o_totalprice * 100) AS BIGINT))
        |                  % 2147483647) % 2147483647 AS BIGINT) AS h_snap
        |  FROM snap GROUP BY 1)
        |SELECT coalesce(da.bucket, db.bucket) AS bucket, n_base, n_snap,
        |       h_base, h_snap
        |FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
        |WHERE coalesce(n_base, -1) <> coalesce(n_snap, -1)
        |   OR coalesce(h_base, -1) <> coalesce(h_snap, -1)
        |ORDER BY bucket""".stripMargin,

    "q_split_stratified" ->
      """WITH b AS (
        |  SELECT source, n_chars,
        |         (((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647) % 100 AS bkt
        |  FROM documents)
        |SELECT source,
        |       CASE WHEN bkt < 90 THEN 'train'
        |            WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM b GROUP BY 1, 2 ORDER BY source, split""".stripMargin,

    // the layout read is value-identical to the unpartitioned scan (pruning
    // is conservative by construction), so the oracle needs no layout at all
    "q_layout_read" ->
      """SELECT o_orderpriority, count(*) AS n,
        |       round(CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |                  AS DOUBLE)/100, 2) AS revenue
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the 10⁻⁶-error sketch is value-exact at fixture scale → quantile_disc
    // (the discrete element, not the interpolated quantile_cont) is its oracle
    "q_quantile_sketch" ->
      """SELECT l_returnflag,
        |       round(quantile_disc(l_extendedprice, 0.9), 2) AS p90_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // exact percentile matches DuckDB quantile_cont (q_percentile proved the
    // interpolation semantics); the approx column reduces to its bound flag
    "q_approx_quantile" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.9), 2) AS p90_exact,
        |       TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // NOT EXISTS, not NOT IN: NOT IN is null-hostile (one NULL fingerprint in
    // hist would drop every row in DuckDB) while Spark's left_anti keeps
    // null-keyed probe rows — NOT EXISTS matches left_anti's null semantics
    "q_dedup_incremental" ->
      """WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |hist AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 <> 9)
        |SELECT doc_id, fp FROM fp f
        |WHERE doc_id % 10 = 9
        |  AND NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = f.fp)
        |ORDER BY doc_id""".stripMargin,

    // DuckDB range() is stop-exclusive vs Spark sequence()'s inclusive stop
    // → the +1; slice bounds w[start : start+31] truncate at array end in
    // both engines, so the last partial chunk matches
    "q_chunk_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |st AS (
        |  SELECT doc_id, w,
        |         unnest(range(1, greatest(1, len(w) - 16) + 1, 16)) AS start
        |  FROM toks),
        |ch AS (SELECT doc_id, start, w[start:start+31] AS chunk FROM st)
        |SELECT doc_id, start, CAST(len(chunk) AS BIGINT) AS n_tok,
        |       md5(array_to_string(chunk, ' ')) AS chunk_fp
        |FROM ch ORDER BY doc_id, start""".stripMargin,

    // +100.0 (an IEEE-exact-rounded double add, identical across engines)
    // rather than *1.1+round, whose decimal re-rounding is libm-flavored
    "q_cdc_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 < 8),
        |ch AS (
        |  SELECT o_orderkey, o_custkey AS ch_custkey,
        |         CASE WHEN o_orderkey % 10 = 3 THEN 'D'
        |              WHEN o_orderkey % 10 = 7 THEN 'U'
        |              ELSE 'I' END AS op,
        |         o_totalprice + 100.0 AS new_price
        |  FROM orders WHERE o_orderkey % 10 IN (3, 7, 8))
        |SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
        |       coalesce(b.o_custkey, c.ch_custkey) AS o_custkey,
        |       coalesce(c.new_price, b.o_totalprice) AS price,
        |       CASE WHEN c.op IS NULL THEN 'kept'
        |            WHEN c.op = 'U' THEN 'updated'
        |            ELSE 'inserted' END AS action
        |FROM base b FULL OUTER JOIN ch c ON b.o_orderkey = c.o_orderkey
        |WHERE coalesce(c.op, 'K') <> 'D'
        |ORDER BY o_orderkey""".stripMargin,

    "q_span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |sp AS (
        |  SELECT doc_id, unnest(list_transform(range(0, len(w) // 3),
        |           i -> array_to_string(w[i*3+1:i*3+3], ' '))) AS span
        |  FROM toks WHERE len(w) >= 3),
        |df AS (SELECT span, count(DISTINCT doc_id) AS ndocs FROM sp GROUP BY span)
        |SELECT doc_id, count(*) AS n_spans,
        |       CAST(sum(CASE WHEN ndocs >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_boiler,
        |       round(CAST(sum(ndocs) AS DOUBLE) / count(*), 4) AS avg_span_df
        |FROM sp JOIN df USING (span)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_array_fns" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT doc_id, len(w) AS n_words,
        |       array_to_string(list_sort(list_distinct(w))[1:5], ',')
        |         AS first5_distinct,
        |       w[1] AS first_w, w[-1] AS last_w,
        |       list_contains(w, 'spark') AS has_spark
        |FROM toks ORDER BY doc_id""".stripMargin,

    // identical first-occurrence / per-doc censuses cut on the same
    // doc_id value deciles; exact HUGEINT moments over the ×1e9-scaled
    // rounded lns (decimal(38,0) twin), one double division per
    // coefficient, + 0.0 signed-zero normalization
    "q_heaps_law" ->
      """WITH tk AS MATERIALIZED (
        |  SELECT doc_id, t.w AS t
        |  FROM documents,
        |       unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |         AS t(w)
        |  WHERE length(trim(text)) > 0 AND t.w <> ''),
        |mx AS (SELECT max(doc_id) AS mx FROM tk),
        |fst AS (SELECT t, min(doc_id) AS fd FROM tk GROUP BY 1),
        |perdoc AS (SELECT doc_id, count(*) AS nt FROM tk GROUP BY 1),
        |spine AS (SELECT k, (mx + 1) * k // 10 AS thr
        |          FROM (SELECT unnest(range(1, 11)) AS k), mx),
        |vk AS (SELECT k, count(*) AS vocab_cum
        |       FROM fst JOIN spine ON fd < thr GROUP BY k),
        |nk AS (SELECT k, CAST(sum(nt) AS BIGINT) AS tokens_cum
        |       FROM perdoc JOIN spine ON doc_id < thr GROUP BY k),
        |pts AS (SELECT k, tokens_cum, vocab_cum,
        |               CAST(round(round(ln(CAST(tokens_cum AS DOUBLE)), 9)
        |                    * 1e9, 0) AS HUGEINT) AS xi,
        |               CAST(round(round(ln(CAST(vocab_cum AS DOUBLE)), 9)
        |                    * 1e9, 0) AS HUGEINT) AS yi
        |        FROM vk JOIN nk USING (k)),
        |fit AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |               sum(xi) AS sx, sum(yi) AS sy,
        |               sum(xi * yi) AS sxy, sum(xi * xi) AS sxx FROM pts),
        |fit2 AS (SELECT n, sx, sy, n * sxy - sx * sy AS num,
        |                n * sxx - sx * sx AS den FROM fit)
        |SELECT k AS decile, tokens_cum, CAST(vocab_cum AS BIGINT)
        |         AS vocab_cum,
        |       round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) + 0.0
        |         AS beta,
        |       round(CAST(sy * den - num * sx AS DOUBLE) /
        |             CAST(den * n * 1000000000 AS DOUBLE), 4) + 0.0 AS ln_k
        |FROM pts, fit2 ORDER BY decile""".stripMargin,

    // identical 4-gram WINDOW instances (no distinct), the same df ≥ 3
    // boilerplate cut, per-source integer shares
    "q_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+')
        |           AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_transform(
        |           range(1, len(w) - 2),
        |           i -> array_to_string(w[i:i+3], ' '))) AS gram
        |  FROM toks WHERE len(w) >= 4),
        |df AS (SELECT gram FROM (
        |         SELECT gram, count(DISTINCT doc_id) AS df
        |         FROM grams GROUP BY 1) WHERE df >= 3),
        |perdoc AS (
        |  SELECT g.doc_id, count(*) AS nw,
        |         CAST(sum(CASE WHEN df.gram IS NOT NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS nb
        |  FROM grams g LEFT JOIN df ON g.gram = df.gram
        |  GROUP BY g.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(nw) AS BIGINT) AS n_windows,
        |       CAST(sum(nb) AS BIGINT) AS n_boiler,
        |       CAST(sum(nb) * 10000 // sum(nw) AS BIGINT) AS boiler_bp
        |FROM perdoc JOIN documents USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin
  )
}
