package graft.queries

import graft.operators.Persisted._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Text, Vectors}

/** Deduplication operators over `documents` / `embeddings`.
  *
  * Scale design: every near-dup variant here is the band-bucket LSH pattern —
  * one row per (bucket key) shuffle, pair generation only WITHIN buckets, and
  * an explicit bucket-size cap so a degenerate key cannot produce O(n²) pairs
  * on a skewed dataset. At 100 TB the bucket keys are the shuffle partitioning
  * keys; nothing here ever compares all pairs.
  *
  * Persist lifecycle: builders `persistTracked()` a frame only under
  * [[graft.operators.Persisted]]'s rule (its reads cannot share one
  * exchange and recomputing it costs more than the cache) and never
  * unpersist it; `Harness.release` drops it after the caller's action.
  * Iterative algorithms ([[connectedComponents]]) unpersist superseded
  * iterations eagerly, once the fixpoint loop has materialized the next.
  */
object DedupOps {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  // NOTE on scan parallelism: the test fixtures are single-row-group parquet
  // files, so the sketch stages run as one task here. An explicit
  // repartition(defaultParallelism) before the sketches was benchmarked and
  // REJECTED: at 5k docs the round-robin shuffle (plus its deterministic
  // local sort of the text column) costs more than the single-core sketch
  // compute it parallelizes. At production scale the scan itself is
  // thousands of tasks (file splits), so the question disappears.

  /** Max docs considered per LSH bucket; a hotter bucket is truncated BEFORE
    * aggregation (see [[cappedBuckets]] — a `row_number` pre-filter, so even
    * the collect buffer is bounded). Keeps worst-case pair count bounded at
    * cap²/2 per bucket regardless of data skew.
    */
  val BucketCap = 64

  /** Max document frequency for a winnowing fingerprint to enter the
    * candidate self-join (q_winnow_dedup). An fp shared by more docs than
    * this is boilerplate — it carries no local-overlap signal and would
    * emit O(df²) candidate rows from one hot key. The standard stop-gram
    * cut; mirrored verbatim in the oracle so the gate stays exact.
    */
  val WinnowDfCap = 64

  /** bucket array<long> of doc ids → exploded (doc_a < doc_b) pairs.
    * Package-visible: Relational2's fuzzy entity-resolution join blocks with
    * the same banded-bucket machinery. */
  private[queries] def pairsFromBucket(bucket: Column): Column =
    flatten(transform(bucket, a =>
      transform(filter(bucket, b => b > a), b => struct(a.as("doc_a"), b.as("doc_b")))))

  /** Group `df` by `keys` into capped `bucket` arrays of the BucketCap
    * smallest `idCol` values, bounding the aggregation BUFFER, not just the
    * output: a `row_number()` pre-filter keeps at most BucketCap rows per key
    * before any `collect_set`, so a degenerate hot bucket (e.g. millions of
    * identical docs sharing one band hash) can never accumulate an unbounded
    * array on one reducer. The rank column is dropped, so TopKRewrite plans
    * the cap as a TopKPerKey: a map-side partial heap per key, one hash
    * exchange on the keys that the groupBy reuses, and a final heap pass
    * over a key sort — no window, no second exchange. Result is identical to
    * `slice(array_sort(collect_set(id)), 1, BucketCap)`: both select the
    * BucketCap smallest ids (and cap ≥ 2 keeps the ≥2-member filter exact).
    */
  private[queries] def cappedBuckets(df: DataFrame, idCol: String, keys: String*): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    df.withColumn("_rnk", row_number().over(w))
      .filter(col("_rnk") <= BucketCap)
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_set(col(idCol))).as("bucket"))
      .filter(size(col("bucket")) >= 2)
  }

  /** MinHash + LSH near-dup over any (doc_id, text) frame: shingle → 64-perm
    * signature → 16 bands of 4 → band-bucket join → signature-estimated
    * Jaccard ≥ 0.5. Exposed for spec-level stress inputs (hot buckets).
    *
    * Native expressions end-to-end: one-pass shingle hashing feeding the
    * signature loop (the interpreted HOF chain was ~10× slower); the persist
    * covers the 3 downstream uses of the signature.
    */
  /** SimHash banded candidate pairs with their hamming distance,
    * UNFILTERED — q_dedup_simhash applies the ≤3 cut, q_simhash_census
    * histograms the whole candidate population to justify it. */
  def simhashCandPairs(documents: DataFrame): DataFrame = {
    val sims = documents
      .select(col("doc_id"), graft.functions.TextExprs.simhashBits(
        graft.functions.TextExprs.shingleFeatures62(col("text"), 3)).as("sim"))
      .persistTracked()
    val buckets = cappedBuckets(
      sims.select(col("doc_id"), posexplode(Text.simhashChunks(col("sim")))
        .as(Seq("chunk", "chunk_val"))),
      "doc_id", "chunk", "chunk_val")
    val cand = buckets
      .select(explode(pairsFromBucket(col("bucket"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    // verification joins stay SHUFFLED on doc id: `a`/`b` are the whole
    // corpus's signatures (O(corpus) — never broadcastable at scale);
    // `cand` is the small side. AQE may still broadcast at toy scale from
    // size stats, which is the right call there and impossible at 100 TB.
    val a = sims.select(col("doc_id").as("doc_a"), col("sim").as("sim_a"))
    val b = sims.select(col("doc_id").as("doc_b"), col("sim").as("sim_b"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
  }

  def minhashPairs(documents: DataFrame): DataFrame = {
    val k = 64; val bands = 16; val rows = 4
    val sigs = documents.select(col("doc_id"),
      graft.functions.TextExprs.minhashSig(
        graft.functions.TextExprs.shingleHashes(col("text"), 3), k).as("sig"))
      .persistTracked()
    val buckets = cappedBuckets(
      sigs.select(col("doc_id"),
        posexplode(graft.functions.TextExprs.bandHashes(col("sig"), bands, rows))
          .as(Seq("band", "band_hash"))),
      "doc_id", "band", "band_hash")
    val cand = buckets
      .select(explode(pairsFromBucket(col("bucket"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    // verification joins stay SHUFFLED on doc id: `a`/`b` carry the whole
    // corpus's signatures (O(corpus) — never broadcastable at scale) while
    // `cand` is the small side. AQE may still broadcast at toy scale from
    // size stats, which is the right call there and impossible at 100 TB.
    val a = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.TextExprs.sigMatchFrac(col("sig_a"), col("sig_b")), 4)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash near-dup over a BUCKETED corpus: the same pipeline as
    * [[minhashPairs]], fed from a copy of `documents` bucketed (and
    * sort-ordered) on doc_id.
    *
    * Why it matters at 100 TB: every dedup variant's verification step joins
    * the candidate pairs back to the O(corpus) signature table on doc id —
    * in the unbucketed plan that is a full shuffle of the corpus-sized side
    * PER JOIN, the single biggest repeated cost in the dedup family. A
    * corpus stored bucketed on doc_id (what a production pipeline does once
    * at ingest) exposes HashPartitioning(doc_id) straight from the scan, so
    * both verify joins reuse the storage layout and only the (small)
    * candidate side shuffles — PlanSpec asserts the bucketed plan's exchange
    * count is strictly below the unbucketed one. Results are identical
    * (same oracle SQL as q_dedup_minhash).
    *
    * The bucketed copy is (re)written on each call so the query is
    * self-contained against any sf dir; a real deployment writes it once.
    */
  def minhashPairsBucketed(s: SparkSession, d: String): DataFrame = {
    val tbl = "graft_docs_bucketed_" + Integer.toHexString(d.hashCode)
    // the in-memory catalog dies with the JVM but the warehouse directory
    // survives — purge both so the write is idempotent across sessions
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), tbl)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    Tables(s, d, "documents")
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "doc_id").sortBy("doc_id")
      .saveAsTable(tbl)
    minhashPairs(s.table(tbl))
  }

  /** Connected components over an undirected (doc_a, doc_b) edge frame by
    * min-label propagation to fixpoint: every node ends with
    * `cluster_id = min(doc_id reachable from it)`. This resolves near-dup
    * PAIRS into dedup CLUSTERS — the step a real cleaning pipeline needs
    * before it can keep one canonical doc per group.
    *
    * Scale design: each round is one shuffled join (edges ⋈ labels on dst)
    * plus one groupBy(min) — all distributed, nothing collected; the driver
    * loop runs O(component diameter) rounds for shallow components (near-dup
    * clusters are typically 1-2 rounds) and each round's convergence check
    * is a 1-row aggregate, not a data collect. Labels persist round-to-round
    * so lineage doesn't re-grow. The same propagate-min round is how
    * GraphFrames/Pregel formulate CC.
    *
    * Adversarial chain-shaped components would make pure propagation
    * O(diameter): from round 3 on (i.e. only when a deep component is
    * actually present) each round additionally composes the label map with
    * itself (pointer halving, `labels ∘ labels` — one extra self-join on the
    * label key), which collapses remaining depth in O(log diameter) rounds.
    * Composition is sound because every cluster_id is itself a labeled node
    * and labels only decrease within a component, so `labels(labels(x))` is
    * a valid (smaller-or-equal) label for x; typical shallow corpora never
    * reach round 3 and pay nothing.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    // cache the edge set BEFORE symmetrizing: the union's two branches would
    // otherwise each recompute the full upstream pipeline (for minhash pairs
    // that's the whole sketch + bucket + verify chain — the dominant cost)
    val e = edges.persistTracked()
    val sym = e.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(e.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persistTracked()
    // seed with the 1-hop minimum — same shuffle the plain distinct() would
    // cost, but a whole propagation round cheaper
    var labels = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("doc_id"), least(col("src"), col("mn")).as("cluster_id"))
      .persistTracked()
    // labels only ever decrease, so (count, Σ) is a fixpoint witness — but a
    // raw Long Σ of 64-bit doc ids can WRAP at ≥2^26 labeled docs, making
    // `s == prevSum` a (vanishingly unlikely) false-converge. decimal(38,0)
    // holds Σ of 2^63-scale ids up to ~10^19 rows exactly: wrap-proof, still
    // one 1-row aggregate per round, no old-vs-new join.
    // empty edge set ⇒ empty labels ⇒ null Σ: treat as 0 so the loop
    // converges on the first round instead of NPE-ing (the incremental
    // path can legitimately hand this an empty "old" graph)
    def sigma(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("cluster_id").cast("decimal(38,0)")))
        .head.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = sigma(labels)
    var converged = false
    var round = 0
    while (!converged) {
      round += 1
      val prop = sym.join(labels, sym("dst") === labels("doc_id"))
        .select(col("src").as("doc_id"), col("cluster_id"))
      val combined = labels.unionByName(prop)
        .groupBy(col("doc_id"))
        .agg(min(col("cluster_id")).as("cluster_id"))
      // localCheckpoint (not persist): the composition step references
      // `combined` twice, so without lineage truncation the logical plan
      // DOUBLES per round — exponential tree growth that OOMs just building
      // plan strings. Checkpointing caches the round's result AND cuts the
      // plan to a leaf; superseded round RDDs are reclaimed by the context
      // cleaner once the loop drops its reference. (A multi-thousand-node
      // cluster would use reliable checkpointing to survive executor loss;
      // the per-round plan is identical.)
      val next = (if (round < 3) combined else {
        // still unconverged after 2 rounds → a deep component exists;
        // pointer-halve: relabel every node by its label's label
        val l2 = combined.select(col("doc_id").as("k"), col("cluster_id").as("v"))
        combined.join(l2, combined("cluster_id") === l2("k"))
          .select(combined("doc_id"), l2("v").as("cluster_id"))
      }).localCheckpoint()
      val s = sigma(next)
      labels.unpersist()
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
    }
    sym.unpersist()
    e.unpersist()
    labels
  }

  /** Shared candidate generation for the gram-set near-dup family
    * ([[ngramPairs]], [[containmentPairs]]): gram sets (persisted — both
    * verification joins reuse them) and the CONTENT-BANDED, capped, deduped
    * candidate pair set — (lang, size_bkt) prefix + 4 MinHash bands (8-perm
    * signature, 2 rows per band) over the gram set. The old
    * (lang, size_bkt)-only key let a popular (en, common-length) block's
    * population scale with CORPUS size — one reducer sorted the whole block
    * for the cap window, and the cap then discarded all but BucketCap docs
    * (recall collapse). Banding bounds block population by CONTENT: docs
    * only co-bucket when a signature band collides, so hot blocks shrink to
    * genuine near-dup groups while true near-dups (gram-Jaccard ≥ 0.5)
    * still share ≥1 of the 4 bands w.h.p. Returns (grams, candidates).
    */
  private def ngramBlocked(documents: DataFrame): (DataFrame, DataFrame) = {
    val k = 8; val bands = 4; val rows = 2
    val g = documents.select(col("doc_id"), col("lang"),
      (col("n_chars") / 64).cast("int").as("size_bkt"),
      graft.functions.TextExprs.charNgramHashes(col("text"), 5).as("grams"))
      .persistTracked()
    val banded = g.select(col("doc_id"), col("lang"), col("size_bkt"),
      posexplode(graft.functions.TextExprs.bandHashes(
        graft.functions.TextExprs.minhashSig(col("grams"), k), bands, rows))
        .as(Seq("band", "band_hash")))
    val cand = cappedBuckets(banded, "doc_id", "lang", "size_bkt", "band", "band_hash")
      .select(explode(pairsFromBucket(col("bucket"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct() // a pair can collide in several bands
    (g, cand)
  }

  /** Character-5-gram exact-Jaccard near-dup over [[ngramBlocked]]'s
    * candidates (threshold 0.5). Exposed for spec-level stress inputs
    * (degenerate same-lang/same-length corpora).
    */
  def ngramPairs(documents: DataFrame): DataFrame = {
    val (g, cand) = ngramBlocked(documents)
    // shuffled verification joins — gram sets are O(corpus)
    val ga = g.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"))
    val gb = g.select(col("doc_id").as("doc_b"), col("grams").as("grams_b"))
    cand.join(ga, "doc_a").join(gb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.TextExprs.jaccardSorted(
          col("grams_a"), col("grams_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** Containment near-dup (sub-document / quote detection): same banded
    * candidate generation as [[ngramPairs]], but scored with CONTAINMENT
    * |A∩B| / min(|A|,|B|) instead of Jaccard — a short doc wholly embedded
    * in a long one scores ~1.0 here while its Jaccard stays low. Scored by
    * the native [[graft.functions.ContainmentSorted]] two-pointer merge
    * (`array_intersect`'s per-row hash set benched 3× slower); the count is
    * integer set arithmetic on the distinct gram arrays and the division one
    * IEEE op, so the score is bit-identical cross-engine.
    */
  def containmentPairs(documents: DataFrame): DataFrame = {
    val (g, cand) = ngramBlocked(documents)
    val ga = g.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"))
    val gb = g.select(col("doc_id").as("doc_b"), col("grams").as("grams_b"))
    cand.join(ga, "doc_a").join(gb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.TextExprs.containmentSorted(
          col("grams_a"), col("grams_b")), 4).as("containment"))
      .filter(col("containment") >= 0.45)
      .orderBy("doc_a", "doc_b")
  }

  val queries: Map[String, Q] = Map(
    // ---- exact dedup: content-hash groupBy (one shuffle on the hash) ----
    "q_dedup_exact" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy("h")),

    // ---- shard-local vs global dedup yield — the census that prices the
    //      corpus-wide shuffle: per-shard (source) dedup is shuffle-FREE
    //      at ingest (each crawler shard dedups what it holds), global
    //      dedup costs one corpus-wide exchange on the fingerprint key.
    //      This one-row verdict counts what local-only leaves behind:
    //      cross_shard_dups = local_unique − global_unique, the docs a
    //      1000-executor pipeline pays the global shuffle to remove.
    //      Fingerprint = the q_bow_dedup set fingerprint (so "duplicate"
    //      means the same reordered/renumbered content class there).
    //      ONE aggregation: both distincts and the doc count ride the same
    //      expand — no second scan, no join ----
    "q_dedup_local_vs_global" -> ((s, d) => {
      val f = docs(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(col("source"),
          md5(concat_ws(" ", array_sort(array_distinct(expr(
            """filter(split(regexp_replace(lower(trim(text)),
              |       '[0-9]+', '#'), '\\s+'), t -> t <> '')"""
              .stripMargin))))).as("tfp"))
      f.agg(count(lit(1)).as("n_docs"),
          countDistinct(col("tfp")).as("global_unique"),
          countDistinct(col("source"), col("tfp")).as("local_unique"))
        .select(col("n_docs"), col("global_unique"), col("local_unique"),
          (col("local_unique") - col("global_unique")).as("cross_shard_dups"),
          expr("((n_docs - global_unique) * 10000) div n_docs")
            .as("global_drop_bp"),
          expr("((n_docs - local_unique) * 10000) div n_docs")
            .as("local_drop_bp"))
    }),

    // ---- dedup strategy advisor — the Skew.choose measure→decide shape
    //      applied to the dedup family itself: measure the exact-dup rate
    //      (byte fingerprints), the bag-of-words-dup rate (what
    //      normalization would recover), and the confirmed near-dup pair
    //      rate (the full MinHash funnel), then pick the CHEAPEST pass
    //      that pays: exact dedup is one fine-key shuffle, normalization
    //      adds a per-row map, MinHash adds the banding pipeline. The
    //      integer ladder keeps the verdict deterministic; a pipeline
    //      reads this one row before committing 100 TB to the wrong
    //      (or an unnecessary) dedup pass ----
    "q_dedup_advisor" -> ((s, d) => {
      val base = docs(s, d)
        .filter(length(trim(col("text"))) > 0)
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_exact_u"),
          countDistinct(md5(concat_ws(" ", array_sort(array_distinct(expr(
            """filter(split(regexp_replace(lower(trim(text)),
              |       '[0-9]+', '#'), '\\s+'), t -> t <> '')"""
              .stripMargin)))))).as("n_bow_u"))
      val near = minhashPairs(docs(s, d))
        .agg(count(lit(1)).as("n_near_pairs"))
      base.crossJoin(broadcast(near))
        .select(col("n_docs"),
          expr("((n_docs - n_exact_u) * 10000) div n_docs")
            .as("exact_dup_bp"),
          expr("((n_docs - n_bow_u) * 10000) div n_docs")
            .as("bow_dup_bp"),
          col("n_near_pairs"),
          expr("""CASE
                 |  WHEN ((n_docs - n_exact_u) * 10000) div n_docs >= 500
                 |    THEN 'exact'
                 |  WHEN ((n_docs - n_bow_u) * 10000) div n_docs >= 500
                 |    THEN 'normalize_exact'
                 |  WHEN n_near_pairs * 100 >= n_docs THEN 'minhash'
                 |  ELSE 'none' END""".stripMargin).as("advice"))
    }),

    // ---- MinHash + LSH near-dup: shingle → 64-perm signature → 16 bands of
    //      4 → band-bucket join → signature-estimated Jaccard ≥ 0.5 ----
    "q_dedup_minhash" -> ((s, d) => minhashPairs(docs(s, d))),

    // ---- same pipeline over a doc_id-BUCKETED corpus copy: the verify
    //      joins run shuffle-free on the corpus side (see
    //      [[minhashPairsBucketed]]) ----
    "q_dedup_minhash_bucketed" -> ((s, d) => minhashPairsBucketed(s, d)),

    // ---- cluster resolution: minhash pairs → connected components →
    //      canonical keep (lowest doc_id per cluster). Only docs in at
    //      least one near-dup pair appear; singletons are trivially kept ----
    "q_dedup_clusters" -> ((s, d) =>
      connectedComponents(minhashPairs(docs(s, d)).select(col("doc_a"), col("doc_b")))
        .withColumn("is_keep", col("doc_id") === col("cluster_id"))
        .orderBy("doc_id")),

    // ---- cluster-density audit (transitive-drift diagnostic): connected
    //      components MERGE through single edges, so a chain a~b~c~d of
    //      0.5-jaccard links can fuse documents with no pairwise
    //      similarity at all. Density = edges present / edges possible
    //      per cluster separates tight duplicate groups (≈10⁴ bp) from
    //      chained merges (→ 2/(n−1)) — the audit that decides whether a
    //      cluster's members are safe to collapse to one exemplar or the
    //      threshold needs raising. Integer bp; edge counts ride the
    //      label join on fine doc ids ----
    "q_cluster_density" -> ((s, d) => {
      // connectedComponents persists `pairs`; the edge census reads it
      val pairs = minhashPairs(docs(s, d))
        .select(col("doc_a"), col("doc_b"))
      val cc = connectedComponents(pairs)
        .select(col("doc_id"), col("cluster_id"))
      val members = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
      // every confirmed edge is intra-cluster by construction; one label
      // join keys the edge census
      val edges = pairs
        .join(cc.select(col("doc_id").as("doc_a"),
          col("cluster_id")), "doc_a")
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_edges"))
      members.join(edges, "cluster_id")
        .select(col("cluster_id"), col("n"), col("n_edges"),
          expr("(n_edges * 2 * 10000) div (n * (n - 1))").as("density_bp"))
        .orderBy("cluster_id")
    }),

    // ---- leakage-safe train/val/test split: a doc-level hash split puts
    //      near-duplicate pairs on BOTH sides of the train/test boundary —
    //      the eval set then scores memorization, not generalization
    //      (the published dedup literature's core motivation). Assign
    //      whole NEAR-DUP CLUSTERS to splits instead: split = LCG(cluster
    //      label) so every member lands together; singletons are their own
    //      cluster. The audit columns make the difference measurable:
    //      naive_leaky_pairs = confirmed near-dup pairs a doc-id hash
    //      split would straddle; cluster_leaky_pairs = pairs this split
    //      straddles (structurally 0 — split is a function of the shared
    //      label — but COMPUTED from the pair set, not asserted). Scale:
    //      the cluster machinery is q_dedup_clusters' (banded, capped,
    //      fixpoint CC); assignment is per-row arithmetic; the audit joins
    //      key on fine doc ids ----
    "q_split_cluster_safe" -> ((s, d) => {
      val dd = docs(s, d).select(col("doc_id"))
      // connectedComponents persists `pairs`; the leak audit reads it
      val pairs = minhashPairs(docs(s, d))
        .select(col("doc_a"), col("doc_b"))
      val cc = connectedComponents(pairs)
      def lcg(c: org.apache.spark.sql.Column) =
        ((c % 2147483647L) * 1103515245L + 12345L) % 2147483647L
      def splitOf(c: org.apache.spark.sql.Column) =
        when(lcg(c) % 10 < 8, "train")
          .when(lcg(c) % 10 === 8, "val").otherwise("test")
      val assigned = dd
        .join(cc.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("split", splitOf(col("cluster_id")))
        .persistTracked()
      val naive = pairs.agg(coalesce(sum(
        when(splitOf(col("doc_a")) =!= splitOf(col("doc_b")), 1L)
          .otherwise(0L)), lit(0L)).as("naive_leaky_pairs"))
      val a1 = assigned.select(col("doc_id").as("doc_a"), col("split").as("sp_a"))
      val a2 = assigned.select(col("doc_id").as("doc_b"), col("split").as("sp_b"))
      val clusterLeak = pairs.join(a1, "doc_a").join(a2, "doc_b")
        .agg(coalesce(sum(when(col("sp_a") =!= col("sp_b"), 1L)
          .otherwise(0L)), lit(0L)).as("cluster_leaky_pairs"))
      assigned.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"))
        .crossJoin(broadcast(naive))
        .crossJoin(broadcast(clusterLeak))
        .orderBy("split")
    }),

    // ---- the END-TO-END training-data funnel (the engine's capstone
    //      composition): raw → nonempty → exact dedup (md5, keep min id)
    //      → language gate (langs holding ≥5% of the corpus, integer
    //      compare) → length gate (n_chars ≥ discrete p25 of survivors,
    //      broadcast threshold) → near-dup removal (the q_dedup_clusters
    //      canonical-keep set) → packed-sequence count (Σ tokens div
    //      2048). Every stage is a technique already oracle-gated on its
    //      own; the funnel proves they COMPOSE — the per-stage census is
    //      the number a data-curation run reports at each checkpoint ----
    "q_pipeline_funnel" -> ((s, d) => {
      val all = docs(s, d).select(col("doc_id"), col("text"), col("lang"),
          col("n_chars"),
          size(split(lower(trim(col("text"))), "\\s+")).as("n_tok"))
        .persistTracked()
      def census(stage: Int, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
          .select(lit(stage).as("stage"), lit(name).as("stage_name"),
            col("n_docs"), col("n_tokens"))
      val nonempty = all.filter(length(trim(col("text"))) > 0)
      val exactKeep = nonempty
        .withColumn("rn", row_number().over(Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id").asc)))
        .filter(col("rn") === 1).drop("rn").persistTracked()
      val total = exactKeep.agg(count(lit(1)).as("nn"))
      val langKeep = exactKeep
        .join(broadcast(exactKeep.groupBy(col("lang"))
          .agg(count(lit(1)).as("lc"))), "lang")
        .crossJoin(broadcast(total))
        .filter(col("lc") * 20 >= col("nn"))
        .select(exactKeep.columns.map(col): _*).persistTracked()
      val thr = langKeep.agg(
        percentile_approx(col("n_chars"), lit(0.25), lit(1000000)).as("p25"))
      val lenKeep = langKeep.crossJoin(broadcast(thr))
        .filter(col("n_chars") >= col("p25"))
        .select(langKeep.columns.map(col): _*).persistTracked()
      // near-dup: drop non-canonical members of the corpus-wide clusters
      val nonCanon = connectedComponents(
        minhashPairs(docs(s, d)).select(col("doc_a"), col("doc_b")))
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      val finalKeep = lenKeep.join(nonCanon, Seq("doc_id"), "left_anti")
        .persistTracked()
      val packed = finalKeep
        .agg(expr("sum(n_tok) div 2048").as("n_docs"),
          coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
        .select(lit(6).as("stage"), lit("packed_2048").as("stage_name"),
          col("n_docs"), col("n_tokens"))
      census(0, "raw", all)
        .unionByName(census(1, "nonempty", nonempty))
        .unionByName(census(2, "exact_dedup", exactKeep))
        .unionByName(census(3, "lang_gate", langKeep))
        .unionByName(census(4, "length_gate", lenKeep))
        .unionByName(census(5, "neardup_canonical", finalKeep))
        .unionByName(packed)
        .orderBy("stage")
    }),

    // ---- quality-aware canonical selection (the C4/RefinedWeb retention
    //      policy): within each near-dup cluster keep the LONGEST member,
    //      not the min-id one — same connected components, then one
    //      (cluster)-keyed window over cluster-sized groups picks
    //      argmax(n_chars, tie → min doc_id). Cluster censuses are the
    //      output, so result size is |clusters| at any corpus scale ----
    "q_dedup_keep_best" -> ((s, d) => {
      val cc = connectedComponents(
        minhashPairs(docs(s, d)).select(col("doc_a"), col("doc_b")))
      val sized = cc.join(
        docs(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      sized.withColumn("rn", row_number().over(w))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          min(when(col("rn") === 1, col("doc_id"))).as("keep_doc"),
          min(when(col("rn") === 1, col("n_chars"))).as("keep_chars"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("cluster_id")
    }),

    // ---- SimHash near-dup: 62-bit majority hash over 3-word shingles
    //      (unigrams saturate on a small vocabulary — shingles keep word
    //      order in the feature set), 16-bit-chunk LSH, Hamming ≤ 3
    //      verification via bit_count(xor). 62 bits = two 31-bit poly
    //      hashes, so the oracle can replicate without 64-bit overflow ----
    "q_dedup_simhash" -> ((s, d) =>
      simhashCandPairs(docs(s, d))
        .filter(col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")),

    // ---- simhash threshold census — the watermark-sizing pattern for the
    //      LAST unmeasured cut in the dedup family: the hamming-distance
    //      histogram over the banded candidate pairs, with cumulative
    //      share, is the curve the `hamming <= 3` threshold should be
    //      read off (a real near-dup population shows a low-hamming mass
    //      separated from the random-pair bulk around 31). ≤63 output
    //      rows at any corpus size; same pipeline as q_dedup_simhash so
    //      the census can never measure a different candidate set ----
    "q_simhash_census" -> ((s, d) => {
      val pairs = simhashCandPairs(docs(s, d)).persistTracked()
      val tot = pairs.agg(count(lit(1)).as("n_total"))
      val wcum = Window.orderBy(col("hamming"))
        .rowsBetween(Window.unboundedPreceding, 0)
      pairs.groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(tot))
        .withColumn("cum_pairs", sum(col("n_pairs")).over(wcum))
        .select(col("hamming"), col("n_pairs"), col("cum_pairs"),
          expr("(cum_pairs * 10000) div n_total").as("cum_bp"))
        .orderBy("hamming")
    }),

    // ---- character-5-gram Jaccard near-dup, content-banded blocking
    //      (see [[ngramPairs]]) ----
    "q_dedup_ngram" -> ((s, d) => ngramPairs(docs(s, d))),

    // ---- Fellegi–Sunter field weights (the classic probabilistic
    //      record-linkage model, Fellegi & Sunter JASA 1969): per field,
    //      m = P(agree | match) estimated over the CONFIRMED near-dup
    //      pairs, and u = P(agree | random pair) computed EXACTLY from
    //      the field's value marginals — Σ c_v(c_v−1) / n(n−1) — with no
    //      pair sampling at all (the frequency-based u estimator). The
    //      log₂(m/u) weight is what a linkage engine adds per agreeing
    //      field; fields with high m and low u (head token) discriminate,
    //      fields that agree by chance (lang in a monolingual corpus)
    //      score near zero. Integer moments in decimal(38,0); the single
    //      final division is double + rounded (the q_trend discipline).
    //      NULL field values (head_tok of an empty doc) are excluded from
    //      BOTH estimates — from the u marginals AND from the m pair
    //      denominator — since a missing value neither agrees nor
    //      disagrees (the standard FS missing-data treatment; counting
    //      them only in u biased the weight for null-heavy fields).
    //      Shapes: marginals are census aggs; the m join keys fine doc
    //      ids; output is 4 rows ----
    "q_fs_weights" -> ((s, d) => {
      val meta = docs(s, d).select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars div 64").as("size_bkt"),
        expr("element_at(filter(split(lower(trim(text)), '\\\\s+'), " +
          "x -> x <> ''), 1)").as("head_tok"))
        .persistTracked()
      val mp = minhashPairs(docs(s, d)).select(col("doc_a"), col("doc_b"))
        .join(meta.select(col("doc_id").as("doc_a"), col("lang").as("la"),
          col("source").as("sa"), col("size_bkt").as("ka"),
          col("head_tok").as("ha")), "doc_a")
        .join(meta.select(col("doc_id").as("doc_b"), col("lang").as("lb"),
          col("source").as("sb"), col("size_bkt").as("kb"),
          col("head_tok").as("hb")), "doc_b")
        .persistTracked()
      def fieldRow(name: String, va: org.apache.spark.sql.Column,
          vb: org.apache.spark.sql.Column,
          v: org.apache.spark.sql.Column): DataFrame = {
        val m = mp.filter(va.isNotNull && vb.isNotNull)
          .agg(count(lit(1)).as("n_match"),
            sum(when(va === vb, 1L).otherwise(0L)).as("n_agree"))
        val u = meta.filter(v.isNotNull)
          .groupBy(v.as("v")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c").cast("decimal(38,0)") * (col("c") - 1)).as("num"),
            sum(col("c").cast("decimal(38,0)")).as("nn"))
        m.crossJoin(u).select(lit(name).as("field"), col("n_match"),
          round(col("n_agree").cast("double") / col("n_match"), 6).as("m_r"),
          round(col("num").cast("double") /
            (col("nn").cast("double") * (col("nn").cast("double") - 1.0)), 8)
            .as("u_r"))
      }
      fieldRow("head_tok", col("ha"), col("hb"), col("head_tok"))
        .unionByName(fieldRow("lang", col("la"), col("lb"), col("lang")))
        .unionByName(fieldRow("size_bkt", col("ka"), col("kb"),
          col("size_bkt")))
        .unionByName(fieldRow("source", col("sa"), col("sb"),
          col("source")))
        .withColumn("weight", round(
          log2((col("m_r") + 1e-6) / (col("u_r") + 1e-6)), 4))
        .orderBy("field")
    }),

    // ---- dedup LOCALITY census: are near-dups intra-source (mirrors,
    //      re-posts within a host) or cross-source (syndication, scraped
    //      copies)? The answer decides the 100 TB partitioning strategy —
    //      a mostly-intra-source corpus can dedup per source partition
    //      (no global shuffle, embarrassingly parallel); heavy
    //      cross-source mass forces the global band-bucket exchange.
    //      This query turns that decision into a measured number: the
    //      confirmed near-dup pairs bucketed by (same_source, same_lang)
    //      with integer basis-point shares. Meta joins on fine doc ids;
    //      total rides as a 1-row broadcast ----
    "q_dedup_locality" -> ((s, d) => {
      val meta = docs(s, d).select(col("doc_id"), col("source"), col("lang"))
      val pairs = minhashPairs(docs(s, d)).select(col("doc_a"), col("doc_b"))
      val lab = pairs
        .join(meta.select(col("doc_id").as("doc_a"),
          col("source").as("src_a"), col("lang").as("lang_a")), "doc_a")
        .join(meta.select(col("doc_id").as("doc_b"),
          col("source").as("src_b"), col("lang").as("lang_b")), "doc_b")
        .select((col("src_a") === col("src_b")).as("same_source"),
          (col("lang_a") === col("lang_b")).as("same_lang"))
      val tot = lab.agg(count(lit(1)).as("n_total"))
      lab.groupBy(col("same_source"), col("same_lang"))
        .agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(tot))
        .withColumn("share_bp", expr("(n_pairs * 10000) div n_total"))
        .select(col("same_source"), col("same_lang"), col("n_pairs"),
          col("share_bp"))
        .orderBy("same_source", "same_lang")
    }),

    // ---- per-source dedup YIELD (the curation budget sheet): docs and
    //      whitespace tokens per source BEFORE vs AFTER dropping
    //      non-canonical near-dup cluster members, with keep rate in
    //      basis points — the census that prices each source's real
    //      contribution (a source that is 40% copies of itself or others
    //      costs ingest, storage and dedup compute for 60% usable mass).
    //      Same canonical-keep set as q_dedup_clusters; the anti-join
    //      keys fine doc ids; output is source-cardinality ----
    "q_dedup_yield" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("source"),
        size(expr("filter(split(lower(trim(text)), '\\\\s+'), x -> x <> '')"))
          .cast("long").as("n_tok"))
      val nonCanon = connectedComponents(
        minhashPairs(docs(s, d)).select(col("doc_a"), col("doc_b")))
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"), lit(1L).as("dropped"))
      base.join(nonCanon, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(when(col("dropped").isNull, 1L).otherwise(0L)).as("n_docs_kept"),
          sum(when(col("dropped").isNull, col("n_tok")).otherwise(0L))
            .as("n_tokens_kept"))
        .withColumn("keep_bp", expr(
          """CASE WHEN n_tokens = 0 THEN 10000
            |ELSE (n_tokens_kept * 10000) div n_tokens END""".stripMargin))
        .orderBy("source")
    }),

    // ---- cross-source duplication MATRIX (q_dedup_locality at source-
    //      pair granularity): confirmed near-dup pair counts per
    //      UNORDERED source pair, with each cell's share of its row
    //      source's total involvement in basis points. The mirror-
    //      detection census: a (blog, forum) cell spiking says one
    //      syndicates the other — drop the copy side at INGEST and the
    //      global dedup never pays for it. Pair labels join on fine doc
    //      ids; cells are source²-bounded (census-sized); totals ride the
    //      same census ----
    "q_dedup_source_matrix" -> ((s, d) => {
      val meta = docs(s, d).select(col("doc_id"), col("source"))
      val lab = minhashPairs(docs(s, d)).select(col("doc_a"), col("doc_b"))
        .join(meta.select(col("doc_id").as("doc_a"),
          col("source").as("src_a")), "doc_a")
        .join(meta.select(col("doc_id").as("doc_b"),
          col("source").as("src_b")), "doc_b")
        .select(least(col("src_a"), col("src_b")).as("source_lo"),
          greatest(col("src_a"), col("src_b")).as("source_hi"))
      val cells = lab.groupBy(col("source_lo"), col("source_hi"))
        .agg(count(lit(1)).as("n_pairs"))
      val tot = cells.agg(sum(col("n_pairs")).as("n_total"))
      cells.crossJoin(broadcast(tot))
        .select(col("source_lo"), col("source_hi"), col("n_pairs"),
          expr("(n_pairs * 10000) div n_total").as("share_bp"),
          (col("source_lo") === col("source_hi")).as("intra_source"))
        .orderBy("source_lo", "source_hi")
    }),

    // ---- dedup RECALL measurement ("measure, don't guess" applied to
    //      the dedup stack itself): take the exact char-5-gram Jaccard
    //      pairs (q_dedup_ngram's blocked-but-exact ground truth, ≥0.5)
    //      and report, per 0.1-wide Jaccard band, how many the
    //      production MinHash+LSH path recalls. The published MinHash
    //      S-curve predicts recall rising steeply with similarity — this
    //      query turns that from folklore into a monitored number a
    //      pipeline can alert on when a corpus shift (new language,
    //      boilerplate burst) degrades the banding. Banding is integer
    //      basis points of the 4dp-rounded jaccard — no float bucket
    //      boundaries. Cost = the two pair pipelines it audits ----
    "q_dedup_recall_curve" -> ((s, d) => {
      val exact = ngramPairs(docs(s, d))
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
      val mh = minhashPairs(docs(s, d)).select(col("doc_a"), col("doc_b"))
        .withColumn("hit", lit(1L))
      exact.join(mh, Seq("doc_a", "doc_b"), "left")
        .withColumn("jaccard_band",
          expr("CAST(round(jaccard * 10000) AS INT) div 1000"))
        .groupBy(col("jaccard_band"))
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("hit")), lit(0L)).as("n_recalled"))
        .withColumn("recall_bp", expr("(n_recalled * 10000) div n_exact"))
        .orderBy("jaccard_band")
    }),

    // ---- containment scoring over the same blocked candidates
    //      (see [[containmentPairs]]) ----
    "q_dedup_containment" -> ((s, d) => containmentPairs(docs(s, d))),

    // ---- FUZZY decontamination: near-dup pairs BETWEEN an eval slice
    //      (doc_id % 10 == 0, benchmark stand-in) and the train remainder —
    //      the asymmetric LSH join (GPT-3/Llama-style fuzzy decontam), a
    //      different shape from the self-join dedups: the eval band table is
    //      benchmark-sized, so it BROADCASTS and the train corpus is never
    //      shuffled for candidate generation (a probe-side scan + broadcast
    //      hash join); verification joins train sigs on the fine train_id
    //      key and broadcasts the eval sigs. No bucket cap needed — a hot
    //      band bucket costs |train bucket| × |eval bucket| output rows with
    //      the eval factor bounded by the benchmark, and no reducer ever
    //      materializes a bucket ----
    "q_fuzzy_decontaminate" -> ((s, d) => {
      val bands = 16; val rows = 4
      val sigs = docs(s, d).select(col("doc_id"),
        graft.functions.TextExprs.minhashSig(
          graft.functions.TextExprs.shingleHashes(col("text"), 3), 64).as("sig"))
        .persistTracked()
      val banded = sigs.select(col("doc_id"),
        posexplode(graft.functions.TextExprs.bandHashes(col("sig"), bands, rows))
          .as(Seq("band", "band_hash")))
      val ev = banded.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("eval_id"), col("band"), col("band_hash"))
      val tr = banded.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("train_id"), col("band"), col("band_hash"))
      val cand = tr.join(broadcast(ev), Seq("band", "band_hash"))
        .select(col("train_id"), col("eval_id")).distinct()
      val ts = sigs.select(col("doc_id").as("train_id"), col("sig").as("sig_t"))
      val es = sigs.select(col("doc_id").as("eval_id"), col("sig").as("sig_e"))
      cand.join(ts, "train_id").join(broadcast(es), "eval_id")
        .select(col("train_id"), col("eval_id"),
          round(graft.functions.TextExprs.sigMatchFrac(col("sig_t"), col("sig_e")), 4)
            .as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("train_id", "eval_id")
    }),

    // ---- embedding near-dup: random-hyperplane LSH buckets, exact cosine
    //      verification (threshold tuned to the synthetic data's range) ----
    "q_dedup_embedding" -> ((s, d) => embeddingPairs(emb(s, d))),

    // ---- semantic dedup clusters (SemDeDup-style): the embedding near-dup
    //      PAIRS resolved into CLUSTERS by the same min-label-propagation
    //      connected components as q_dedup_clusters — one canonical vector
    //      kept per semantic group. This is the embedding-modality twin of
    //      the minhash cluster path: LSH bounds candidates, exact cosine
    //      verifies, CC closes transitively; all three stages shuffle on
    //      fine vector-id keys ----
    "q_semantic_clusters" -> ((s, d) =>
      connectedComponents(embeddingPairs(emb(s, d))
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .withColumn("is_keep", col("doc_id") === col("cluster_id"))
        .select(col("doc_id").as("vec_id"), col("cluster_id"), col("is_keep"))
        .orderBy("vec_id")),

    // ---- cluster representative selection (medoid): after semantic
    //      clustering, downstream curation keeps ONE exemplar per cluster;
    //      picking by id (q_dedup_clusters' keep) is arbitrary — the
    //      medoid (member nearest the cluster mean) is the standard
    //      representative. Determinism without float argmin hazards:
    //      embeddings quantize to integers q = floor(2²⁰·v) and the
    //      objective Σ_d (v_d − avg_d)² is ranked via its n²-scaled twin
    //      Σ_d (n·q_d − S_d)² — ALL INTEGER (decimal(38,0) squares), so
    //      the argmin can never flip on summation order or libm ulps,
    //      across engines OR across Spark's own retries. Scale: member
    //      explode joins on fine vec_id keys; per-(cluster,dim) sums are
    //      fine-keyed; the final rank-1 window partitions by cluster ----
    "q_cluster_medoid" -> ((s, d) => {
      val labels = connectedComponents(embeddingPairs(emb(s, d))
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
      val qv = emb(s, d).select(col("vec_id"),
        posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * 1048576L))).as(Seq("dim", "q")))
      val member = qv.join(labels, "vec_id")
      val sums = member.groupBy(col("cluster_id"), col("dim"))
        .agg(sum(col("q")).as("sd"))
      val ns = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
      val dist2 = member
        .join(sums, Seq("cluster_id", "dim"))
        .join(ns, "cluster_id")
        .withColumn("r", (col("n") * col("q") - col("sd")).cast("decimal(38,0)"))
        .groupBy(col("cluster_id"), col("vec_id"), col("n"))
        .agg(sum(col("r") * col("r")).as("d2"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("d2").asc, col("vec_id").asc)
      dist2.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("cluster_id"), col("vec_id").as("medoid_vec_id"),
          col("n").as("n_members"),
          round(col("d2").cast("double") /
            (col("n").cast("double") * col("n") * 1099511627776.0), 6)
            .as("dist2_q"))
        .orderBy("cluster_id")
    }),

    // ---- sorted-neighborhood near-dup (Hernández & Stolfo 1995, the
    //      classic entity-resolution blocking): sort the corpus on a
    //      normalized key, slide a fixed window of w=3 over the sorted
    //      order, run the EXPENSIVE pair check (edit distance) only on
    //      neighbors — O(n·w) comparisons instead of O(n²). The window is
    //      partitioned by a coarse prefix block, never a global
    //      single-partition WindowExec: the sort is a range exchange and
    //      each block's neighborhood scan is independent, so the shape
    //      holds at any corpus size (cross-block neighbors are the known
    //      SN blind spot — production runs multi-pass with rotated keys).
    //      Complements minhash/simhash: SN catches short-edit near-dups
    //      that set-based signatures dilute ----
    "q_dedup_sorted_neighborhood" -> ((s, d) =>
      sortedNeighborhoodPairs(docs(s, d)).orderBy("doc_a", "doc_b")),

    // ---- EXACT set-similarity self-join with prefix filtering (the
    //      AllPairs/PPJoin family — Bayardo et al. WWW'07, Chaudhuri et
    //      al. ICDE'06): unlike minhash/simhash this is NOT approximate —
    //      it returns exactly the pairs with shingle-set Jaccard ≥ t, but
    //      prunes the candidate space with the prefix-filter theorem: two
    //      sets with overlap ≥ α must share a token among their first
    //      (|s|−α+1) tokens under any shared global token order. Ordering
    //      tokens rarest-first (df asc) makes prefixes maximally
    //      selective. The oracle IS the O(n²) brute-force definition —
    //      proving the pruned rewrite equivalent (the q_pareto device) ----
    "q_dedup_ppjoin" -> ((s, d) =>
      ppjoinPairs(docs(s, d), 0.5).orderBy("doc_a", "doc_b")),

    // ---- multi-pass SN (the standard fix for SN's boundary blind spot):
    //      pass 1 sorts by the key, pass 2 by the REVERSED key — dups
    //      differing in their first characters land in different pass-1
    //      blocks but sort adjacently by suffix in pass 2. Union of the
    //      per-pass verified pairs, min edit distance per pair. Each pass
    //      keeps the single-pass shape (one window, bounded verify) ----
    "q_dedup_sn_multipass" -> ((s, d) =>
      sortedNeighborhoodPairs(docs(s, d))
        .unionByName(sortedNeighborhoodPairs(docs(s, d), reversed = true))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(min(col("dist")).as("dist"))
        .orderBy("doc_a", "doc_b")),

    // ---- blocking-quality census (the record-linkage evaluation pair:
    //      reduction ratio + pairs completeness): how well does the CHEAP
    //      sorted-neighborhood blocking cover the EXPENSIVE exact-Jaccard
    //      truth set (the ppjoin result)? RR = 1 − |candidates|/C(n,2)
    //      says what the blocking saves; PC = |cand ∩ truth|/|truth| says
    //      what it misses — the two numbers every blocking scheme must
    //      report before it replaces an O(n²) pass at 100 TB. All counts
    //      deterministic; censuses meet as 1-row broadcasts ----
    "q_blocking_quality" -> ((s, d) => {
      // r16 opt: cand and truth each feed TWO consumers (their own count
      // census + the intersection semi join) — uncached, the whole
      // sorted-neighborhood pipeline and the expensive ppjoin prefix-
      // filter join ran twice per query (plan sharing without
      // materialization recomputes in Spark); both are pair-set-sized
      val cand = snNeighbors(docs(s, d))
        .select(least(col("doc_id"), col("nb.nid")).as("doc_a"),
          greatest(col("doc_id"), col("nb.nid")).as("doc_b"))
        .persistTracked()
      val truth = ppjoinPairs(docs(s, d), 0.5)
        .select(col("doc_a"), col("doc_b"))
        .persistTracked()
      val nDocs = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val nHit = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_caught"))
      nDocs.crossJoin(broadcast(nCand)).crossJoin(broadcast(nTruth))
        .crossJoin(broadcast(nHit))
        .select(col("n_docs"), col("n_cand"), col("n_truth"), col("n_caught"),
          round(lit(1.0) - col("n_cand") /
            (col("n_docs") * (col("n_docs") - 1) / 2.0), 6)
            .as("reduction_ratio"),
          round(col("n_caught") / col("n_truth").cast("double"), 4)
            .as("pairs_completeness"))
    }),

    // ---- winnowing local-fingerprint dedup (Schleimer et al. 2003, the
    //      MOSS algorithm): each doc keeps the window-min of its in-order
    //      shingle hash stream (native O(m) deque expression — see
    //      functions.WinnowHashes); docs sharing ≥3 selected fingerprints
    //      are local-overlap candidates. Winnowing GUARANTEES any shared
    //      w+n−1-token run yields a shared fingerprint at ~2/(w+1) doc
    //      density — position-robust span detection where minhash only
    //      sees whole-set similarity. Stop-fingerprint cut BEFORE the
    //      self-join: an fp with document frequency > WinnowDfCap is
    //      boilerplate (a header, a license line) carrying no local-overlap
    //      signal, and without the cut one viral fp key emits O(df²)
    //      candidate rows on a single reducer — the exact blowup
    //      [[cappedBuckets]] exists to prevent (and the same df-suppression
    //      the PPJoin prefix filter applies). df ≥ 2 additionally drops the
    //      (majority) fps unique to one doc, which cannot witness a pair.
    //      The df agg and both joins shuffle on the fp value (fine,
    //      vocabulary-sized keys); pair dedup groups on fine (a,b) keys ----
    "q_winnow_dedup" -> ((s, d) => winnowPairs(docs(s, d))),

    // ---- reciprocal best match (entity-resolution matching step): from
    //      the exact similarity pairs, keep only pairs where EACH side is
    //      the other's highest-Jaccard partner (ties → smaller partner
    //      id). The standard 1:1 matching heuristic after candidate
    //      generation — stops a hub record from absorbing a whole block.
    //      Best-partner per node is max_by over (jaccard, −partner)
    //      structs: map-side partial agg on the fine node key, no
    //      per-node window sort ----
    "q_er_best_match" -> ((s, d) => {
      val pairs = ppjoinPairs(docs(s, d), 0.5).persistTracked()
      val directed = pairs
        .select(col("doc_a").as("x"), col("doc_b").as("y"), col("jaccard"))
        .unionByName(pairs
          .select(col("doc_b").as("x"), col("doc_a").as("y"), col("jaccard")))
      // r17: `best` feeds BOTH reciprocal joins — uncached, the plan
      // contained the directed-union + two-phase max_by pipeline TWICE
      // (verified in plans/r17/q_er_best_match_before.txt, two
      // partial_max_by/max_by stacks). One pass, cached.
      val best = directed.groupBy(col("x"))
        .agg(max_by(col("y"),
          struct(col("jaccard"), (-col("y")).as("ny"))).as("best"))
        .persistTracked()
      pairs
        .join(best.select(col("x").as("doc_a"), col("best").as("ba")), "doc_a")
        .join(best.select(col("x").as("doc_b"), col("best").as("bb")), "doc_b")
        .filter(col("ba") === col("doc_b") && col("bb") === col("doc_a"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // ---- shingle document-frequency profile (the number that JUSTIFIES
    //      every df cut in this file): per floor(log2(df)) bucket, how
    //      many distinct 3-word shingles sit there and what share of the
    //      posting mass they carry, plus the stop mass above WinnowDfCap.
    //      A healthy corpus is Zipfian — almost all shingles df=1..2
    //      (bucket 0-1), a thin boilerplate head carrying outsized
    //      postings — and THIS query is what a pipeline monitors to size
    //      the cap before a viral header melts a reducer. floor(log2) is
    //      length(bin(df))−1: pure integer in both engines, no float log.
    //      Shapes: one vocabulary-keyed agg (fine keys), bucket census,
    //      1-row broadcast for the shares ----
    "q_shingle_df_profile" -> ((s, d) => {
      // ONE corpus pass: the stop-mass and posting totals re-aggregate
      // from the (log₂-bounded) bucket census instead of a second scan
      // of the corpus-sized explode
      val dfq = docs(s, d)
        .select(explode(graft.functions.TextExprs
          .shingleHashes(col("text"), 3)).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
      val census = dfq
        .withColumn("bucket", (length(bin(col("df"))) - 1).cast("int"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("n_postings"),
          max(col("df")).as("max_df"),
          sum(when(col("df") > WinnowDfCap, col("df")).otherwise(0L))
            .as("stop_in_bucket"))
      val tot = census.agg(sum(col("n_postings")).as("n_post"),
        sum(col("stop_in_bucket")).as("n_stop"))
      census.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_shingles"), col("n_postings"),
          col("max_df"),
          expr("(n_postings * 10000) div n_post").as("postings_share_bp"),
          expr("(n_stop * 10000) div n_post").as("stop_mass_bp"))
        .orderBy("bucket")
    }),

    // ---- LSH banding S-curve tuner: the ANALYTIC twin of
    //      q_dedup_recall_curve's measured recall. For each exact-Jaccard
    //      band of the ngram ground-truth pairs, the expected candidate
    //      probability P = 1 − (1 − j^r)^b of three (b,r) configs sharing
    //      the 64-perm budget — the published S-curve a banding choice is
    //      made from, evaluated on the corpus's OWN similarity
    //      distribution instead of a textbook j grid. All powers are
    //      EXPLICIT squaring chains (j2=j·j, j4=j2·j2, …, q32=q16·q16) —
    //      the identical IEEE multiplication tree in both engines, no
    //      libm pow — and per-pair probabilities round to integer basis
    //      points BEFORE the sum, so the aggregate is order-independent.
    //      Cost: one pass over the (already blocked) exact pair set ----
    "q_lsh_tuning" -> ((s, d) => {
      // persisted: all three config branches read px — uncached, each
      // union branch re-runs the whole ngram pair chain (measured 3×)
      val px = ngramPairs(docs(s, d))
        .select(expr("CAST(round(jaccard * 10000) AS INT) div 1000")
          .as("jaccard_band"), col("jaccard").as("j"))
        .withColumn("j2", col("j") * col("j"))
        .withColumn("j4", col("j2") * col("j2"))
        .withColumn("j8", col("j4") * col("j4"))
        .persistTracked()
      def cfg(b: Int, r: Int) = {
        val jr = r match {
          case 2 => col("j2"); case 4 => col("j4"); case 8 => col("j8")
        }
        px.select(col("jaccard_band"), lit(b).as("bands"),
          lit(r).as("rows_per_band"), (lit(1.0) - jr).as("q"))
      }
      cfg(32, 2).unionByName(cfg(16, 4)).unionByName(cfg(8, 8))
        .withColumn("q2", col("q") * col("q"))
        .withColumn("q4", col("q2") * col("q2"))
        .withColumn("q8", col("q4") * col("q4"))
        .withColumn("q16", col("q8") * col("q8"))
        .withColumn("q32", col("q16") * col("q16"))
        .withColumn("p", lit(1.0) - when(col("bands") === 8, col("q8"))
          .when(col("bands") === 16, col("q16")).otherwise(col("q32")))
        .withColumn("p_bp", expr("CAST(round(p * 10000) AS BIGINT)"))
        .groupBy(col("jaccard_band"), col("bands"), col("rows_per_band"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("p_bp")).as("s_bp"))
        .withColumn("expected_recall_bp", expr("s_bp div n_pairs"))
        .drop("s_bp")
        .orderBy("jaccard_band", "bands")
    }),

    // ---- LSH pipeline cost census (observability for the dedup stack's
    //      own cost model): the stage-by-stage candidate funnel — docs →
    //      band entries → ≥2-member buckets → distinct candidate pairs →
    //      confirmed pairs — plus candidate share of C(n,2) and
    //      precision, in basis points. THESE are the numbers a production
    //      dedup run charts per batch: a boilerplate burst shows up as a
    //      candidate-count spike (bucket blowup) long before a reducer
    //      dies, and precision collapsing says the banding no longer fits
    //      the corpus (q_lsh_tuning says what to re-tune it to). All
    //      counts deterministic; C(n,2) in decimal(38,0) — n(n−1) wraps
    //      BIGINT past ~3·10⁹ docs ----
    "q_lsh_cost_census" -> ((s, d) => {
      import graft.functions.TextExprs
      val sigs = docs(s, d).select(col("doc_id"),
        TextExprs.minhashSig(
          TextExprs.shingleHashes(col("text"), 3), 64).as("sig"))
        .persistTracked()
      val banded = sigs.select(col("doc_id"),
        posexplode(TextExprs.bandHashes(col("sig"), 16, 4))
          .as(Seq("band", "band_hash")))
      val buckets = cappedBuckets(banded, "doc_id", "band", "band_hash")
        .persistTracked()
      val cand = buckets
        .select(explode(pairsFromBucket(col("bucket"))).as("p"))
        .select(col("p.doc_a"), col("p.doc_b")).distinct().persistTracked()
      val a = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val b = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      val confirmed = cand.join(a, "doc_a").join(b, "doc_b")
        .filter(round(TextExprs.sigMatchFrac(col("sig_a"), col("sig_b")), 4)
          >= 0.5)
      val nd = sigs.agg(count(lit(1)).as("n_docs"))
      val ne = banded.agg(count(lit(1)).as("n_band_entries"))
      val nb = buckets.agg(count(lit(1)).as("n_hot_buckets"))
      val nc = cand.agg(count(lit(1)).as("n_candidates"))
      val nf = confirmed.agg(count(lit(1)).as("n_confirmed"))
      nd.crossJoin(broadcast(ne)).crossJoin(broadcast(nb))
        .crossJoin(broadcast(nc)).crossJoin(broadcast(nf))
        .select(col("n_docs"), col("n_band_entries"), col("n_hot_buckets"),
          col("n_candidates"), col("n_confirmed"),
          expr("""(n_candidates * 10000) div
                 |(CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) div 2)"""
            .stripMargin).as("cand_share_bp"),
          expr("(n_confirmed * 10000) div n_candidates")
            .as("precision_bp"))
    }),

    // ---- MinHash estimator calibration (completes the self-measurement
    //      triad: recall curve = what the banding MISSES, S-curve tuner =
    //      what theory PREDICTS, this = how far the ESTIMATE itself sits
    //      from truth): for every confirmed pair, the exact shingle-set
    //      Jaccard (same 3-word feature space the signature sketches — an
    //      apples-to-apples residual, unlike comparing against the char-
    //      5-gram chain) and the |est − exact| residual in basis points,
    //      censused per estimate band. Expected |err| ~ √(j(1−j)/64) ≈
    //      600 bp at j=0.5 — a pipeline alerts when the measured residual
    //      drifts above the binomial bound (hash corruption, truncated
    //      sigs). Per-pair integer rounding BEFORE the sum (the
    //      q_lsh_tuning discipline); verification joins shuffle on fine
    //      doc ids; the hash arrays never broadcast ----
    "q_minhash_calibration" -> ((s, d) => {
      val hs = docs(s, d).select(col("doc_id"),
        graft.functions.TextExprs.shingleHashes(col("text"), 3).as("hs"))
        .persistTracked()
      minhashPairs(docs(s, d))
        .join(hs.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
        .join(hs.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
        .withColumn("inter", size(array_intersect(col("ha"), col("hb"))))
        .withColumn("exact", round(col("inter").cast("double") /
          (size(col("ha")) + size(col("hb")) - col("inter")), 4))
        .withColumn("err_bp",
          expr("CAST(round(abs(est_jaccard - exact) * 10000) AS BIGINT)"))
        .withColumn("band",
          expr("CAST(round(est_jaccard * 10000) AS INT) div 1000"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("err_bp")).as("s_bp"),
          max(col("err_bp")).as("max_err_bp"))
        .withColumn("mean_err_bp", expr("s_bp div n_pairs")).drop("s_bp")
        .orderBy("band")
    }),

    // ---- MinHash signature ROLLUP (the missing member of the mergeable-
    //      sketch family next to q_hll_rollup / q_cms_append / q_mg_rollup):
    //      a per-SOURCE MinHash signature is the element-wise min of its
    //      docs' signatures — min distributes over set union, so the
    //      rolled-up signature IS the signature of the source's whole
    //      shingle set, mergeable across shards/cells with no re-shingling.
    //      Pairwise source similarity from signatures alone (64 bigints per
    //      source, what a 100 TB fleet actually ships to the driver),
    //      gated against the EXACT shingle-set Jaccard computed from the
    //      same corpus. Shape: per-doc sigs (native expr) → posexplode →
    //      (source, pos) min census (alphabet×64 rows); the exact leg's
    //      (source, hash) distinct census self-joins on the hash key with
    //      per-key fanout bounded by the source alphabet. All-integer
    //      outputs in basis points ----
    "q_minhash_rollup" -> ((s, d) => {
      // the rollup stage IS the streaming function (DocsStream.
      // minhashRollup), so batch and live signatures can never drift;
      // StreamingSpec pins micro-batched == batch bit-equality on top
      // srcSig and sh are not persisted: AQE reuses each self-join's shuffle
      val srcSig = graft.streaming.DocsStream.minhashRollup(docs(s, d))
      val est = srcSig.select(col("source").as("src_a"), col("pos"),
          col("mv").as("va"))
        .join(srcSig.select(col("source").as("src_b"), col("pos"),
          col("mv").as("vb")), "pos")
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(sum(when(col("va") === col("vb"), 1L).otherwise(0L))
          .as("n_match"))
      val sh = docs(s, d).select(col("source"),
          explode(graft.functions.TextExprs.shingleHashes(col("text"), 3))
            .as("h"))
        .distinct()
      val sz = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = sh.select(col("source").as("src_a"), col("h"))
        .join(sh.select(col("source").as("src_b"), col("h")), "h")
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_inter"))
      est.join(inter, Seq("src_a", "src_b"))
        .join(broadcast(sz.select(col("source").as("src_a"),
          col("n").as("n_a"))), "src_a")
        .join(broadcast(sz.select(col("source").as("src_b"),
          col("n").as("n_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_match"),
          expr("(n_match * 10000) div 64").as("est_bp"),
          col("n_a"), col("n_b"), col("n_inter"),
          expr("(n_inter * 10000) div (n_a + n_b - n_inter)").as("exact_bp"))
        .orderBy("src_a", "src_b")
    }),

    // ---- incremental cluster maintenance (the lakehouse story for
    //      near-dup clusters): when an ingest batch lands, do NOT re-run
    //      connected components over the whole corpus — CONTRACT
    //      yesterday's clusters to their min-id representatives, run CC
    //      only on the new edges mapped through those reps (a graph
    //      bounded by the new batch, not the corpus), and compose. Sound
    //      because contraction preserves connectivity and each rep IS the
    //      minimum id of its old component, so the merged component's
    //      min-over-reps equals its min-over-members — the oracle is the
    //      FULL-corpus recursive closure and the gate proves incremental
    //      == full recompute label for label. "New" batch = doc_id % 10
    //      == 9 (the q_dedup_incremental split); yesterday's labels are
    //      recomputed here for the gate — in production they are read
    //      from the last run's output, which is the point ----
    "q_cluster_increment" -> ((s, d) => {
      val pairs = minhashPairs(docs(s, d))
        .select(col("doc_a"), col("doc_b")).persistTracked()
      def isNew(c: org.apache.spark.sql.Column) = c % 10 === 9
      val oldPairs = pairs.filter(!isNew(col("doc_a")) && !isNew(col("doc_b")))
      val newPairs = pairs.filter(isNew(col("doc_a")) || isNew(col("doc_b")))
      val ccOld = connectedComponents(oldPairs).persistTracked()
      val contracted = newPairs
        .join(ccOld.select(col("doc_id").as("doc_a"),
          col("cluster_id").as("ra")), Seq("doc_a"), "left")
        .join(ccOld.select(col("doc_id").as("doc_b"),
          col("cluster_id").as("rb")), Seq("doc_b"), "left")
        .select(coalesce(col("ra"), col("doc_a")).as("sa"),
          coalesce(col("rb"), col("doc_b")).as("sb"))
        .filter(col("sa") =!= col("sb"))
        .select(least(col("sa"), col("sb")).as("doc_a"),
          greatest(col("sa"), col("sb")).as("doc_b"))
        .distinct()
      val supMap = connectedComponents(contracted)
        .select(col("cluster_id").as("sup"), col("doc_id").as("rep"))
      val docsInPairs = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
      docsInPairs
        .join(ccOld, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("rep"))
        .join(supMap, Seq("rep"), "left")
        .select(col("doc_id"),
          coalesce(col("sup"), col("rep")).as("cluster_id"))
        .withColumn("is_keep", col("doc_id") === col("cluster_id"))
        .orderBy("doc_id")
    }),

    // ---- grid-density clustering, DBSCAN-lite (new in r14) — the
    //      spatial sibling of q_semantic_clusters: points (part price ×
    //      size) snap to grid cells, cells with ≥ minPts points are
    //      DENSE, and clusters are connected components of 8-adjacent
    //      dense cells. The corpus collapses to the value-domain-bounded
    //      cell census in ONE pass; adjacency is a census self-join and
    //      the CC runs on the shared `connectedComponents` machinery
    //      (min-label + pointer-halving — O(log diameter) rounds), so
    //      nothing downstream of the first groupBy scales with rows.
    //      Oracle = DuckDB recursive reachability (the q_dedup_clusters
    //      device). Isolated dense cells label themselves ----
    "q_dbscan_grid" -> ((s, d) => {
      val cells = Tables(s, d, "part")
        .select(expr("cast(floor(p_retailprice / 200.0) as bigint)")
            .as("cx"),
          expr("cast((p_size - 1) div 5 as bigint)").as("cy"))
        .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("n_pts"))
        .filter(col("n_pts") >= 3)
        // packed cell id: collision-free while cy < 100000. Today's
        // fixture has cy ≤ 9 (p_size ≤ 50, stride 5), but the 1e5
        // multiplier keeps the encoding safe under any plausible domain
        // widening instead of silently (and identically on both
        // engines, i.e. invisibly to the gate) merging distinct cells
        .withColumn("cell", col("cx") * 100000 + col("cy"))
        .persistTracked()
      val a = cells.select(col("cell").as("doc_a"), col("cx").as("ax"),
        col("cy").as("ay"))
      val b = cells.select(col("cell").as("doc_b"), col("cx").as("bx"),
        col("cy").as("by"))
      val edges = a.join(b, abs(col("ax") - col("bx")) <= 1 &&
          abs(col("ay") - col("by")) <= 1 && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
      val cc = connectedComponents(edges)
      cells.join(cc, cells("cell") === cc("doc_id"), "left")
        .select(col("cx"), col("cy"), col("n_pts"),
          coalesce(col("cluster_id"), col("cell")).as("cluster_id"))
        .orderBy("cx", "cy")
    })
  )

  /** Winnowing local-overlap candidate pairs (q_winnow_dedup body; a
    * helper so the viral-fingerprint spec can run it on a crafted corpus).
    * df ∈ [2, WinnowDfCap] stop-fingerprint cut before the self-join —
    * bounds any one fp key's candidate output at cap²/2 rows.
    */
  def winnowPairs(docsDf: DataFrame): DataFrame = {
    val fp = docsDf.select(col("doc_id"),
      explode(graft.functions.TextExprs
        .winnowHashes(col("text"), 3, 4)).as("fp"))
    val keep = fp.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= WinnowDfCap)
      .select(col("fp"))
    val fpk = fp.join(keep, "fp")
    fpk.select(col("fp"), col("doc_id").as("doc_a"))
      .join(fpk.select(col("fp"), col("doc_id").as("doc_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** PPJoin-style exact Jaccard-≥-t pairs over 3-word shingle sets.
    *
    * Scale shape: the document-frequency join shuffles on the token key
    * (vocabulary-sized aggregate, corpus-sized explode); only PREFIX
    * tokens — the |s|−⌈t·|s|⌉+1 RAREST shingles of each doc — enter the
    * candidate index, so bucket fan-out is bounded by rare-token df, not
    * corpus size; candidate de-dup and both verification joins shuffle on
    * fine doc-id keys; nothing corpus-sized is ever broadcast.
    */
  def ppjoinPairs(docsDf: DataFrame, t: Double): DataFrame = {
    val toks = docsDf
      .withColumn("ws",
        expr("filter(split(lower(trim(text)), '\\\\s+'), x -> x <> '')"))
      .filter(size(col("ws")) >= 3)
      .withColumn("toks", expr(
        """array_distinct(transform(sequence(1, size(ws) - 2),
          |  i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1),
          |              ' ', element_at(ws, i + 2))))""".stripMargin))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("len"))
      .persistTracked()
    val ex = toks.select(col("doc_id"), col("len"),
      explode(col("toks")).as("tok"))
    val dfreq = ex.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // canonical global order (df asc, tok asc) realized per doc by sorting
    // (df, tok) structs — no global rank assignment needed
    val pref = ex.join(dfreq, "tok")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"),
        first(col("len")).as("len"))
      // prefix length |s| − ⌈t·|s|⌉ + 1: enough for overlap α = ⌈t·|s|⌉,
      // which Jaccard ≥ t implies on BOTH sides (|∩| ≥ t·|∪| ≥ t·|s|)
      .withColumn("p",
        (col("len") - ceil(lit(t) * col("len")) + 1).cast("int"))
      .select(col("doc_id"), col("len"),
        posexplode(expr("slice(ord, 1, p)")).as(Seq("pos", "pt")))
      // a df=1 prefix token occurs in exactly one document — it cannot
      // witness a cross-doc pair, so it never needs to enter the
      // candidate index (most rare shingles are df=1: this drops the
      // bulk of the candidate shuffle without touching semantics)
      .filter(col("pt.df") >= 2)
      .select(col("doc_id"), col("len"), (col("pos") + 1).as("rk"),
        col("pt.tok").as("tok"))
    // positional filter (the PPJoin refinement over plain AllPairs): let
    // x be the pair's globally-FIRST shared token — ranks are positions
    // in the same global order, so x minimizes ra and rb simultaneously.
    // Tokens before x in a are absent from b (else an earlier shared
    // token), hence |∩| ≤ 1 + min(la−ra₀, lb−rb₀); pairs whose bound
    // can't reach the required overlap ⌈t·max(la,lb)⌉ die BEFORE the
    // array-intersect verify (sf0.1: 310k candidates → the dedup groupBy
    // replaces the distinct at the same shuffle, the bound then cuts the
    // expensive verify input ~20×)
    val cand = pref.select(col("tok"), col("doc_id").as("doc_a"),
        col("len").as("la"), col("rk").as("ra"))
      .join(pref.select(col("tok"), col("doc_id").as("doc_b"),
        col("len").as("lb"), col("rk").as("rb")), "tok")
      .filter(col("doc_a") < col("doc_b"))
      // length filter: Jaccard ≥ t ⇒ min(|a|,|b|) ≥ t·max(|a|,|b|)
      .filter(greatest(col("la"), col("lb")) * t <=
        least(col("la"), col("lb")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("ra")).as("ra0"), min(col("rb")).as("rb0"),
        min(col("la")).as("la"), min(col("lb")).as("lb"))
      .filter(lit(1) +
        least(col("la") - col("ra0"), col("lb") - col("rb0")) >=
        ceil(lit(t) * greatest(col("la"), col("lb"))))
      .select(col("doc_a"), col("doc_b"))
    val va = toks.select(col("doc_id").as("doc_a"), col("toks").as("ta"))
    val vb = toks.select(col("doc_id").as("doc_b"), col("toks").as("tb"))
    cand.join(va, "doc_a").join(vb, "doc_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("uni",
        size(col("ta")) + size(col("tb")) - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= t)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
  }

  /** Sorted-neighborhood pair generation over a (doc_id, text) frame —
    * shared by q_dedup_sorted_neighborhood and the synthetic-corpus spec.
    * Window size w=3 (lead 1 and 2), block = 4-char prefix of the
    * normalized sort key, duplicate cut: edit distance ≤ 10% of the
    * longer text.
    */
  /** SN window candidates BEFORE the edit-distance cut — (doc_id, skey,
    * nb.nid, nb.ns) neighbor rows; exposed separately so the blocking-
    * quality census can count candidates without paying the verify DP. */
  def snNeighbors(docsDf: DataFrame, reversed: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a reversed sort key flips the blind spot: pass 1 misses dups that
    // differ in their first characters (different block/sort position),
    // pass 2 sorts by the SUFFIX — the classic multi-pass SN rotation.
    // Edit distance is reversal-invariant, so the verify cut is unchanged
    val rawKey = lower(trim(col("text")))
    val n = docsDf.select(col("doc_id"),
      (if (reversed) reverse(rawKey) else rawKey).as("skey"))
      .withColumn("blk", substring(col("skey"), 1, 4))
    val w = Window.partitionBy(col("blk"))
      .orderBy(col("skey"), col("doc_id"))
    // both neighbor offsets come out of ONE window pass: a union of two
    // lead() branches would re-sort the corpus per branch (measured 2×)
    n.select(col("doc_id"), col("skey"),
      lead(col("doc_id"), 1).over(w).as("id1"),
      lead(col("skey"), 1).over(w).as("s1"),
      lead(col("doc_id"), 2).over(w).as("id2"),
      lead(col("skey"), 2).over(w).as("s2"))
      .select(col("doc_id"), col("skey"),
        explode(array(
          struct(col("id1").as("nid"), col("s1").as("ns")),
          struct(col("id2").as("nid"), col("s2").as("ns")))).as("nb"))
      .filter(col("nb.nid").isNotNull)
  }

  def sortedNeighborhoodPairs(docsDf: DataFrame,
      reversed: Boolean = false): DataFrame = {
    val r = snNeighbors(docsDf, reversed)
    // edit distance verifies the 200-char KEY PREFIX, not the whole text:
    // levenshtein is O(L²) per pair, and SN's contract is cheap blocking +
    // bounded verify — the windowed O(n·w) pair count is pointless if each
    // pair costs megacells (full-document distance measured 4e10 cells at
    // sf0.1; the bounded key is 4e8). Pairs equal over the key prefix but
    // divergent later are the next pass's problem, like any blocking key
    // the window leaves ~|blocks| busy partitions (prefix cardinality,
    // not core count) — round-robin the SMALL pair stream before the
    // per-pair DP so every core runs levenshtein (measured 3×)
    val parts = docsDf.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    r.repartition(parts)
      .select(least(col("doc_id"), col("nb.nid")).as("doc_a"),
        greatest(col("doc_id"), col("nb.nid")).as("doc_b"),
        levenshtein(substring(col("skey"), 1, 200),
          substring(col("nb.ns"), 1, 200)).as("dist"),
        greatest(least(length(col("skey")), lit(200)),
          least(length(col("nb.ns")), lit(200))).as("mx"))
      // duplicate iff edit distance ≤ 10% of the longer compared key
      .filter(col("dist") * 10 <= col("mx"))
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** Hyperplane-LSH embedding near-dup pairs (vec_a, vec_b, cos ≥ 0.4) —
    * shared by q_dedup_embedding and q_semantic_clusters.
    */
  def embeddingPairs(embTable: DataFrame): DataFrame = {
    val e = embTable.select(col("vec_id"),
      col("embedding"),
      graft.functions.VectorExprs.hyperplaneBucket(col("embedding"), 6).as("bkt"))
      .persistTracked()
    val buckets = cappedBuckets(
      e.select(col("vec_id"), col("bkt")), "vec_id", "bkt")
    val cand = buckets
      .select(explode(pairsFromBucket(col("bucket"))).as("p"))
      .select(col("p.doc_a").as("vec_a"), col("p.doc_b").as("vec_b"))
    // shuffled verification joins — the embedding table is O(corpus)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    cand.join(a, "vec_a").join(b, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(graft.functions.VectorExprs.cosine(col("emb_a"), col("emb_b")), 4).as("cos"))
      .filter(col("cos") >= 0.4)
      .orderBy("vec_a", "vec_b")
  }

  /** Shared DuckDB CTE chain replicating [[embeddingPairs]]: hyperplane
    * weights as literals, capped buckets, exact-cosine-scored `pairs`.
    */
  private lazy val embPairCtes: String = {
    import graft.functions.VectorExprs
    s"""w AS (SELECT ${VectorExprs.weightsSqlLiteral(0, 6)}::DOUBLE[][] AS w0),
       |e AS MATERIALIZED (
       |      SELECT vec_id, embedding,
       |        ${VectorExprs.bucketSql("embedding", "w0", 6)} AS bkt
       |      FROM embeddings, w),
       |bk AS (SELECT bkt, list_sort(list_distinct(list(vec_id)))[1:$BucketCap] AS bucket
       |       FROM e GROUP BY bkt HAVING len(list_distinct(list(vec_id))) >= 2),
       |cand AS (SELECT DISTINCT pa.x AS vec_a, pb.y AS vec_b
       |         FROM bk, unnest(bk.bucket) AS pa(x), unnest(bk.bucket) AS pb(y)
       |         WHERE pa.x < pb.y),
       |pairs AS (
       |  SELECT c.vec_a, c.vec_b,
       |         round(${VectorExprs.cosineSql("a.embedding", "b.embedding")}, 4) AS cos
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.vec_a
       |  JOIN embeddings b ON b.vec_id = c.vec_b)""".stripMargin
  }

  /** Shared DuckDB CTE chain replicating [[minhashPairs]] bit-for-bit up to
    * the scored candidate pair set (`pairs`); suffix queries select from it.
    * EVERY sketch stage is its own MATERIALIZED CTE: DuckDB inlines
    * non-materialized CTEs as expression substitution, so a downstream
    * lambda that references the upstream value k times re-EVALUATES the
    * whole upstream expression k times — the un-staged signature chain
    * re-computed the shingle-hash list 2×64 times per row (once per
    * permutation lambda reference; measured 58 s for 500 docs at sf0.01
    * vs 0.5 s staged, and this chain is embedded in ~12 oracles).
    */
  /** Shared simhash candidate CTE chain (features → 62-bit sig → 16-bit
    * chunk buckets → candidate pairs with hamming), the DuckDB twin of
    * [[simhashCandPairs]]. */
  private lazy val simhashPairCtes: String = {
    import graft.functions.TextExprs._
    s"""f0 AS MATERIALIZED (
       |  SELECT doc_id, ${shingleFeatures62Sql("text", 3)} AS feats
       |  FROM documents),
       |s AS MATERIALIZED (
       |  SELECT doc_id, ${simhashSql("feats")} AS sim FROM f0),
       |ch AS (SELECT doc_id, c.range AS chunk, (sim >> (c.range * 16)) & 65535 AS chunk_val
       |       FROM s, range(0, 4) c),
       |bk AS (SELECT chunk, chunk_val,
       |              list_sort(list_distinct(list(doc_id)))[1:$BucketCap] AS bucket
       |       FROM ch GROUP BY chunk, chunk_val
       |       HAVING len(list_distinct(list(doc_id))) >= 2),
       |cand AS (SELECT DISTINCT pa.x AS doc_a, pb.y AS doc_b
       |         FROM bk, unnest(bk.bucket) AS pa(x), unnest(bk.bucket) AS pb(y)
       |         WHERE pa.x < pb.y),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b, bit_count(xor(a.sim, b.sim)) AS hamming
       |  FROM cand c JOIN s a ON a.doc_id = c.doc_a JOIN s b ON b.doc_id = c.doc_b)""".stripMargin
  }

  private lazy val minhashPairCtes: String = {
    import graft.functions.TextExprs._
    s"""h0 AS MATERIALIZED (
       |      SELECT doc_id, ${shingleHashesSql("text", 3)} AS hashes
       |      FROM documents),
       |s AS MATERIALIZED (
       |      SELECT doc_id, ${minhashSigSql("hashes", 64)} AS sig FROM h0),
       |s2 AS MATERIALIZED (
       |      SELECT doc_id, sig, ${bandHashesSql("sig", 16, 4)} AS bands FROM s),
       |ex AS (SELECT doc_id, b.range AS band, bands[b.range + 1] AS band_hash
       |       FROM s2, range(0, 16) b),
       |bk AS (SELECT band, band_hash,
       |              list_sort(list_distinct(list(doc_id)))[1:$BucketCap] AS bucket
       |       FROM ex GROUP BY band, band_hash
       |       HAVING len(list_distinct(list(doc_id))) >= 2),
       |cand AS (SELECT DISTINCT pa.x AS doc_a, pb.y AS doc_b
       |         FROM bk, unnest(bk.bucket) AS pa(x), unnest(bk.bucket) AS pb(y)
       |         WHERE pa.x < pb.y),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |         round(CAST(list_sum(list_transform(range(1, 65),
       |                 j -> CASE WHEN a.sig[j] = b.sig[j] THEN 1 ELSE 0 END))
       |               AS DOUBLE) / 64, 4) AS est_jaccard
       |  FROM cand c JOIN s a ON a.doc_id = c.doc_a JOIN s b ON b.doc_id = c.doc_b)""".stripMargin
  }

  /** Full-corpus recursive transitive closure over the confirmed minhash
    * pairs — the oracle for BOTH q_dedup_clusters (which computes it
    * directly) and q_cluster_increment (whose contracted incremental
    * composition must reproduce it label for label).
    */
  private lazy val fullClusterClosureSql: String =
    s"""WITH RECURSIVE $minhashPairCtes,
       |pf AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.5),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM pf
       |  UNION SELECT doc_b, doc_a FROM pf),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |lab AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |        FROM reach GROUP BY src)
       |SELECT doc_id, cluster_id, (doc_id = cluster_id) AS is_keep
       |FROM lab ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,

    // same fingerprints, same MinHash funnel (confirmed pairs CTE), same
    // integer ladder
    "q_dedup_advisor" ->
      s"""WITH $minhashPairCtes,
         |np AS (SELECT count(*) AS n_near_pairs FROM pairs
         |       WHERE est_jaccard >= 0.5),
         |b AS (
         |  SELECT count(*) AS n_docs,
         |         count(DISTINCT md5(text)) AS n_exact_u,
         |         count(DISTINCT md5(list_aggregate(list_sort(list_distinct(
         |             list_filter(regexp_split_to_array(
         |               regexp_replace(lower(trim(text)), '[0-9]+', '#',
         |                 'g'), '\\s+'), t -> t <> ''))),
         |             'string_agg', ' '))) AS n_bow_u
         |  FROM documents WHERE length(trim(text)) > 0)
         |SELECT n_docs,
         |       ((n_docs - n_exact_u) * 10000) // n_docs AS exact_dup_bp,
         |       ((n_docs - n_bow_u) * 10000) // n_docs AS bow_dup_bp,
         |       n_near_pairs,
         |       CASE
         |         WHEN ((n_docs - n_exact_u) * 10000) // n_docs >= 500
         |           THEN 'exact'
         |         WHEN ((n_docs - n_bow_u) * 10000) // n_docs >= 500
         |           THEN 'normalize_exact'
         |         WHEN n_near_pairs * 100 >= n_docs THEN 'minhash'
         |         ELSE 'none' END AS advice
         |FROM b CROSS JOIN np""".stripMargin,

    // same set fingerprint as q_bow_dedup; count(DISTINCT source||'|'||tfp)
    // is the (source, tfp) pair distinct — md5 hex can't contain '|'
    "q_dedup_local_vs_global" ->
      """WITH f AS MATERIALIZED (
        |  SELECT source,
        |         md5(list_aggregate(list_sort(list_distinct(list_filter(
        |             regexp_split_to_array(regexp_replace(lower(trim(text)),
        |               '[0-9]+', '#', 'g'), '\s+'),
        |             t -> t <> ''))), 'string_agg', ' ')) AS tfp
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT count(*) AS n_docs,
        |       count(DISTINCT tfp) AS global_unique,
        |       count(DISTINCT source || '|' || tfp) AS local_unique,
        |       count(DISTINCT source || '|' || tfp) - count(DISTINCT tfp)
        |         AS cross_shard_dups,
        |       ((count(*) - count(DISTINCT tfp)) * 10000) // count(*)
        |         AS global_drop_bp,
        |       ((count(*) - count(DISTINCT source || '|' || tfp)) * 10000)
        |         // count(*) AS local_drop_bp
        |FROM f""".stripMargin,

    // hyperplane weights embedded as literals; bucket + cosine arithmetic is
    // bit-identical to the native expressions (see VectorExprs scaladoc)
    "q_dedup_embedding" ->
      s"""WITH $embPairCtes
         |SELECT vec_a, vec_b, cos FROM pairs
         |WHERE cos >= 0.4 ORDER BY vec_a, vec_b""".stripMargin,

    // same pair set closed transitively — the q_dedup_clusters closure over
    // the embedding modality
    // same closure as q_semantic_clusters; the medoid rank runs on the
    // identical integer-quantized objective (HUGEINT squares — DuckDB's
    // native 128-bit twin of the Spark side's decimal(38,0))
    "q_cluster_medoid" ->
      s"""WITH RECURSIVE $embPairCtes,
         |pf AS MATERIALIZED (
         |  SELECT vec_a, vec_b FROM pairs WHERE cos >= 0.4),
         |edges AS MATERIALIZED (
         |  SELECT vec_a AS src, vec_b AS dst FROM pf
         |  UNION SELECT vec_b, vec_a FROM pf),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         |lab AS (SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
         |        FROM reach GROUP BY src),
         |nn AS (SELECT cluster_id, count(*) AS n FROM lab GROUP BY cluster_id),
         |qv AS (
         |  SELECT l.cluster_id, l.vec_id, d.range AS dim,
         |         CAST(floor(CAST(em.embedding[d.range] AS DOUBLE)
         |                    * 1048576) AS BIGINT) AS q
         |  FROM lab l JOIN embeddings em ON em.vec_id = l.vec_id,
         |       range(1, 65) d),
         |sd AS (SELECT cluster_id, dim, CAST(sum(q) AS BIGINT) AS sd
         |       FROM qv GROUP BY cluster_id, dim),
         |d2 AS (
         |  SELECT qv.cluster_id, qv.vec_id, nn.n,
         |         sum(CAST(nn.n * qv.q - sd.sd AS HUGEINT) *
         |             CAST(nn.n * qv.q - sd.sd AS HUGEINT)) AS d2
         |  FROM qv JOIN sd ON qv.cluster_id = sd.cluster_id
         |                 AND qv.dim = sd.dim
         |          JOIN nn ON qv.cluster_id = nn.cluster_id
         |  GROUP BY qv.cluster_id, qv.vec_id, nn.n),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |                 ORDER BY d2, vec_id) AS rk FROM d2)
         |SELECT cluster_id, vec_id AS medoid_vec_id,
         |       CAST(n AS BIGINT) AS n_members,
         |       round(CAST(d2 AS DOUBLE) /
         |             (CAST(n AS DOUBLE) * n * 1099511627776.0), 6) AS dist2_q
         |FROM rk WHERE rk = 1 ORDER BY cluster_id""".stripMargin,

    "q_semantic_clusters" ->
      s"""WITH RECURSIVE $embPairCtes,
         |pf AS MATERIALIZED (
         |  SELECT vec_a, vec_b FROM pairs WHERE cos >= 0.4),
         |edges AS MATERIALIZED (
         |  SELECT vec_a AS src, vec_b AS dst FROM pf
         |  UNION SELECT vec_b, vec_a FROM pf),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         |lab AS (SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
         |        FROM reach GROUP BY src)
         |SELECT vec_id, cluster_id, (vec_id = cluster_id) AS is_keep
         |FROM lab ORDER BY vec_id""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH $minhashPairCtes
         |SELECT doc_a, doc_b, est_jaccard FROM pairs
         |WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,

    // the bucketed twin changes the physical layout, not the result
    "q_dedup_minhash_bucketed" ->
      s"""WITH $minhashPairCtes
         |SELECT doc_a, doc_b, est_jaccard FROM pairs
         |WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,

    // transitive closure of the confirmed pair set; cluster id = least
    // reachable doc_id — identical semantics to the Spark min-label
    // propagation fixpoint
    "q_dedup_clusters" -> fullClusterClosureSql,

    // the incremental composition must equal the FULL recompute label for
    // label — the oracle IS the full-corpus closure, verbatim
    "q_cluster_increment" -> fullClusterClosureSql,

    // every stage count reads the shared chain's own CTEs — the census IS
    // the chain's instrumentation
    "q_lsh_cost_census" ->
      s"""WITH $minhashPairCtes,
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM s),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_band_entries FROM ex),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_hot_buckets FROM bk),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
         |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_confirmed FROM pairs
         |       WHERE est_jaccard >= 0.5)
         |SELECT n_docs, n_band_entries, n_hot_buckets, n_candidates,
         |       n_confirmed,
         |       CAST((n_candidates * 10000) //
         |            (n_docs::HUGEINT * (n_docs - 1) // 2) AS BIGINT)
         |         AS cand_share_bp,
         |       (n_confirmed * 10000) // n_candidates AS precision_bp
         |FROM nd CROSS JOIN ne CROSS JOIN nb CROSS JOIN nc
         |     CROSS JOIN nf""".stripMargin,

    // exact Jaccard from the SAME materialized hash lists the signature
    // chain consumed (h0) — identical residual arithmetic, per-pair
    // integer rounding before the census sum
    "q_minhash_calibration" ->
      s"""WITH $minhashPairCtes,
         |mp AS (SELECT doc_a, doc_b, est_jaccard FROM pairs
         |       WHERE est_jaccard >= 0.5),
         |j AS (
         |  SELECT mp.est_jaccard,
         |         len(list_intersect(a.hashes, b.hashes)) AS i,
         |         len(a.hashes) AS la, len(b.hashes) AS lb
         |  FROM mp JOIN h0 a ON a.doc_id = mp.doc_a
         |          JOIN h0 b ON b.doc_id = mp.doc_b),
         |x AS (
         |  SELECT CAST(round(est_jaccard * 10000) AS INT) // 1000 AS band,
         |         CAST(round(abs(est_jaccard -
         |             round(CAST(i AS DOUBLE) / (la + lb - i), 4)) * 10000)
         |           AS BIGINT) AS err_bp
         |  FROM j)
         |SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
         |       max(err_bp) AS max_err_bp,
         |       CAST(sum(err_bp) AS BIGINT) // CAST(count(*) AS BIGINT)
         |         AS mean_err_bp
         |FROM x GROUP BY band ORDER BY band""".stripMargin,

    // same per-doc sigs, same element-wise min rollup, same exact
    // shingle-set Jaccard anchor
    "q_minhash_rollup" ->
      s"""WITH h0 AS MATERIALIZED (
         |  SELECT doc_id, source,
         |         ${graft.functions.TextExprs.shingleHashesSql("text", 3)}
         |           AS hashes
         |  FROM documents),
         |s AS MATERIALIZED (
         |  SELECT source, ${graft.functions.TextExprs.minhashSigSql(
                 "hashes", 64)} AS sig FROM h0),
         |e AS (SELECT source, j.range AS pos,
         |             sig[CAST(j.range + 1 AS INT)] AS v
         |      FROM s, range(0, 64) j),
         |m AS MATERIALIZED (
         |  SELECT source, pos, min(v) AS mv FROM e GROUP BY 1, 2),
         |est AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |         CAST(sum(CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_match
         |  FROM m a JOIN m b ON a.pos = b.pos AND a.source < b.source
         |  GROUP BY 1, 2),
         |sh AS MATERIALIZED (
         |  SELECT DISTINCT source, h FROM h0, unnest(hashes) t(h)),
         |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
         |ix AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |         CAST(count(*) AS BIGINT) AS n_inter
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT est.src_a, est.src_b, n_match,
         |       (n_match * 10000) // 64 AS est_bp,
         |       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
         |       n_inter,
         |       (n_inter * 10000) // (sa.n + sb.n - n_inter) AS exact_bp
         |FROM est JOIN ix ON est.src_a = ix.src_a AND est.src_b = ix.src_b
         |JOIN sz sa ON sa.source = est.src_a
         |JOIN sz sb ON sb.source = est.src_b
         |ORDER BY est.src_a, est.src_b""".stripMargin,

    "q_cluster_density" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |pf AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.5),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pf
         |  UNION SELECT doc_b, doc_a FROM pf),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lab AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |        FROM reach GROUP BY src),
         |mem AS (SELECT cluster_id, count(*) AS n FROM lab GROUP BY 1),
         |ec AS (SELECT l.cluster_id, count(*) AS n_edges
         |       FROM pf JOIN lab l ON pf.doc_a = l.doc_id GROUP BY 1)
         |SELECT m.cluster_id, m.n, ec.n_edges,
         |       (ec.n_edges * 2 * 10000) // (m.n * (m.n - 1)) AS density_bp
         |FROM mem m JOIN ec ON m.cluster_id = ec.cluster_id
         |ORDER BY m.cluster_id""".stripMargin,

    // same recursive closure as q_dedup_clusters; split assignment is the
    // shared integer LCG over the cluster label (doc label for the naive
    // comparison split), so both engines compute identical assignments
    "q_split_cluster_safe" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |pf AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.5),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pf
         |  UNION SELECT doc_b, doc_a FROM pf),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lab AS MATERIALIZED (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src),
         |assigned AS MATERIALIZED (
         |  SELECT d.doc_id,
         |         coalesce(lab.cluster_id, d.doc_id) AS cluster_id,
         |         CASE WHEN (((coalesce(lab.cluster_id, d.doc_id)
         |                      % 2147483647) * 1103515245 + 12345)
         |                    % 2147483647) % 10 < 8 THEN 'train'
         |              WHEN (((coalesce(lab.cluster_id, d.doc_id)
         |                      % 2147483647) * 1103515245 + 12345)
         |                    % 2147483647) % 10 = 8 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id),
         |naive AS (
         |  SELECT coalesce(CAST(sum(CASE WHEN
         |    (CASE WHEN (((doc_a % 2147483647) * 1103515245 + 12345)
         |                % 2147483647) % 10 < 8 THEN 'train'
         |          WHEN (((doc_a % 2147483647) * 1103515245 + 12345)
         |                % 2147483647) % 10 = 8 THEN 'val'
         |          ELSE 'test' END) <>
         |    (CASE WHEN (((doc_b % 2147483647) * 1103515245 + 12345)
         |                % 2147483647) % 10 < 8 THEN 'train'
         |          WHEN (((doc_b % 2147483647) * 1103515245 + 12345)
         |                % 2147483647) % 10 = 8 THEN 'val'
         |          ELSE 'test' END)
         |    THEN 1 ELSE 0 END) AS BIGINT), 0) AS naive_leaky_pairs
         |  FROM pf),
         |cleak AS (
         |  SELECT coalesce(CAST(sum(CASE WHEN a1.split <> a2.split
         |           THEN 1 ELSE 0 END) AS BIGINT), 0) AS cluster_leaky_pairs
         |  FROM pf JOIN assigned a1 ON pf.doc_a = a1.doc_id
         |          JOIN assigned a2 ON pf.doc_b = a2.doc_id)
         |SELECT split, count(*) AS n_docs,
         |       count(DISTINCT cluster_id) AS n_clusters,
         |       naive_leaky_pairs, cluster_leaky_pairs
         |FROM assigned CROSS JOIN naive CROSS JOIN cleak
         |GROUP BY split, naive_leaky_pairs, cluster_leaky_pairs
         |ORDER BY split""".stripMargin,

    // every stage CTE mirrors its standalone oracle-gated twin; the
    // near-dup keep set is the same recursive closure as q_dedup_clusters
    "q_pipeline_funnel" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |pf AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.5),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pf
         |  UNION SELECT doc_b, doc_a FROM pf),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lab AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |        FROM reach GROUP BY src),
         |noncanon AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id),
         |allx AS (
         |  SELECT doc_id, text, lang, n_chars,
         |         len(regexp_split_to_array(lower(trim(text)), '\\s+'))
         |           AS n_tok
         |  FROM documents),
         |ne AS (SELECT * FROM allx WHERE length(trim(text)) > 0),
         |ek AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY md5(text)
         |      ORDER BY doc_id ASC) AS rn FROM ne)
         |  WHERE rn = 1),
         |tot AS (SELECT count(*) AS nn FROM ek),
         |lc AS (SELECT lang, count(*) AS lc FROM ek GROUP BY lang),
         |lk AS (
         |  SELECT ek.* FROM ek JOIN lc ON ek.lang = lc.lang CROSS JOIN tot
         |  WHERE lc.lc * 20 >= tot.nn),
         |thr AS (SELECT quantile_disc(n_chars, 0.25) AS p25 FROM lk),
         |lek AS (SELECT lk.* FROM lk CROSS JOIN thr WHERE n_chars >= p25),
         |fk AS (SELECT * FROM lek
         |       WHERE doc_id NOT IN (SELECT doc_id FROM noncanon))
         |SELECT 0 AS stage, 'raw' AS stage_name, count(*) AS n_docs,
         |       CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens
         |FROM allx
         |UNION ALL SELECT 1, 'nonempty', count(*),
         |       CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM ne
         |UNION ALL SELECT 2, 'exact_dedup', count(*),
         |       CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM ek
         |UNION ALL SELECT 3, 'lang_gate', count(*),
         |       CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM lk
         |UNION ALL SELECT 4, 'length_gate', count(*),
         |       CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM lek
         |UNION ALL SELECT 5, 'neardup_canonical', count(*),
         |       CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM fk
         |UNION ALL SELECT 6, 'packed_2048',
         |       CAST(coalesce(sum(n_tok), 0) // 2048 AS BIGINT),
         |       CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM fk
         |ORDER BY stage""".stripMargin,

    // same recursive closure, then argmax(n_chars, min doc_id) per cluster
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |pf AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.5),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pf
         |  UNION SELECT doc_b, doc_a FROM pf),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lab AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |        FROM reach GROUP BY src),
         |sized AS (
         |  SELECT lab.doc_id, cluster_id, n_chars,
         |         row_number() OVER (PARTITION BY cluster_id
         |           ORDER BY n_chars DESC, lab.doc_id ASC) AS rn
         |  FROM lab JOIN documents ON lab.doc_id = documents.doc_id)
         |SELECT cluster_id, count(*) AS n_members,
         |       min(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc,
         |       min(CASE WHEN rn = 1 THEN n_chars END) AS keep_chars,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM sized GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // features staged into their own MATERIALIZED CTE: inlined, the
    // 62-bit majority loop references the feature list 2×62 times and
    // DuckDB re-evaluates the shingle scan per reference (~30 s → <1 s)
    "q_dedup_simhash" ->
      s"""WITH $simhashPairCtes
         |SELECT doc_a, doc_b, hamming FROM pairs
         |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin,

    // same candidate population, histogrammed instead of cut
    "q_simhash_census" ->
      s"""WITH $simhashPairCtes,
         |t AS (SELECT count(*) AS n_total FROM pairs),
         |h AS (SELECT hamming, count(*) AS n_pairs FROM pairs
         |      GROUP BY hamming)
         |SELECT hamming, n_pairs,
         |       CAST(sum(n_pairs) OVER (ORDER BY hamming
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         AS BIGINT) AS cum_pairs,
         |       (CAST(sum(n_pairs) OVER (ORDER BY hamming
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) * 10000) // n_total AS cum_bp
         |FROM h CROSS JOIN t ORDER BY hamming""".stripMargin,

    "q_dedup_ngram" -> {
      import graft.functions.TextExprs._
      s"""WITH g AS MATERIALIZED (
         |  SELECT doc_id, lang, n_chars // 64 AS size_bkt,
         |                  ${charNgramHashesSql("text", 5)} AS grams
         |           FROM documents),
         |g2 AS MATERIALIZED (
         |  SELECT doc_id, lang, size_bkt, ${minhashSigSql("grams", 8)} AS sig FROM g),
         |g3 AS MATERIALIZED (
         |  SELECT doc_id, lang, size_bkt, ${bandHashesSql("sig", 4, 2)} AS bands FROM g2),
         |ex AS (SELECT doc_id, lang, size_bkt, b.range AS band, bands[b.range + 1] AS band_hash
         |       FROM g3, range(0, 4) b),
         |bk AS (SELECT lang, size_bkt, band, band_hash,
         |              list_sort(list_distinct(list(doc_id)))[1:$BucketCap] AS bucket
         |       FROM ex GROUP BY lang, size_bkt, band, band_hash
         |       HAVING len(list_distinct(list(doc_id))) >= 2),
         |cand AS (SELECT DISTINCT pa.x AS doc_a, pb.y AS doc_b
         |         FROM bk, unnest(bk.bucket) AS pa(x), unnest(bk.bucket) AS pb(y)
         |         WHERE pa.x < pb.y),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b,
         |         round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |               / (len(a.grams) + len(b.grams)
         |                  - len(list_intersect(a.grams, b.grams))), 4) AS jaccard
         |  FROM cand c JOIN g a ON a.doc_id = c.doc_a JOIN g b ON b.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
    },

    // m over the shared minhash pair chain; u exactly from marginals —
    // Σ c(c−1)/n(n−1) per field over NON-NULL values, one double division
    // + round at the end. meta/mp MATERIALIZED: each is referenced by all
    // four field branches, and inlined DuckDB re-ran the whole minhash
    // chain per reference (measured 65 s at sf0.01 vs seconds split).
    "q_fs_weights" -> {
      def fld(name: String, a: String, b: String, v: String) =
        s"""  SELECT '$name' AS field,
           |    (SELECT count(*) FROM mp
           |     WHERE $a IS NOT NULL AND $b IS NOT NULL) AS n_match,
           |    round((SELECT CAST(sum(CASE WHEN $a = $b THEN 1 ELSE 0 END)
           |                   AS DOUBLE) FROM mp
           |           WHERE $a IS NOT NULL AND $b IS NOT NULL)
           |          / (SELECT count(*) FROM mp
           |             WHERE $a IS NOT NULL AND $b IS NOT NULL), 6) AS m_r,
           |    round((SELECT CAST(sum(c * (c - 1)) AS DOUBLE)
           |           FROM (SELECT count(*) AS c FROM meta
           |                 WHERE $v IS NOT NULL GROUP BY $v))
           |          / ((SELECT CAST(count($v) AS DOUBLE) FROM meta)
           |             * ((SELECT CAST(count($v) AS DOUBLE) FROM meta)
           |                - 1.0)), 8) AS u_r""".stripMargin
      s"""WITH $minhashPairCtes,
         |pf AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.5),
         |meta AS MATERIALIZED (
         |  SELECT doc_id, lang, source, n_chars // 64 AS size_bkt,
         |         list_filter(regexp_split_to_array(lower(trim(text)),
         |                                           '\\s+'),
         |                     x -> x <> '')[1] AS head_tok
         |  FROM documents),
         |mp AS MATERIALIZED (
         |  SELECT a.lang AS la, b.lang AS lb, a.source AS sa,
         |         b.source AS sb, a.size_bkt AS ka, b.size_bkt AS kb,
         |         a.head_tok AS ha, b.head_tok AS hb
         |  FROM pf JOIN meta a ON pf.doc_a = a.doc_id
         |          JOIN meta b ON pf.doc_b = b.doc_id),
         |fields AS (
         |${fld("head_tok", "ha", "hb", "head_tok")}
         |  UNION ALL
         |${fld("lang", "la", "lb", "lang")}
         |  UNION ALL
         |${fld("size_bkt", "ka", "kb", "size_bkt")}
         |  UNION ALL
         |${fld("source", "sa", "sb", "source")})
         |SELECT field, n_match, m_r, u_r,
         |       round(log2((m_r + 0.000001) / (u_r + 0.000001)), 4) AS weight
         |FROM fields ORDER BY field""".stripMargin
    },

    // same recursive canonical-keep set; token counts from the shared
    // whitespace tokenization
    "q_dedup_yield" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |pf AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.5),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pf
         |  UNION SELECT doc_b, doc_a FROM pf),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lab AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |        FROM reach GROUP BY src),
         |noncanon AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id),
         |base AS (
         |  SELECT doc_id, source,
         |         CAST(len(list_filter(
         |           regexp_split_to_array(lower(trim(text)), '\\s+'),
         |           x -> x <> '')) AS BIGINT) AS n_tok
         |  FROM documents),
         |agg AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |         CAST(sum(CASE WHEN nc.doc_id IS NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_docs_kept,
         |         CAST(sum(CASE WHEN nc.doc_id IS NULL THEN n_tok
         |                  ELSE 0 END) AS BIGINT) AS n_tokens_kept
         |  FROM base LEFT JOIN noncanon nc ON base.doc_id = nc.doc_id
         |  GROUP BY source)
         |SELECT source, n_docs, n_tokens, n_docs_kept, n_tokens_kept,
         |       CASE WHEN n_tokens = 0 THEN 10000
         |            ELSE (n_tokens_kept * 10000) // n_tokens END AS keep_bp
         |FROM agg ORDER BY source""".stripMargin,

    "q_dedup_source_matrix" ->
      s"""WITH $minhashPairCtes,
         |pf AS (SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.5),
         |lab AS (
         |  SELECT least(a.source, b.source) AS source_lo,
         |         greatest(a.source, b.source) AS source_hi
         |  FROM pf JOIN documents a ON pf.doc_a = a.doc_id
         |          JOIN documents b ON pf.doc_b = b.doc_id),
         |cells AS (
         |  SELECT source_lo, source_hi, count(*) AS n_pairs
         |  FROM lab GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n_total FROM cells)
         |SELECT source_lo, source_hi, n_pairs,
         |       (n_pairs * 10000) // n_total AS share_bp,
         |       (source_lo = source_hi) AS intra_source
         |FROM cells CROSS JOIN tot
         |ORDER BY source_lo, source_hi""".stripMargin,

    "q_dedup_locality" ->
      s"""WITH $minhashPairCtes,
         |pf AS (SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.5),
         |lab AS (
         |  SELECT (a.source = b.source) AS same_source,
         |         (a.lang = b.lang) AS same_lang
         |  FROM pf JOIN documents a ON pf.doc_a = a.doc_id
         |          JOIN documents b ON pf.doc_b = b.doc_id),
         |tot AS (SELECT count(*) AS n_total FROM lab)
         |SELECT same_source, same_lang, count(*) AS n_pairs,
         |       (count(*) * 10000) // n_total AS share_bp
         |FROM lab CROSS JOIN tot
         |GROUP BY same_source, same_lang, n_total
         |ORDER BY same_source, same_lang""".stripMargin,

    // exact side = the q_dedup_ngram chain (renamed ng* to avoid CTE
    // collisions), LSH side = the shared minhash chain; the left join +
    // integer banding mirror the Spark plan
    "q_dedup_recall_curve" -> {
      import graft.functions.TextExprs._
      s"""WITH $minhashPairCtes,
         |mh AS (SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.5),
         |ng1 AS MATERIALIZED (
         |  SELECT doc_id, lang, n_chars // 64 AS size_bkt,
         |         ${charNgramHashesSql("text", 5)} AS grams
         |  FROM documents),
         |ng2 AS MATERIALIZED (
         |  SELECT doc_id, lang, size_bkt,
         |         ${minhashSigSql("grams", 8)} AS sig2 FROM ng1),
         |ng3 AS MATERIALIZED (
         |  SELECT doc_id, lang, size_bkt,
         |         ${bandHashesSql("sig2", 4, 2)} AS bands2 FROM ng2),
         |ng4 AS (SELECT doc_id, lang, size_bkt, b.range AS band,
         |               bands2[b.range + 1] AS band_hash
         |        FROM ng3, range(0, 4) b),
         |ng5 AS (SELECT lang, size_bkt, band, band_hash,
         |               list_sort(list_distinct(list(doc_id)))[1:$BucketCap]
         |                 AS bucket
         |        FROM ng4 GROUP BY lang, size_bkt, band, band_hash
         |        HAVING len(list_distinct(list(doc_id))) >= 2),
         |ngc AS (SELECT DISTINCT pa.x AS doc_a, pb.y AS doc_b
         |        FROM ng5, unnest(ng5.bucket) AS pa(x),
         |             unnest(ng5.bucket) AS pb(y)
         |        WHERE pa.x < pb.y),
         |np AS (
         |  SELECT c.doc_a, c.doc_b,
         |         round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |               / (len(a.grams) + len(b.grams)
         |                  - len(list_intersect(a.grams, b.grams))), 4)
         |           AS jaccard
         |  FROM ngc c JOIN ng1 a ON a.doc_id = c.doc_a
         |             JOIN ng1 b ON b.doc_id = c.doc_b),
         |ex2 AS (SELECT doc_a, doc_b, jaccard FROM np WHERE jaccard >= 0.5)
         |SELECT CAST(round(jaccard * 10000) AS INT) // 1000 AS jaccard_band,
         |       count(*) AS n_exact,
         |       coalesce(CAST(sum(CASE WHEN m.doc_a IS NOT NULL
         |                 THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_recalled,
         |       (coalesce(CAST(sum(CASE WHEN m.doc_a IS NOT NULL
         |                   THEN 1 ELSE 0 END) AS BIGINT), 0) * 10000)
         |         // count(*) AS recall_bp
         |FROM ex2 e LEFT JOIN mh m
         |  ON e.doc_a = m.doc_a AND e.doc_b = m.doc_b
         |GROUP BY 1 ORDER BY jaccard_band""".stripMargin
    },

    "q_fuzzy_decontaminate" -> {
      import graft.functions.TextExprs._
      s"""WITH h0 AS MATERIALIZED (
         |      SELECT doc_id, ${shingleHashesSql("text", 3)} AS hashes
         |      FROM documents),
         |s AS MATERIALIZED (
         |      SELECT doc_id, ${minhashSigSql("hashes", 64)} AS sig FROM h0),
         |s2 AS MATERIALIZED (
         |      SELECT doc_id, sig, ${bandHashesSql("sig", 16, 4)} AS bands FROM s),
         |ex AS (SELECT doc_id, b.range AS band, bands[b.range + 1] AS band_hash
         |       FROM s2, range(0, 16) b),
         |ev AS (SELECT doc_id AS eval_id, band, band_hash FROM ex WHERE doc_id % 10 = 0),
         |tr AS (SELECT doc_id AS train_id, band, band_hash FROM ex WHERE doc_id % 10 <> 0),
         |cand AS (SELECT DISTINCT train_id, eval_id
         |         FROM tr JOIN ev USING (band, band_hash)),
         |pairs AS (
         |  SELECT c.train_id, c.eval_id,
         |         round(CAST(list_sum(list_transform(range(1, 65),
         |                 j -> CASE WHEN a.sig[j] = b.sig[j] THEN 1 ELSE 0 END))
         |               AS DOUBLE) / 64, 4) AS est_jaccard
         |  FROM cand c JOIN s a ON a.doc_id = c.train_id
         |              JOIN s b ON b.doc_id = c.eval_id)
         |SELECT train_id, eval_id, est_jaccard FROM pairs
         |WHERE est_jaccard >= 0.5 ORDER BY train_id, eval_id""".stripMargin
    },

    "q_dedup_containment" -> {
      import graft.functions.TextExprs._
      s"""WITH g AS MATERIALIZED (
         |  SELECT doc_id, lang, n_chars // 64 AS size_bkt,
         |                  ${charNgramHashesSql("text", 5)} AS grams
         |           FROM documents),
         |g2 AS MATERIALIZED (
         |  SELECT doc_id, lang, size_bkt, ${minhashSigSql("grams", 8)} AS sig FROM g),
         |g3 AS MATERIALIZED (
         |  SELECT doc_id, lang, size_bkt, ${bandHashesSql("sig", 4, 2)} AS bands FROM g2),
         |ex AS (SELECT doc_id, lang, size_bkt, b.range AS band, bands[b.range + 1] AS band_hash
         |       FROM g3, range(0, 4) b),
         |bk AS (SELECT lang, size_bkt, band, band_hash,
         |              list_sort(list_distinct(list(doc_id)))[1:$BucketCap] AS bucket
         |       FROM ex GROUP BY lang, size_bkt, band, band_hash
         |       HAVING len(list_distinct(list(doc_id))) >= 2),
         |cand AS (SELECT DISTINCT pa.x AS doc_a, pb.y AS doc_b
         |         FROM bk, unnest(bk.bucket) AS pa(x), unnest(bk.bucket) AS pb(y)
         |         WHERE pa.x < pb.y),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b,
         |         round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |               / least(len(a.grams), len(b.grams)), 4) AS containment
         |  FROM cand c JOIN g a ON a.doc_id = c.doc_a JOIN g b ON b.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, containment FROM pairs
         |WHERE containment >= 0.45 ORDER BY doc_a, doc_b""".stripMargin
    },

    // the oracle replays the exact sorted-neighborhood semantics: same
    // normalized sort key, same prefix block, same w=3 window (lead 1 and
    // lead 2), same edit-distance cut — both engines compare lower-cased
    // ASCII with binary collation, so the sort orders agree
    "q_dedup_sorted_neighborhood" ->
      """WITH n AS (
        |  SELECT doc_id, lower(trim(text)) AS skey,
        |         substr(lower(trim(text)), 1, 4) AS blk
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, skey,
        |         lead(doc_id, 1) OVER w AS id1, lead(skey, 1) OVER w AS s1,
        |         lead(doc_id, 2) OVER w AS id2, lead(skey, 2) OVER w AS s2
        |  FROM n WINDOW w AS (PARTITION BY blk ORDER BY skey, doc_id)),
        |p AS (
        |  SELECT least(doc_id, id1) AS doc_a, greatest(doc_id, id1) AS doc_b,
        |         levenshtein(substr(skey, 1, 200), substr(s1, 1, 200)) AS dist,
        |         greatest(least(len(skey), 200), least(len(s1), 200)) AS mx
        |  FROM r WHERE id1 IS NOT NULL
        |  UNION ALL
        |  SELECT least(doc_id, id2), greatest(doc_id, id2),
        |         levenshtein(substr(skey, 1, 200), substr(s2, 1, 200)),
        |         greatest(least(len(skey), 200), least(len(s2), 200))
        |  FROM r WHERE id2 IS NOT NULL)
        |SELECT doc_a, doc_b, dist FROM p
        |WHERE dist * 10 <= mx ORDER BY doc_a, doc_b""".stripMargin,

    // the oracle IS the O(n²) all-pairs definition of shingle-set Jaccard
    // ≥ t — any candidate the prefix filter wrongly pruned (or extra pair
    // it let through) fails the hash gate
    "q_dedup_ppjoin" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)),
        |                                           '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                        for i in range(1, len(ws) - 1)]) AS toks
        |  FROM w WHERE len(ws) >= 3),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         len(list_intersect(a.toks, b.toks)) AS i,
        |         len(a.toks) AS la, len(b.toks) AS lb
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |       round(CAST(i AS DOUBLE) / (la + lb - i), 4) AS jaccard
        |FROM p WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // both passes replayed (forward + reversed key), verified pairs
    // unioned, min distance per pair — levenshtein is reversal-invariant
    "q_dedup_sn_multipass" ->
      """WITH n0 AS (SELECT doc_id, lower(trim(text)) AS k FROM documents),
        |n1 AS (SELECT doc_id, k AS skey, substr(k, 1, 4) AS blk FROM n0),
        |n2 AS (SELECT doc_id, reverse(k) AS skey,
        |              substr(reverse(k), 1, 4) AS blk
        |       FROM n0),
        |r1 AS (
        |  SELECT doc_id, skey,
        |         lead(doc_id, 1) OVER w AS id1, lead(skey, 1) OVER w AS s1,
        |         lead(doc_id, 2) OVER w AS id2, lead(skey, 2) OVER w AS s2
        |  FROM n1 WINDOW w AS (PARTITION BY blk ORDER BY skey, doc_id)),
        |r2 AS (
        |  SELECT doc_id, skey,
        |         lead(doc_id, 1) OVER w AS id1, lead(skey, 1) OVER w AS s1,
        |         lead(doc_id, 2) OVER w AS id2, lead(skey, 2) OVER w AS s2
        |  FROM n2 WINDOW w AS (PARTITION BY blk ORDER BY skey, doc_id)),
        |p AS (
        |  SELECT least(doc_id, id1) AS doc_a, greatest(doc_id, id1) AS doc_b,
        |         levenshtein(substr(skey, 1, 200), substr(s1, 1, 200)) AS dist,
        |         greatest(least(len(skey), 200), least(len(s1), 200)) AS mx
        |  FROM r1 WHERE id1 IS NOT NULL
        |  UNION ALL
        |  SELECT least(doc_id, id2), greatest(doc_id, id2),
        |         levenshtein(substr(skey, 1, 200), substr(s2, 1, 200)),
        |         greatest(least(len(skey), 200), least(len(s2), 200))
        |  FROM r1 WHERE id2 IS NOT NULL
        |  UNION ALL
        |  SELECT least(doc_id, id1), greatest(doc_id, id1),
        |         levenshtein(substr(skey, 1, 200), substr(s1, 1, 200)),
        |         greatest(least(len(skey), 200), least(len(s1), 200))
        |  FROM r2 WHERE id1 IS NOT NULL
        |  UNION ALL
        |  SELECT least(doc_id, id2), greatest(doc_id, id2),
        |         levenshtein(substr(skey, 1, 200), substr(s2, 1, 200)),
        |         greatest(least(len(skey), 200), least(len(s2), 200))
        |  FROM r2 WHERE id2 IS NOT NULL)
        |SELECT doc_a, doc_b, min(dist) AS dist
        |FROM p WHERE dist * 10 <= mx
        |GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin,

    // the oracle reruns both legs: the SN window candidates (pre-cut) and
    // the O(n²) Jaccard truth set, then the two census ratios
    "q_blocking_quality" ->
      """WITH n AS (
        |  SELECT doc_id, lower(trim(text)) AS skey,
        |         substr(lower(trim(text)), 1, 4) AS blk
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |         lead(doc_id, 1) OVER w AS id1, lead(doc_id, 2) OVER w AS id2
        |  FROM n WINDOW w AS (PARTITION BY blk ORDER BY skey, doc_id)),
        |cand AS (
        |  SELECT least(doc_id, id1) AS doc_a, greatest(doc_id, id1) AS doc_b
        |  FROM r WHERE id1 IS NOT NULL
        |  UNION ALL
        |  SELECT least(doc_id, id2), greatest(doc_id, id2)
        |  FROM r WHERE id2 IS NOT NULL),
        |w2 AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)),
        |                                           '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                        for i in range(1, len(ws) - 1)]) AS toks
        |  FROM w2 WHERE len(ws) >= 3),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         len(list_intersect(a.toks, b.toks)) AS i,
        |         len(a.toks) AS la, len(b.toks) AS lb
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |truth AS MATERIALIZED (
        |  SELECT doc_a, doc_b FROM p
        |  WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.5),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |nc AS (SELECT count(*) AS n_cand FROM cand),
        |nt AS (SELECT count(*) AS n_truth FROM truth),
        |nh AS (SELECT count(*) AS n_caught FROM truth t
        |       WHERE EXISTS (SELECT 1 FROM cand c
        |                     WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b))
        |SELECT n_docs, n_cand, n_truth, n_caught,
        |       round(1.0 - n_cand / (n_docs * (n_docs - 1) / 2.0), 6)
        |         AS reduction_ratio,
        |       round(CAST(n_caught AS DOUBLE) / n_truth, 4)
        |         AS pairs_completeness
        |FROM nd CROSS JOIN nc CROSS JOIN nt CROSS JOIN nh""".stripMargin,

    // the oracle replays the window-min selection with the O(m·w)
    // list_min twin — same fingerprint VALUES (selection is by window
    // minimum, tie positions can't change the set). The shingle-hash list
    // is MATERIALIZED as a column FIRST: inlined into the per-window
    // lambda DuckDB re-evaluates the whole list per window (O(m²)/doc —
    // measured 68 s at sf0.01 vs ~1 s split). The df 2..cap cut mirrors
    // the engine's WinnowDfCap stop-fingerprint filter exactly.
    "q_winnow_dedup" -> {
      import graft.functions.TextExprs._
      val hs = s"list_transform(${shinglesSql(tokensSql("text"), 3)}, " +
        s"s -> ${charPolySql("s", 131)})"
      s"""WITH t AS MATERIALIZED (
         |  SELECT doc_id, $hs AS hs FROM documents),
         |f AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, fp FROM (
         |    SELECT doc_id,
         |           unnest(list_transform(
         |             range(1, greatest(len(hs) - 3, 1) + 1),
         |             i -> list_min(hs[i:i+3]))) AS fp
         |    FROM t)),
         |k AS (SELECT fp FROM f GROUP BY fp
         |      HAVING count(*) BETWEEN 2 AND $WinnowDfCap)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(count(*) AS BIGINT) AS n_shared
         |FROM f a JOIN k ka ON a.fp = ka.fp
         |JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    // brute-force pairs + per-side best via row_number == the engine's
    // max_by over (jaccard, −partner) structs (partner ids unique)
    "q_er_best_match" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)),
        |                                           '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                        for i in range(1, len(ws) - 1)]) AS toks
        |  FROM w WHERE len(ws) >= 3),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         len(list_intersect(a.toks, b.toks)) AS i,
        |         len(a.toks) AS la, len(b.toks) AS lb
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |pr AS MATERIALIZED (
        |  SELECT doc_a, doc_b,
        |         round(CAST(i AS DOUBLE) / (la + lb - i), 4) AS j
        |  FROM p WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.5),
        |d2 AS (SELECT doc_a AS x, doc_b AS y, j FROM pr
        |       UNION ALL SELECT doc_b, doc_a, j FROM pr),
        |bm AS MATERIALIZED (
        |       SELECT x, y,
        |         row_number() OVER (PARTITION BY x
        |                            ORDER BY j DESC, y ASC) AS rn
        |       FROM d2)
        |SELECT pr.doc_a, pr.doc_b, pr.j AS jaccard
        |FROM pr
        |JOIN bm a ON a.x = pr.doc_a AND a.y = pr.doc_b AND a.rn = 1
        |JOIN bm b ON b.x = pr.doc_b AND b.y = pr.doc_a AND b.rn = 1
        |ORDER BY pr.doc_a, pr.doc_b""".stripMargin,

    // floor(log2) as binary-string length: integer in both engines
    "q_shingle_df_profile" -> {
      import graft.functions.TextExprs._
      s"""WITH h0 AS MATERIALIZED (
         |  SELECT doc_id, ${shingleHashesSql("text", 3)} AS hashes
         |  FROM documents),
         |dfq AS MATERIALIZED (
         |  SELECT h, CAST(count(*) AS BIGINT) AS df
         |  FROM (SELECT unnest(hashes) AS h FROM h0) GROUP BY h),
         |b AS (SELECT df, CAST(length(bin(df)) - 1 AS INT) AS bucket
         |      FROM dfq),
         |tot AS (SELECT CAST(sum(df) AS BIGINT) AS n_post,
         |               CAST(coalesce(sum(CASE WHEN df > $WinnowDfCap
         |                                  THEN df END), 0) AS BIGINT)
         |                 AS n_stop
         |        FROM b)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(sum(df) AS BIGINT) AS n_postings, max(df) AS max_df,
         |       (CAST(sum(df) AS BIGINT) * 10000) // n_post
         |         AS postings_share_bp,
         |       (n_stop * 10000) // n_post AS stop_mass_bp
         |FROM b CROSS JOIN tot
         |GROUP BY bucket, n_post, n_stop ORDER BY bucket""".stripMargin
    },

    // the same staged squaring chains as the engine — identical IEEE
    // multiplication trees, integer basis points before any aggregation
    "q_lsh_tuning" -> {
      import graft.functions.TextExprs._
      s"""WITH g AS MATERIALIZED (
         |  SELECT doc_id, lang, n_chars // 64 AS size_bkt,
         |                  ${charNgramHashesSql("text", 5)} AS grams
         |           FROM documents),
         |g2 AS MATERIALIZED (
         |  SELECT doc_id, lang, size_bkt, ${minhashSigSql("grams", 8)} AS sig FROM g),
         |g3 AS MATERIALIZED (
         |  SELECT doc_id, lang, size_bkt, ${bandHashesSql("sig", 4, 2)} AS bands FROM g2),
         |ex AS (SELECT doc_id, lang, size_bkt, b.range AS band, bands[b.range + 1] AS band_hash
         |       FROM g3, range(0, 4) b),
         |bk AS (SELECT lang, size_bkt, band, band_hash,
         |              list_sort(list_distinct(list(doc_id)))[1:$BucketCap] AS bucket
         |       FROM ex GROUP BY lang, size_bkt, band, band_hash
         |       HAVING len(list_distinct(list(doc_id))) >= 2),
         |cand AS (SELECT DISTINCT pa.x AS doc_a, pb.y AS doc_b
         |         FROM bk, unnest(bk.bucket) AS pa(x), unnest(bk.bucket) AS pb(y)
         |         WHERE pa.x < pb.y),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b,
         |         round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |               / (len(a.grams) + len(b.grams)
         |                  - len(list_intersect(a.grams, b.grams))), 4) AS jaccard
         |  FROM cand c JOIN g a ON a.doc_id = c.doc_a JOIN g b ON b.doc_id = c.doc_b),
         |px AS MATERIALIZED (
         |  SELECT CAST(round(jaccard * 10000) AS INT) // 1000 AS jaccard_band,
         |         jaccard AS j
         |  FROM pairs WHERE jaccard >= 0.5),
         |s1 AS (SELECT *, j*j AS j2 FROM px),
         |s2 AS (SELECT *, j2*j2 AS j4 FROM s1),
         |s3 AS MATERIALIZED (SELECT *, j4*j4 AS j8 FROM s2),
         |uni AS (
         |  SELECT jaccard_band, 32 AS bands, 2 AS rows_per_band,
         |         1.0 - j2 AS q FROM s3
         |  UNION ALL SELECT jaccard_band, 16, 4, 1.0 - j4 FROM s3
         |  UNION ALL SELECT jaccard_band, 8, 8, 1.0 - j8 FROM s3),
         |t1 AS (SELECT *, q*q AS q2 FROM uni),
         |t2 AS (SELECT *, q2*q2 AS q4 FROM t1),
         |t3 AS (SELECT *, q4*q4 AS q8 FROM t2),
         |t4 AS (SELECT *, q8*q8 AS q16 FROM t3),
         |t5 AS (SELECT *, q16*q16 AS q32 FROM t4),
         |p AS (SELECT jaccard_band, bands, rows_per_band,
         |        CAST(round((1.0 - CASE bands WHEN 8 THEN q8
         |                           WHEN 16 THEN q16 ELSE q32 END) * 10000)
         |             AS BIGINT) AS p_bp
         |      FROM t5)
         |SELECT jaccard_band, bands, rows_per_band,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(p_bp) AS BIGINT) // CAST(count(*) AS BIGINT)
         |         AS expected_recall_bp
         |FROM p GROUP BY 1, 2, 3 ORDER BY jaccard_band, bands""".stripMargin
    },

    // identical cell census + 8-adjacency; CC via recursive reachability
    // (the q_dedup_clusters oracle device); isolated cells self-label
    "q_dbscan_grid" ->
      """WITH RECURSIVE cells AS MATERIALIZED (
        |  SELECT cx, cy, n_pts, cx * 100000 + cy AS cell FROM (
        |    SELECT CAST(floor(p_retailprice / 200.0) AS BIGINT) AS cx,
        |           CAST((p_size - 1) // 5 AS BIGINT) AS cy,
        |           count(*) AS n_pts
        |    FROM part GROUP BY 1, 2 HAVING count(*) >= 3)),
        |ed AS MATERIALIZED (
        |  SELECT a.cell AS src, b.cell AS dst
        |  FROM cells a JOIN cells b
        |    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
        |   AND a.cell <> b.cell),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM ed
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN ed e ON r.dst = e.src),
        |lab AS (SELECT src AS cell, least(src, min(dst)) AS cluster_id
        |        FROM reach GROUP BY src)
        |SELECT cx, cy, CAST(n_pts AS BIGINT) AS n_pts,
        |       coalesce(cluster_id, cell) AS cluster_id
        |FROM cells LEFT JOIN lab USING (cell)
        |ORDER BY cx, cy""".stripMargin
  )
}
