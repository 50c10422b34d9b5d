package graft.queries

import graft.operators.Persisted._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorExprs

/** Similarity search over the `embeddings` table (Array[Float] column).
  *
  * Brute-force cosine top-k is the correctness baseline: probes are a small
  * broadcast side, so the "cross join" is a broadcast nested loop — each
  * executor scans its partition of the corpus once, no shuffle of the corpus.
  * The LSH variant is the scale path: candidates come from a bucket join
  * keyed on the hyperplane signature instead of the full corpus scan.
  *
  * All vector math runs in native Catalyst expressions ([[VectorExprs]]) —
  * one tight JVM loop per row instead of interpreted per-element lambdas —
  * whose sequential double fold is bit-identical to the DuckDB oracles
  * generated alongside.
  */
object VectorOps {
  type Q = (SparkSession, String) => DataFrame

  private def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  /** (vec_id, vd): the embeddings as double[64]; re-scanned, never cached. */
  private def embD(s: SparkSession, d: String): DataFrame = emb(s, d).select(col("vec_id"),
    transform(col("embedding"), x => x.cast("double")).as("vd"))

  val queries: Map[String, Q] = Map(
    // ---- per-vector stats (the oracle anchor for the vector column) ----
    "q_embed_stats" -> ((s, d) =>
      // native expressions (not interpreted HOF folds) — same sequential
      // double accumulation, one tight loop per row
      emb(s, d).select(col("vec_id"),
        size(col("embedding")).as("dim"),
        round(VectorExprs.l2Norm(col("embedding")), 3).as("l2_norm"),
        round(VectorExprs.sumD(col("embedding")), 3).as("sum_val"),
        col("label"))
        .orderBy("vec_id")),

    // ---- per-label centroid stats: embedding-space profiling per class.
    //      Per-dim mean via posexplode keyed (label, dim) — fine-grained
    //      shuffle keys that never hotspot regardless of label skew — then
    //      the centroid norm per label. Rounding (6dp dims, 4dp norm)
    //      absorbs partition-order float-sum jitter on both engines ----
    "q_embed_centroids" -> ((s, d) => {
      val cd = emb(s, d)
        .select(col("label"),
          posexplode(transform(col("embedding"), x => x.cast("double")))
            .as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(round(avg(col("v")), 6).as("cv"))
      val cn = cd.groupBy(col("label"))
        .agg(round(sqrt(sum(col("cv") * col("cv"))), 4).as("centroid_norm"),
          count(lit(1)).as("n_dims"))
      cn.join(emb(s, d).groupBy(col("label")).agg(count(lit(1)).as("n_vecs")),
          "label")
        .select(col("label"), col("n_vecs"), col("n_dims"), col("centroid_norm"))
        .orderBy("label")
    }),

    // ---- Matryoshka dimension ablation: recall@5 of truncated-dim
    //      cosine retrieval (d ∈ {8,16,32}) against the full-64 ranking —
    //      the measurement that decides how far a deployment can cut
    //      embedding storage/bandwidth. ONE probe×corpus pass computes
    //      all four cosines (CosineSim folds over min(len) — slicing the
    //      BROADCAST probe truncates the pair, the corpus arrays are
    //      never rewritten), persisted once; the three recall legs rank
    //      from that same frame. Per-probe windows are probe-bounded;
    //      the corpus is never shuffled ----
    "q_dim_ablation" -> ((s, d) => {
      val probes = emb(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      val scored = emb(s, d)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nb_emb"))
        .join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          round(VectorExprs.cosine(col("probe_emb"), col("nb_emb")), 6)
            .as("cos64"),
          round(VectorExprs.cosine(slice(col("probe_emb"), 1, 8),
            col("nb_emb")), 6).as("cos8"),
          round(VectorExprs.cosine(slice(col("probe_emb"), 1, 16),
            col("nb_emb")), 6).as("cos16"),
          round(VectorExprs.cosine(slice(col("probe_emb"), 1, 32),
            col("nb_emb")), 6).as("cos32"))
        .persistTracked()
      def top5(c: String) = scored
        .select(col("probe_id"), col("neighbor_id"), col(c).as("cos"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("probe_id"), col("neighbor_id"))
      val exact = top5("cos64")
      Seq(8, 16, 32).map { dim =>
        // both legs are (probes × 5)-row tops — broadcast the truncated
        // one so the recall join never sort-merges 50-row inputs
        val t = top5(s"cos$dim")
          .withColumnRenamed("neighbor_id", "trunc_id")
        exact.join(broadcast(t), exact("probe_id") === t("probe_id") &&
            col("neighbor_id") === col("trunc_id"), "left")
          .groupBy(exact("probe_id").as("probe_id"))
          .agg(count(lit(1)).as("k"),
            sum(col("trunc_id").isNotNull.cast("long")).as("n_hit"))
          .select(lit(dim.toLong).as("dim"), col("probe_id"), col("k"),
            col("n_hit"),
            round(col("n_hit").cast("double") / col("k"), 4).as("recall"))
      }.reduce(_ unionByName _)
        .orderBy("dim", "probe_id")
    }),

    // ---- greedy k-center coreset (farthest-first traversal): the
    //      2-approximation every diversity-selection pipeline starts
    //      from. Seed = vec_id 0; each of 5 rounds adds the point
    //      FARTHEST from the chosen set (exact L2², min over centers).
    //      The iteration is inherently value-dependent — each round's
    //      argmax becomes the next round's plan literal — so each round
    //      is ONE bounded driver probe (orderBy desc → limit 1, a heap
    //      TakeOrdered over the corpus, the Skew.profile device), and
    //      the corpus itself is persisted once and NEVER shuffled or
    //      broadcast: per-round cost is a map-side least() over k
    //      center literals + a top-1 reduction. Distances are exact
    //      sequential double folds — bit-identical across engines, so
    //      the argmax (ties by vec_id) picks the same point; rounding
    //      only at output ----
    "q_coreset_kcenter" -> ((s, d) => {
      import s.implicits._
      val pts = emb(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vd"))
        .persistTracked()
      val seedVec = pts.filter(col("vec_id") === 0)
        .head().getAs[scala.collection.Seq[Double]]("vd").toSeq
      var centers = List((0L, seedVec, 0.0))
      for (step <- 1 to 5) {
        val dist = centers.map { case (_, v, _) =>
          VectorExprs.l2DistSq(col("vd"), typedLit(v))
        }.reduceLeft(least(_, _))
        val next = pts.select(col("vec_id"), dist.as("dd"))
          .orderBy(col("dd").desc, col("vec_id").asc).limit(1).head()
        val nid = next.getAs[Long]("vec_id")
        val nvec = pts.filter(col("vec_id") === nid)
          .head().getAs[scala.collection.Seq[Double]]("vd").toSeq
        centers = (nid, nvec, next.getAs[Double]("dd")) :: centers
      }
      centers.reverse.zipWithIndex
        .map { case ((id, _, dd), i) =>
          (i.toLong, id, BigDecimal(dd).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .toDF("step", "center_id", "dist2")
        .orderBy("step")
    }),

    // ---- NDCG@10 + MRR retrieval quality: does cosine ranking surface
    //      same-label neighbors? Gains are binary (neighbor label ==
    //      probe label); discount coefficients 1/log₂(i+1) and their
    //      cumulative ideal sums are SCALA-COMPUTED LITERALS shipped to
    //      both engines (the weightsSqlLiteral device) — no libm log in
    //      either plan — and the DCG fold is an rn-ORDERED window cum,
    //      so the ≤10-term double sum runs in the identical order on
    //      both sides. One broadcast-probe pass over the corpus; the
    //      label census for the ideal-DCG denominator is a tiny
    //      broadcast ----
    "q_ndcg" -> ((s, d) => {
      val coef = ndcgCoef
      val icum = ndcgIdealCum
      val probes = emb(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"),
          col("embedding").as("probe_emb"), col("label").as("probe_label"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      val top = emb(s, d)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nb_emb"),
          col("label").as("nb_label"))
        .join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("probe_label"), col("neighbor_id"),
          col("nb_label"),
          round(VectorExprs.cosine(col("probe_emb"), col("nb_emb")), 6)
            .as("cos"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .withColumn("gain",
          (col("nb_label") === col("probe_label")).cast("long"))
        .persistTracked()
      val wCum = Window.partitionBy(col("probe_id")).orderBy(col("rn"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val dcg = top
        .withColumn("cum", sum(col("gain") *
          element_at(typedLit(coef), col("rn"))).over(wCum))
        .filter(col("rn") === 10)
        .select(col("probe_id"), col("cum").as("dcg_raw"))
      val ag = top.groupBy(col("probe_id"), col("probe_label"))
        .agg(sum(col("gain")).as("n_rel"),
          min(when(col("gain") === 1, col("rn"))).as("first_rel"))
      val lc = emb(s, d).groupBy(col("label")).agg(count(lit(1)).as("cnt"))
      ag.join(broadcast(lc), col("probe_label") === col("label"))
        .withColumn("r_total", col("cnt") - 1)
        .join(dcg, "probe_id")
        .select(col("probe_id"), col("n_rel"), col("r_total"),
          round(col("dcg_raw"), 6).as("dcg"),
          when(col("r_total") >= 1, round(col("dcg_raw") /
            element_at(typedLit(icum),
              least(lit(10L), col("r_total")).cast("int")), 6))
            .otherwise(0.0).as("ndcg"),
          when(col("first_rel").isNotNull,
            round(lit(1.0) / col("first_rel"), 6)).otherwise(0.0).as("mrr"))
        .orderBy("probe_id")
    }),

    // ---- MMR diversity reranking (maximal marginal relevance): the
    //      retrieval-side twin of [[q_coreset_kcenter]] — from the query's
    //      top-20 cosine candidates, greedily pick 5 maximizing
    //      0.5·relevance − 0.5·max-sim-to-selected. The DISTRIBUTED leg is
    //      candidate generation (one broadcast-probe pass over the corpus
    //      + a top-20 heap — the only part that sees data volume); the
    //      greedy then runs over the FIXED 20-row candidate set collected
    //      to the driver (bounded by construction — production MMR always
    //      reranks a k-bounded pool). All pairwise sims are 6-dp-rounded
    //      cosines, the score one fixed-order IEEE expression — the
    //      argmax (ties by vec_id) is engine-invariant ----
    "q_mmr_diverse" -> ((s, d) => {
      import s.implicits._
      val query = emb(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val cands = emb(s, d).filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(query))
        .select(col("vec_id"),
          round(VectorExprs.cosine(col("q_emb"), col("embedding")), 6)
            .as("rel"),
          col("embedding"))
        .orderBy(col("rel").desc, col("vec_id").asc).limit(20)
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1),
          r.getSeq[Float](2).toArray))
      def cos6(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length && i < b.length) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      var selected = List.empty[(Long, Double, Array[Float], Double)]
      for (rank <- 1 to 5) {
        val pick = cands
          .filter(c => !selected.exists(_._1 == c._1))
          .map { case (id, rel, v) =>
            val maxSim = if (selected.isEmpty) 0.0
              else selected.map(sv => cos6(v, sv._3)).max
            (id, rel, v, 0.5 * rel - 0.5 * maxSim)
          }
          .minBy { case (id, _, _, score) => (-score, id) }
        selected = selected :+ pick
      }
      selected.zipWithIndex
        .map { case ((id, rel, _, score), i) =>
          (i.toLong + 1, id, rel, score) }
        .toDF("rank", "vec_id", "rel", "mmr_score")
        .orderBy("rank")
    }),

    // ---- brute-force cosine top-k: probe set (vec_id < 10) × corpus ----
    "q_ann_brute" -> ((s, d) => {
      val probes = emb(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
      val corpus = emb(s, d)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nb_emb"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      corpus.join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          round(VectorExprs.cosine(col("probe_emb"), col("nb_emb")), 6).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("probe_id"), col("rn"), col("neighbor_id"), col("cos"))
        .orderBy("probe_id", "rn")
    }),

    // ---- LSH-bucketed ANN: 4 OR-combined tables of 6 hyperplanes each;
    //      candidates share any (table, bucket); top-3 by exact cosine ----
    "q_ann_lsh" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"),
        VectorExprs.lshTables(col("embedding"), 6, 4).as("tbls"))
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
          explode(col("tbls")).as("tb"))
        .select(col("probe_id"), col("probe_emb"), col("tb.tbl"), col("tb.bkt"))
      val corpus = e
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nb_emb"),
          explode(col("tbls")).as("tb"))
        .select(col("neighbor_id"), col("nb_emb"), col("tb.tbl"), col("tb.bkt"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      corpus.join(broadcast(probes), Seq("tbl", "bkt"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          round(VectorExprs.cosine(col("probe_emb"), col("nb_emb")), 6).as("cos"))
        .distinct() // a pair can collide in several tables — dedup scalars,
                    // not embeddings, so no array ever enters a shuffle key
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("probe_id"), col("rn"), col("neighbor_id"), col("cos"))
        .orderBy("probe_id", "rn")
    }),

    // ---- multi-probe LSH ANN: same 4×6 hyperplane tables as q_ann_lsh,
    //      but each probe ALSO queries the 6 Hamming-1 neighbor buckets per
    //      table (bkt ^ 2^i) — the classic multi-probe trade (Lv et al.):
    //      ~7× more probe rows (still tiny, still broadcast) buys a recall
    //      jump WITHOUT more stored tables and WITHOUT touching the corpus
    //      side — one broadcast hash join against the corpus scan, no
    //      corpus shuffle. Equivalent membership: candidate iff
    //      xor(bkt_p, bkt_n) ∈ {0,1,2,4,8,16,32}, which is the oracle's
    //      formulation; VectorSpec proves recall dominates q_ann_lsh ----
    "q_ann_multiprobe" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"),
        VectorExprs.lshTables(col("embedding"), 6, 4).as("tbls"))
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
          explode(col("tbls")).as("tb"))
        .select(col("probe_id"), col("probe_emb"), col("tb.tbl").as("tbl"),
          col("tb.bkt").as("bkt0"))
        .select(col("probe_id"), col("probe_emb"), col("tbl"),
          explode(expr("""array_union(array(bkt0),
            transform(sequence(0, 5),
              i -> bkt0 ^ cast(shiftleft(1, i) as bigint)))""")).as("bkt"))
      val corpus = e
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nb_emb"),
          explode(col("tbls")).as("tb"))
        .select(col("neighbor_id"), col("nb_emb"), col("tb.tbl").as("tbl"),
          col("tb.bkt").as("bkt"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      corpus.join(broadcast(probes), Seq("tbl", "bkt"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          round(VectorExprs.cosine(col("probe_emb"), col("nb_emb")), 6).as("cos"))
        .distinct() // a pair can collide in several (table, probe) cells
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("probe_id"), col("rn"), col("neighbor_id"), col("cos"))
        .orderBy("probe_id", "rn")
    }),

    // ---- incremental PQ index maintenance (the vector-index analog of
    //      q_ivm_rollup): a new vector batch (vec_id % 10 == 9) is coded
    //      against the EXISTING codebooks — trained on the old corpus
    //      only, broadcast keyed on m, never retrained — so the append
    //      touches |batch| rows while the index stays serviceable. Output
    //      is the per-(subspace, centroid) census after the append; a
    //      drifting batch shows up as mass imbalance here, which is the
    //      signal a production index uses to schedule retraining ----
    "q_pq_append" -> ((s, d) => {
      val all = embD(s, d)
      val old = all.filter(col("vec_id") % 10 =!= 9)
      val nb = all.filter(col("vec_id") % 10 === 9)
      val (oldAssign, codebooks) = pqAssignmentsFrom(old)
      val newAssign = assignToCodebook(subvectors(nb), codebooks)
      oldAssign.groupBy(col("m"), col("cid"))
        .agg(count(lit(1)).as("n_old"))
        .join(newAssign.groupBy(col("m"), col("cid"))
          .agg(count(lit(1)).as("n_new")), Seq("m", "cid"), "full_outer")
        .select(col("m"), col("cid"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
        .orderBy("m", "cid")
    }),

    // ---- IVF ANN: k-means coarse quantizer (deterministic init = first K
    //      vectors, one Lloyd iteration with centroids ROUNDED to 6dp so
    //      both engines agree bit-for-bit), then probe the nProbe nearest
    //      clusters only. At 100 TB the cluster id is the partition key and
    //      a probe touches nProbe/K of the corpus instead of all of it ----
    "q_ann_ivf" -> ((s, d) => {
      import graft.functions.VectorExprs
      val (_, _, a2, probed) = ivfIndex(s, d, maxProbe = 2)
      val wr = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      // corpus-side (a2) stays partitioned; the tiny probe list (nProbe ×
      // probes rows) is the broadcast build side. Joining the other way
      // round would shuffle the whole corpus assignment onto ≤k cluster-id
      // keys — guaranteed stragglers at scale.
      a2.join(broadcast(probed.drop("crn")), "cid")
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          round(VectorExprs.cosineD(col("pd"), col("vd")), 6).as("cos"))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= 3)
        .select(col("probe_id"), col("rn"), col("neighbor_id"), col("cos"))
        .orderBy("probe_id", "rn")
    }),

    // ---- IVF nprobe tuning curve (the q_lsh_tuning story for the coarse
    //      quantizer): recall@5 against the exact top-5 truth and the
    //      candidate-scan cost, measured at nprobe ∈ {1, 2, 4} from ONE
    //      probed index — the nprobe=4 probe set is computed once and each
    //      smaller setting is a crn filter over it, so the three configs
    //      share every stage (init, Lloyd round, reassignment, probe
    //      ranking). This is the page a production index picks its
    //      recall/latency point from; all counts integer, recall in bp ----
    "q_ivf_tuning" -> ((s, d) => {
      import graft.functions.VectorExprs
      val (e, _, a2, probed) = ivfIndex(s, d, maxProbe = 4)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("vd").as("pd"))
      // exact truth: full-scan top-5 per probe (the q_ann_recall leg)
      val wt = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      val exact = e.select(col("vec_id").as("neighbor_id"), col("vd"))
        .join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          round(VectorExprs.cosineD(col("pd"), col("vd")), 6).as("cos"))
        .withColumn("rn", row_number().over(wt)).filter(col("rn") <= 5)
        .select(col("probe_id"), col("neighbor_id")).persistTracked()
      val cand = a2.join(broadcast(probed), "cid")
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("crn"),
          col("vec_id").as("neighbor_id"),
          round(VectorExprs.cosineD(col("pd"), col("vd")), 6).as("cos"))
        .persistTracked()
      val nps = s.range(1).select(explode(array(lit(1), lit(2), lit(4)))
        .as("nprobe"))
      val wk = Window.partitionBy(col("nprobe"), col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      val perNp = cand.join(broadcast(nps), col("crn") <= col("nprobe"))
      val topk = perNp
        .withColumn("rn", row_number().over(wk)).filter(col("rn") <= 5)
        .select(col("nprobe"), col("probe_id"), col("neighbor_id"))
      val hits = topk.join(exact, Seq("probe_id", "neighbor_id"))
        .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
      val scanned = perNp.groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_candidates"))
      val truthN = exact.agg(count(lit(1)).as("n_truth"))
      scanned.join(hits, Seq("nprobe"), "left")
        .crossJoin(broadcast(truthN))
        .select(col("nprobe"), col("n_candidates"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr("(coalesce(n_hits, 0) * 10000) div n_truth").as("recall_bp"))
        .orderBy("nprobe")
    }),

    // ---- product quantization (the faiss-style compression beyond the
    //      int8 scalar path, completing scalar → IVF → PQ): the 64-dim
    //      space splits into 4 subspaces of 16 dims, each with its own
    //      deterministic 8-centroid codebook (init = first 8 vectors, one
    //      Lloyd step, centroids rounded 6dp — the q_ann_ivf recipe per
    //      subspace); every vector compresses to a 4-symbol code (its
    //      nearest centroid per subspace) plus its total reconstruction
    //      error. Scale shape: one plan keyed by subspace m — the corpus
    //      explodes into (vec_id, m, sv) rows, the codebook is one
    //      (m, cid, cvec) frame broadcast as one row per subspace and
    //      hash-joined on m, assignment is per-row against it — the corpus
    //      is never shuffled; the code (4 bytes here vs 256 for float32)
    //      is what a 100 TB vector index stores ----
    "q_embed_pq" -> ((s, d) => {
      val (assignments, _) = pqAssignmentsFrom(embD(s, d))
      assignments
        .groupBy(col("vec_id"))
        .agg(concat_ws("-",
          transform(array_sort(collect_list(struct(col("m"), col("cid")))),
            _.getField("cid").cast("string"))).as("pq_code"),
          round(sum(col("dist")), 6).as("recon_err"))
        .orderBy("vec_id")
    }),

    // ---- PQ ANN search (asymmetric distance computation, the consumer of
    //      q_embed_pq's codes): each probe precomputes a 4×8 lookup table
    //      of subspace distances to every codebook centroid (its
    //      subvectors join the codebook broadcast on m; the table, one
    //      32-entry map per probe, is broadcast), and a corpus vector's
    //      approximate distance is the 4-term SUM OF TABLE LOOKUPS over its
    //      code: a sequential HOF fold per row against broadcast state, so
    //      the corpus is scanned once with NO shuffle before the final
    //      top-k window. This is exactly how a PQ index serves queries at
    //      100 TB: codes live columnar, floats never touched at query
    //      time ----
    "q_ann_pq" -> ((s, d) => {
      val e = embD(s, d)
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("adist").asc, col("neighbor_id").asc)
      adcDistances(e)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("probe_id"), col("rn"), col("neighbor_id"), col("adist"))
        .orderBy("probe_id", "rn")
    }),

    // ---- two-stage retrieval (the production PQ serving pattern): ADC
    //      shortlists top-10 per probe from codes alone (floats untouched,
    //      zero corpus shuffle), then ONLY the shortlist is re-ranked with
    //      exact cosine — the corpus floats are read for 10 rows per probe
    //      instead of every row. The re-rank join BROADCASTS the shortlist
    //      (probes × 10 rows) against the corpus scan, so the corpus is
    //      never shuffled in either stage; recall lost to PQ quantization
    //      is recovered exactly where it matters, at the top of the
    //      ranking (VectorSpec quantifies the recall win vs raw ADC) ----
    "q_ann_pq_rerank" -> ((s, d) => {
      val e = embD(s, d)
      val wa = Window.partitionBy(col("probe_id"))
        .orderBy(col("adist").asc, col("neighbor_id").asc)
      val shortlist = adcDistances(e)
        .withColumn("rn", row_number().over(wa))
        .filter(col("rn") <= 10)
        .select(col("probe_id"), col("neighbor_id"))
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("vd").as("pvd"))
      val wr = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      e.select(col("vec_id").as("neighbor_id"), col("vd").as("nvd"))
        .join(broadcast(shortlist), "neighbor_id")
        .join(broadcast(probes), "probe_id")
        .select(col("probe_id"), col("neighbor_id"),
          round(VectorExprs.cosineD(col("pvd"), col("nvd")), 6).as("cos"))
        .withColumn("rk", row_number().over(wr))
        .filter(col("rk") <= 3)
        .select(col("probe_id"), col("rk"), col("neighbor_id"), col("cos"))
        .orderBy("probe_id", "rk")
    }),

    // ---- retrieval-quality evaluation: recall@5 of the LSH index
    //      against the exact cosine top-5 — the metric harness a vector
    //      store runs after every index build. Both rankings compute
    //      in-plan (the LSH leg = q_ann_lsh's candidates, the truth leg =
    //      the brute-force broadcast scan) and meet in an all-INTEGER
    //      per-probe overlap census: recall is one IEEE division of exact
    //      ints. Output is probe-count-sized. On the ISOTROPIC random
    //      fixture recall@5 sits at 0-0.2 — the honest number for LSH on
    //      direction-uniform vectors (cosines concentrate near 0, buckets
    //      barely separate); real embedding clusters score far higher
    //      (VectorSpec's multiprobe test shows the recall ordering) ----
    "q_ann_recall" -> ((s, d) => {
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      // truth: exact top-5 per probe, the q_ann_brute shape
      val probes = emb(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
      val exact = emb(s, d)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nb_emb"))
        .join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          round(VectorExprs.cosine(col("probe_emb"), col("nb_emb")), 6)
            .as("cos"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("probe_id"), col("neighbor_id"))
      // candidate leg: the q_ann_lsh pipeline at k = 5
      val e = emb(s, d).select(col("vec_id"), col("embedding"),
        VectorExprs.lshTables(col("embedding"), 6, 4).as("tbls"))
      val lp = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
          explode(col("tbls")).as("tb"))
        .select(col("probe_id"), col("probe_emb"), col("tb.tbl"), col("tb.bkt"))
      val lc = e
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nb_emb"),
          explode(col("tbls")).as("tb"))
        .select(col("neighbor_id"), col("nb_emb"), col("tb.tbl"), col("tb.bkt"))
      val lsh = lc.join(broadcast(lp), Seq("tbl", "bkt"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          round(VectorExprs.cosine(col("probe_emb"), col("nb_emb")), 6)
            .as("cos"))
        .distinct()
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("probe_id"), col("neighbor_id").as("lsh_id"))
      exact.join(lsh, exact("probe_id") === lsh("probe_id") &&
          col("neighbor_id") === col("lsh_id"), "left")
        .groupBy(exact("probe_id").as("probe_id"))
        .agg(count(lit(1)).as("k"),
          sum(col("lsh_id").isNotNull.cast("long")).as("n_hit"))
        .select(col("probe_id"), col("k"), col("n_hit"),
          round(col("n_hit").cast("double") / col("k"), 4).as("recall"))
        .orderBy("probe_id")
    }),

    // ---- top principal component via distributed power iteration (the
    //      embedding-whitening / dimensionality-reduction primitive):
    //      v ← normalize(AᵀA v), 3 rounds. Each round is one broadcast of
    //      the 64-value vector, one pipelined per-row dot product, one
    //      (dim)-keyed map-side-combined sum, and a 1-row norm — the
    //      corpus is never shuffled, state is dim-sized. Determinism: the
    //      per-row dot is a SEQUENTIAL index-order fold (zip_with +
    //      aggregate == DuckDB list_reduce — identical association), v₀ =
    //      1/8 each (exact, |v₀|=1 for dim 64), and v rounds to 9 dp per
    //      iteration (the PageRank drift reset) so the per-dim sums'
    //      association-order ulps never accumulate ----
    "q_pca_power" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding")).persistTracked()
      def dotV = expr("aggregate(zip_with(embedding, v, " +
        "(a, b) -> cast(a as double) * b), 0D, (acc, x) -> acc + x)")
      var v = s.range(1).select(expr("array_repeat(0.125D, 64)").as("v"))
      for (_ <- 1 to 3) {
        val y = e.crossJoin(broadcast(v))
          .select(col("vec_id"), col("embedding"), dotV.as("y"))
        val w = y
          .select(col("y"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy(col("dim"))
          .agg(sum(col("y") * col("x").cast("double")).as("w"))
        val n = w.agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
        v = w.crossJoin(broadcast(n))
          .select(col("dim"), round(col("w") / col("nrm"), 9).as("vd"))
          .agg(expr("transform(array_sort(collect_list(struct(dim, vd))), " +
            "s -> s.vd)").as("v"))
          .localCheckpoint()
      }
      // Rayleigh quotient λ = Σ yᵢ² with the final unit vector
      val lam = e.crossJoin(broadcast(v)).select(dotV.as("y"))
        .agg(round(sum(col("y") * col("y")), 2).as("eigenvalue"))
      v.select(posexplode(col("v")).as(Seq("dim", "vd")))
        .select(col("dim"), round(col("vd"), 6).as("loading"))
        .crossJoin(broadcast(lam))
        .orderBy("dim")
    }),

    // ---- Johnson–Lindenstrauss random projection 64→16 dims (Achlioptas
    //      2003 ±1 variant — public result): yᵢ = (1/√k)·Σⱼ sᵢⱼ·xⱼ with
    //      the sign matrix from the MID-SQUARE of the repo's shared
    //      deterministic LCG over the flat index: bit 20 of h² where
    //      h = lcg(i·64+j). The plain LCG is AFFINE in the index, so
    //      consecutive rows' sign patterns correlate up to 0.94 (measured)
    //      — a degenerate projection; squaring makes the bit quadratic in
    //      the index and drops max row correlation to 0.27, the random-
    //      matrix level for 64-wide rows. The scale path for
    //      ANN/clustering when 64 dims is itself the bottleneck:
    //      projection is one pipelined per-row map (no shuffle, no state),
    //      the 16-dim output is 4× cheaper to shuffle and compare
    //      downstream. Per-element association order is a SEQUENTIAL
    //      index fold == DuckDB list_reduce, so the gate is value-exact ----
    //      The sign matrix is CONSTANT (a pure function of (i, j)), so it
    //      is baked at plan-build time into 16 flat ±-term sum chains —
    //      whole-stage-codegen arithmetic instead of a per-element
    //      interpreted HOF lambda (measured ~6× on the 1024-term inner
    //      loop); the left-assoc chain keeps the fold's association order
    //      bit-for-bit ----
    "q_embed_project" -> ((s, d) => {
      val proj = jlProjectCol
      emb(s, d).select(col("vec_id"), proj.as("proj"))
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "val")))
        .orderBy("vec_id", "dim")
    }),

    // ---- ANN in the JL-projected space (the q_embed_project composition
    //      proof): exact top-5 in 64-dim vs top-5 by cosine over the
    //      16-dim projections, recall@5 per probe — the measured answer
    //      to "what does 4× cheaper buy and what does it cost". Same
    //      plan scale shape as q_ann_recall: probes broadcast, corpus
    //      never shuffled for candidates; the projected leg reads 4×
    //      less per comparison ----
    "q_ann_projected" -> ((s, d) => {
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      def fold(prod: String) =
        s"aggregate($prod, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
      // dot/(√na·√nb) with sequential folds — the cosineSql association
      val pcos = expr("round(" +
        fold("zip_with(probe_proj, nb_proj, (x, y) -> x * y)") + " / (sqrt(" +
        fold("transform(probe_proj, x -> x * x)") + ") * sqrt(" +
        fold("transform(nb_proj, x -> x * x)") + ")), 6)")
      val base = emb(s, d)
        .select(col("vec_id"), col("embedding"), jlProjectCol.as("proj"))
        .persistTracked()
      val probes = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"),
          col("embedding").as("probe_emb"), col("proj").as("probe_proj"))
      val exact = base
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nb_emb"))
        .join(broadcast(probes.select(col("probe_id"), col("probe_emb"))),
          col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          round(VectorExprs.cosine(col("probe_emb"), col("nb_emb")), 6)
            .as("cos"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("probe_id"), col("neighbor_id"))
      val projTop = base
        .select(col("vec_id").as("neighbor_id"), col("proj").as("nb_proj"))
        .join(broadcast(probes.select(col("probe_id"), col("probe_proj"))),
          col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"), pcos.as("cos"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("probe_id"), col("neighbor_id").as("proj_id"))
      exact.join(projTop,
          exact("probe_id") === projTop("probe_id") &&
            col("neighbor_id") === col("proj_id"), "left")
        .groupBy(exact("probe_id").as("probe_id"))
        .agg(count(lit(1)).as("k"),
          sum(col("proj_id").isNotNull.cast("long")).as("n_hit"))
        .select(col("probe_id"), col("k"), col("n_hit"),
          round(col("n_hit").cast("double") / col("k"), 4).as("recall"))
        .orderBy("probe_id")
    }),

    // ---- hybrid retrieval via reciprocal-rank fusion (RRF, k=60): the
    //      lexical ranking (BM25 over the query terms) and the semantic
    //      ranking (exact cosine against the query embedding, doc 0's
    //      vector — vec_id is doc-aligned) fuse as Σ 1/(60+rank) over a
    //      full-outer join of the two top-20 lists. Both lists rank on
    //      ROUNDED scores with unique doc tie-breaks, and the RRF score
    //      is a sum of two IEEE divisions of exact small integers —
    //      bit-identical across engines, safe as the ordering key. Each
    //      leg is census/top-k-sized; the fusion join touches ≤40 rows
    //      regardless of corpus size ----
    "q_rank_fusion" -> ((s, d) => {
      val terms = Seq("spark", "join", "vector")
      val tok = Tables(s, d, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          split(lower(trim(col("text"))), "\\s+").as("w"))
      val dl = tok.select(col("doc_id"), size(col("w")).as("dl"))
      val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("dl")).as("avgdl"))
      val tf = tok.select(col("doc_id"), explode(col("w")).as("t"))
        .filter(col("t").isin(terms: _*))
        .groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val df = tf.groupBy(col("t"))
        .agg(countDistinct(col("doc_id")).cast("double").as("df"))
      val bm25 = tf.join(broadcast(df), "t").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
        .withColumn("contrib",
          col("idf") * col("tf") * 2.2 /
            (col("tf") + (lit(0.25) + col("dl") * 0.75 / col("avgdl")) * 1.2))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("contrib")), 4).as("bm25"))
      val lex = bm25
        .withColumn("rank_lex", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id").asc)))
        .filter(col("rank_lex") <= 20).select(col("doc_id"), col("rank_lex"))
      val probe = emb(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("probe_emb"))
      val sem = emb(s, d).filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id").as("doc_id"),
          round(VectorExprs.cosine(col("probe_emb"), col("embedding")), 6)
            .as("cos"))
        .withColumn("rank_sem", row_number().over(
          Window.orderBy(col("cos").desc, col("doc_id").asc)))
        .filter(col("rank_sem") <= 20).select(col("doc_id"), col("rank_sem"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("rank_lex"), col("rank_sem"),
          (coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_sem")), lit(0.0)))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(10)
        .select(col("doc_id"), col("rank_lex"), col("rank_sem"),
          round(col("rrf"), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
    })
  )

  /** ADC approximate distances (probe_id, neighbor_id, adist) — the shared
    * core of q_ann_pq and q_ann_pq_rerank: per-probe 4×8 distance LUT
    * against the codebook broadcast keyed on m (the same broadcast the
    * final assignment probes), corpus distance = 4 table lookups via a
    * sequential HOF fold per row. The LUT is DENSELY keyed by m*8 + cid
    * in a map — a positional array would silently shift every later index
    * if a degenerate codebook dropped a memberless centroid (the DuckDB
    * oracle joins on (m, cid) and would diverge); keyed entries stay
    * correct for any surviving cid set. `e` must be (vec_id, vd) with vd
    * double[64]; its reads re-scan the source.
    */
  private def adcDistances(e: DataFrame): DataFrame = {
    val (assignments, codebooks) = pqAssignmentsFrom(e)
    val codesWide = assignments.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("cid")))),
        _.getField("cid")).as("code"))
    val lutWide = subvectors(e.filter(col("vec_id") < 10))
      .join(broadcast(codebookRows(codebooks)), "m")
      .select(col("vec_id").as("probe_id"), transform(col("cs"), c => struct(
        (col("m") * 8 + c.getField("cid")).cast("int").as("k"),
        VectorExprs.l2DistSq(col("sv"), c.getField("cvec")).as("pdist"))).as("es"))
      .groupBy(col("probe_id"))
      .agg(map_from_entries(flatten(collect_list(col("es")))).as("lut"))
    codesWide.crossJoin(broadcast(lutWide))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(aggregate(sequence(lit(0), lit(3)), lit(0.0), (acc, mm) =>
          acc + element_at(col("lut"),
            (mm * 8 + element_at(col("code"), mm + 1)).cast("int"))), 6)
          .as("adist"))
  }

  /** (vec_id, m, sv): a (vec_id, vd) frame exploded into its 4 subvectors
    * of 16 dims. Every PQ stage is ONE plan keyed by m over this frame:
    * per-subspace copies differ only in literals Spark inlines into
    * generated code, so each would plan its own broadcasts and jobs and
    * compile its own classes.
    */
  private def subvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(transform(sequence(lit(0), lit(3)), mi =>
        struct(mi.as("m"), slice(col("vd"), mi * 16 + 1, lit(16)).as("sv")))).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))

  /** (m, cs): one row per subspace — the broadcast side of every codebook join. */
  private def codebookRows(codebooks: DataFrame): DataFrame =
    codebooks.groupBy(col("m"))
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("cs"))

  /** Nearest-centroid assignment of a (vec_id, m, sv) frame against an
    * (m, cid, cvec) codebook — shared by the index build and the APPEND
    * path (new vectors coded against fixed codebooks, no retrain).
    *
    * MAP-ONLY: the codebook is folded into one row per subspace, joined
    * as a broadcast hash join on m, and the argmin is a pure projection —
    * a per-row sort of k (dist, cid) structs, tie-broken on cid exactly
    * like the row_number() window this replaced. The old shape expanded k
    * rows per vector and shuffled the corpus onto vec_id for the window
    * sort; assignment now has no exchange at all (PlanSpec asserts it),
    * which is the difference between a map stage and a corpus shuffle at
    * 100 TB.
    */
  private def assignToCodebook(sv: DataFrame, codebooks: DataFrame): DataFrame =
    sv.join(broadcast(codebookRows(codebooks)), "m")
      .select(col("vec_id"), col("m"), col("sv"),
        element_at(array_sort(transform(col("cs"), c =>
          struct(VectorExprs.l2DistSq(col("sv"), c.getField("cvec")).as("dist"),
            c.getField("cid").as("cid")))), 1).as("best"))
      .select(col("vec_id"), col("m"), col("sv"),
        col("best.cid").as("cid"), col("best.dist").as("dist"))

  /** Product-quantization codebooks + assignments of a (vec_id, vd) frame:
    * 4 subspaces of 16 dims, 8 deterministic centroids each (init = first
    * 8 vectors' subvectors, one Lloyd step, centroids rounded 6dp —
    * q_ann_ivf's recipe per subspace). Returns the (vec_id, m, cid, dist)
    * assignment frame and the (m, cid, cvec) codebook frame.
    */
  private def pqAssignmentsFrom(e: DataFrame): (DataFrame, DataFrame) = {
    val sv = subvectors(e)
    val init = sv.filter(col("vec_id") < 8) // k = 8 centroids per subspace
      .select(col("m"), col("vec_id").cast("int").as("cid"), col("sv").as("cvec"))
    val cents1 = assignToCodebook(sv, init)
      .select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("dim", "v")))
      .groupBy(col("m"), col("cid"), col("dim"))
      .agg(round(avg(col("v")), 6).as("cv"))
      .groupBy(col("m"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
        _.getField("cv")).as("cvec"))
    (assignToCodebook(sv, cents1).select(col("vec_id"), col("m"), col("cid"), col("dist")),
      cents1)
  }

  /** Mid-square-LCG JL sign: true ⇒ +x_j in output dim i (see
    * q_embed_project's scaladoc for the derivation and the measured
    * row-correlation story).
    */
  private def jlPositive(i: Int, j: Int): Boolean = {
    val h = ((i.toLong * 64 + j) * 1103515245L + 12345L) % 2147483648L
    (h * h % 2147483648L / 1048576L) % 2 == 0
  }

  /** The 64→16 JL projection: raw ± sums from the native [[SignProject]]
    * loop (left-assoc == the oracle's sequential fold — and, unlike the 16
    * plan-baked 64-term SQL chains it replaced, it cannot blow janino's
    * method limit: r13's one observed codegen fallback was exactly that
    * chain's processNext()), then Spark's own round(x/4.0, 6) per element
    * so output values stay bit-identical to the previous formulation.
    */
  private def jlProjectCol: org.apache.spark.sql.Column = {
    val signs: IndexedSeq[Boolean] =
      for { i <- 0 until 16; j <- 0 until 64 } yield jlPositive(i, j)
    val raw = graft.functions.VectorExprs.signProject(
      col("embedding"), signs, outDims = 16, inDims = 64)
    transform(raw, x => round(x / lit(4.0), 6))
  }

  /** DuckDB twin of [[jlProjectCol]] over an embedding column reference —
    * signs via the same mid-square hash, same fold, same rounding.
    */
  private def jlProjectSql(embRef: String): String =
    s"""list_transform(range(0, 16), i ->
       |      round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(range(0, 64), j ->
       |          CASE WHEN (((((i * 64 + j) * 1103515245 + 12345)
       |                       % 2147483648) *
       |                      (((i * 64 + j) * 1103515245 + 12345)
       |                       % 2147483648)) % 2147483648 // 1048576)
       |                    % 2 = 0
       |            THEN  CAST($embRef[j + 1] AS DOUBLE)
       |            ELSE -CAST($embRef[j + 1] AS DOUBLE) END)),
       |        (acc, x) -> acc + x) / 4.0, 6))""".stripMargin

  private val cosAB = VectorExprs.cosineSql("a.embedding", "b.embedding")

  /** index-order sequential dot fold — the DuckDB twin of
    * aggregate(zip_with(...)): identical association order.
    */
  private def pcaDot(vTerm: String): String =
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * $vTerm)), " +
      "(acc, x) -> acc + x)"

  /** one power-iteration round: y = Av (fold), w = Aᵀy, v' = round(w/|w|, 9). */
  private def pcaRound(i: Int, vList: String): String =
    s"""y$i AS (
       |  SELECT e.vec_id, ${pcaDot(s"$vList.v[i]")} AS y
       |  FROM embeddings e CROSS JOIN $vList),
       |w$i AS (SELECT dim, sum(y * x) AS w
       |        FROM xd JOIN y$i USING (vec_id) GROUP BY dim),
       |n$i AS (SELECT sqrt(sum(w * w)) AS nrm FROM w$i),
       |v$i AS (SELECT list(round(w / nrm, 9) ORDER BY dim) AS v
       |        FROM w$i CROSS JOIN n$i)""".stripMargin

  /** IVF coarse-quantizer stages shared by q_ann_ivf and q_ivf_tuning:
    * deterministic init (first 16 vectors), ONE Lloyd round with centroids
    * rounded to 6dp (both engines agree bit-for-bit), corpus
    * reassignment, and the probe-side centroid ranking kept to
    * `maxProbe`. Returns (e, cents1, a2, probed-with-crn); nothing is
    * persisted, so every read of e re-scans the embeddings. */
  private def ivfIndex(s: SparkSession, d: String, maxProbe: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.functions.VectorExprs
    val k = 16
    val e = embD(s, d)
    // map-only nearest-centroid assignment: codebook folded to ONE
    // broadcast row, per-vector argmin as a pure projection (sorted
    // (dist, cid) structs — same tie-break as the row_number() window it
    // replaced, zero exchange in the assignment stage; see
    // assignToCodebook's scaladoc for the scale argument)
    def assign(cents: DataFrame): DataFrame = {
      val centsRow = cents.agg(
        collect_list(struct(col("cid"), col("cvec"))).as("cs"))
      e.crossJoin(broadcast(centsRow))
        .select(col("vec_id"), col("vd"),
          element_at(array_sort(transform(col("cs"), c =>
            struct(VectorExprs.l2DistSq(col("vd"), c.getField("cvec")).as("dist"),
              c.getField("cid").as("cid")))), 1).getField("cid").as("cid"))
    }
    val init = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("vd").as("cvec"))
    val cents1 = assign(init)
      .select(col("cid"), posexplode(col("vd")).as(Seq("dim", "v")))
      .groupBy(col("cid"), col("dim"))
      .agg(round(avg(col("v")), 6).as("cv"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
        _.getField("cv")).as("cvec"))
    val a2 = assign(cents1)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("vd").as("pd"))
    // probe-side centroid ranking, window-free like the assignment: the
    // top-maxProbe slice of the per-probe sorted (dist, cid) array,
    // posexploded so crn (1-based centroid rank) survives for the
    // per-nprobe cuts in q_ivf_tuning
    val cents1Row = cents1.agg(
      collect_list(struct(col("cid"), col("cvec"))).as("cs"))
    val probed = probes.crossJoin(broadcast(cents1Row))
      .select(col("probe_id"), col("pd"),
        slice(array_sort(transform(col("cs"), c =>
          struct(VectorExprs.l2DistSq(col("pd"), c.getField("cvec")).as("dist"),
            c.getField("cid").as("cid")))), 1, maxProbe).as("top"))
      .select(col("probe_id"), col("pd"),
        posexplode(col("top")).as(Seq("p", "tc")))
      .select(col("probe_id"), col("pd"),
        col("tc.cid").as("cid"), (col("p") + 1).as("crn"))
    (e, cents1, a2, probed)
  }

  /** Shared IVF oracle CTE chain (init → one Lloyd round → reassignment →
    * probe ranking kept to `maxProbe`); the bit-exact DuckDB twin of
    * [[ivfIndex]]. Ends with a trailing comma so callers append their own
    * evaluation CTEs. */
  private def ivfOracleStages(maxProbe: Int): String = {
    val l2 = VectorExprs.l2DistSqSql _
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
       |           FROM embeddings),
       |init AS (SELECT CAST(vec_id AS INTEGER) AS cid, vd AS cvec FROM e WHERE vec_id < 16),
       |d1 AS (SELECT e.vec_id, e.vd, i.cid, ${l2("e.vd", "i.cvec", 64)} AS dist
       |       FROM e, init i),
       |a1 AS (SELECT vec_id, vd, cid FROM (
       |         SELECT *, row_number() OVER (PARTITION BY vec_id
       |                   ORDER BY dist ASC, cid ASC) AS rn FROM d1)
       |       WHERE rn = 1),
       |cd AS (SELECT cid, d.range AS dim, round(avg(vd[d.range]), 6) AS cv
       |       FROM a1, range(1, 65) d GROUP BY cid, d.range),
       |c1 AS (SELECT cid, list(cv ORDER BY dim) AS cvec FROM cd GROUP BY cid),
       |d2 AS (SELECT e.vec_id, e.vd, c.cid, ${l2("e.vd", "c.cvec", 64)} AS dist
       |       FROM e, c1 c),
       |a2 AS (SELECT vec_id, vd, cid FROM (
       |         SELECT *, row_number() OVER (PARTITION BY vec_id
       |                   ORDER BY dist ASC, cid ASC) AS rn FROM d2)
       |       WHERE rn = 1),
       |p AS (SELECT vec_id AS probe_id, vd AS pd FROM e WHERE vec_id < 10),
       |pd AS (SELECT p.probe_id, p.pd, c.cid, ${l2("p.pd", "c.cvec", 64)} AS dist
       |       FROM p, c1 c),
       |pc AS (SELECT probe_id, pd, cid, crn FROM (
       |         SELECT *, row_number() OVER (PARTITION BY probe_id
       |                   ORDER BY dist ASC, cid ASC) AS crn FROM pd)
       |       WHERE crn <= $maxProbe),""".stripMargin
  }

  /** NDCG discount coefficients 1/log₂(i+1), i = 1..10, and their
    * cumulative ideal sums — computed ONCE in Scala and shipped to both
    * engines as literals (Double.toString is shortest-round-trip, so
    * DuckDB parses back the exact binary64), keeping libm log out of
    * both plans.
    */
  private val ndcgCoef: List[Double] =
    (1 to 10).map(i => 1.0 / (math.log(i + 1) / math.log(2))).toList
  private val ndcgIdealCum: List[Double] =
    ndcgCoef.scanLeft(0.0)(_ + _).tail

  val oracles: Map[String, String] = Map(
    // same literal discounts, same rn-ordered DCG fold, same 6-dp
    // pre-rank cosine rounding
    "q_ndcg" -> {
      val cos = VectorExprs.cosineSql("a.embedding", "b.embedding")
      val coefArr = ndcgCoef.mkString("[", ",", "]")
      val icumArr = ndcgIdealCum.mkString("[", ",", "]")
      s"""WITH lc AS (SELECT label, count(*) AS cnt
         |            FROM embeddings GROUP BY label),
         |top AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT a.vec_id AS probe_id, a.label AS probe_label,
         |           b.vec_id AS neighbor_id, b.label AS nb_label,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY round($cos, 6) DESC, b.vec_id ASC) AS rn,
         |           CAST(b.label = a.label AS BIGINT) AS gain
         |    FROM embeddings a, embeddings b
         |    WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
         |  WHERE rn <= 10),
         |dcg AS (
         |  SELECT probe_id, cum AS dcg_raw FROM (
         |    SELECT probe_id, rn,
         |           sum(gain * ($coefArr)[CAST(rn AS INTEGER)])
         |             OVER (PARTITION BY probe_id ORDER BY rn
         |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |             AS cum
         |    FROM top)
         |  WHERE rn = 10),
         |ag AS (
         |  SELECT probe_id, any_value(probe_label) AS pl,
         |         CAST(sum(gain) AS BIGINT) AS n_rel,
         |         min(CASE WHEN gain = 1 THEN rn END) AS first_rel
         |  FROM top GROUP BY probe_id),
         |j AS (SELECT ag.probe_id, ag.n_rel, ag.first_rel,
         |             lc.cnt - 1 AS r_total
         |      FROM ag JOIN lc ON ag.pl = lc.label)
         |SELECT j.probe_id, n_rel, r_total, round(dcg_raw, 6) AS dcg,
         |       CASE WHEN r_total >= 1
         |            THEN round(dcg_raw / ($icumArr)[CAST(least(10, r_total)
         |                       AS INTEGER)], 6)
         |            ELSE 0.0 END AS ndcg,
         |       CASE WHEN first_rel IS NOT NULL
         |            THEN round(1.0 / first_rel, 6) ELSE 0.0 END AS mrr
         |FROM j JOIN dcg ON j.probe_id = dcg.probe_id
         |ORDER BY j.probe_id""".stripMargin
    },

    // each truncated ranking re-derived with the dim-parametric cosine
    // (same cast-to-double sequential fold, same 6-dp pre-rank rounding)
    "q_dim_ablation" -> {
      def leg(dim: Int) = {
        val c = VectorExprs.cosineSql("a.embedding", "b.embedding", dim)
        s"""t$dim AS (
           |  SELECT probe_id, neighbor_id FROM (
           |    SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
           |           row_number() OVER (PARTITION BY a.vec_id
           |             ORDER BY round($c, 6) DESC, b.vec_id ASC) AS rn
           |    FROM embeddings a, embeddings b
           |    WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
           |  WHERE rn <= 5)""".stripMargin
      }
      def res(dim: Int) =
        s"""SELECT CAST($dim AS BIGINT) AS dim, e.probe_id, count(*) AS k,
           |       CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL
           |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |       round(CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL
           |                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
           |         AS recall
           |FROM t64 e LEFT JOIN t$dim t
           |  ON e.probe_id = t.probe_id AND e.neighbor_id = t.neighbor_id
           |GROUP BY e.probe_id""".stripMargin
      s"""WITH ${leg(64)},
         |${leg(8)},
         |${leg(16)},
         |${leg(32)}
         |${res(8)}
         |UNION ALL
         |${res(16)}
         |UNION ALL
         |${res(32)}
         |ORDER BY dim, probe_id""".stripMargin
    },

    // the same greedy, unrolled: a 20×20 rounded-cosine sim matrix is
    // built once; each step's pick is the (score DESC, vec_id ASC) argmax
    // over candidates not yet selected, with max-sim via the matrix
    "q_mmr_diverse" -> {
      val cq = VectorExprs.cosineSql("q.qe", "e.embedding")
      val cab = VectorExprs.cosineSql("a.embedding", "b.embedding")
      val steps = (2 to 5).map { i =>
        val sel = s"sel${i - 1}"
        s"""p$i AS (
           |  SELECT c.vec_id, c.rel,
           |         0.5 * c.rel - 0.5 * max(s.cs) AS score
           |  FROM cand c JOIN sim s ON s.ia = c.vec_id
           |    AND s.ib IN (SELECT vec_id FROM $sel)
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $sel)
           |  GROUP BY c.vec_id, c.rel
           |  ORDER BY score DESC, c.vec_id ASC LIMIT 1),
           |sel$i AS (SELECT vec_id FROM $sel
           |          UNION ALL SELECT vec_id FROM p$i)""".stripMargin
      }.mkString(",\n")
      val rows = (2 to 5).map(i =>
        s"UNION ALL SELECT CAST($i AS BIGINT), vec_id, rel, score FROM p$i")
        .mkString("\n")
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cand AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, round($cq, 6) AS rel
         |  FROM embeddings e, q
         |  WHERE e.vec_id <> 0
         |  ORDER BY rel DESC, e.vec_id ASC LIMIT 20),
         |sim AS MATERIALIZED (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib, round($cab, 6) AS cs
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         |p1 AS (SELECT vec_id, rel, 0.5 * rel - 0.5 * 0.0 AS score
         |       FROM cand ORDER BY score DESC, vec_id ASC LIMIT 1),
         |sel1 AS (SELECT vec_id FROM p1),
         |$steps
         |SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel, score AS mmr_score
         |FROM p1
         |$rows
         |ORDER BY rank""".stripMargin
    },

    // the same farthest-first recurrence, unrolled: m_i carries each
    // point's min distance to the chosen set (least() is exact, so the
    // incremental min equals the Spark side's recomputed fold), p_i is
    // the round's argmax with the identical (dd DESC, vec_id ASC) pick
    "q_coreset_kcenter" -> {
      val l2 = VectorExprs.l2DistSqSql _
      val steps = (1 to 5).map { i =>
        val prev = s"m${i - 1}"
        s"""p$i AS (SELECT vec_id, dd FROM $prev
           |        ORDER BY dd DESC, vec_id ASC LIMIT 1),
           |c$i AS (SELECT e2.vd FROM e e2 JOIN p$i ON e2.vec_id = p$i.vec_id),
           |m$i AS (SELECT m.vec_id, least(m.dd, ${l2("e.vd", "c.vd", 64)}) AS dd
           |        FROM $prev m JOIN e ON m.vec_id = e.vec_id, c$i c)""".stripMargin
      }.mkString(",\n")
      val rows = (1 to 5).map(i =>
        s"UNION ALL SELECT CAST($i AS BIGINT), vec_id, round(dd, 6) FROM p$i")
        .mkString("\n")
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
         |           FROM embeddings),
         |m0 AS (SELECT e.vec_id, ${l2("e.vd", "c.vd", 64)} AS dd
         |       FROM e, (SELECT vd FROM e WHERE vec_id = 0) c),
         |$steps
         |SELECT CAST(0 AS BIGINT) AS step, CAST(0 AS BIGINT) AS center_id,
         |       CAST(0.0 AS DOUBLE) AS dist2
         |$rows
         |ORDER BY step""".stripMargin
    },

    // same mid-square LCG sign matrix, same sequential fold, same
    // rounding — the projection is value-exact across engines
    "q_embed_project" ->
      s"""WITH p AS (
         |  SELECT vec_id, ${jlProjectSql("embedding")} AS proj
         |  FROM embeddings)
         |SELECT vec_id, i AS dim, proj[i + 1] AS val
         |FROM p, range(0, 16) r(i)
         |ORDER BY vec_id, dim""".stripMargin,

    // the JL leg re-projects with the same sign hash; both cosines use
    // the dim-parametric sequential-fold form (dot/(√na·√nb))
    "q_ann_projected" -> {
      val cos16 = VectorExprs.cosineSql("pa.proj", "pb.proj", 16)
      s"""WITH p AS (
         |  SELECT vec_id, embedding, ${jlProjectSql("embedding")} AS proj
         |  FROM embeddings),
         |exact AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY round($cosAB, 6) DESC, b.vec_id ASC) AS rn
         |    FROM embeddings a, embeddings b
         |    WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
         |  WHERE rn <= 5),
         |proj AS (
         |  SELECT probe_id, neighbor_id AS proj_id FROM (
         |    SELECT pa.vec_id AS probe_id, pb.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY pa.vec_id
         |             ORDER BY round($cos16, 6) DESC, pb.vec_id ASC) AS rn
         |    FROM p pa, p pb
         |    WHERE pa.vec_id < 10 AND pb.vec_id <> pa.vec_id)
         |  WHERE rn <= 5)
         |SELECT exact.probe_id, count(*) AS k,
         |       CAST(sum(CASE WHEN proj_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_hit,
         |       round(CAST(sum(CASE WHEN proj_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS DOUBLE) / count(*), 4) AS recall
         |FROM exact LEFT JOIN proj
         |  ON exact.probe_id = proj.probe_id
         |  AND exact.neighbor_id = proj.proj_id
         |GROUP BY exact.probe_id ORDER BY exact.probe_id""".stripMargin
    },

    "q_embed_stats" ->
      """SELECT vec_id, len(embedding) AS dim,
        |       round(sqrt(list_sum(list_transform(embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 3) AS l2_norm,
        |       round(list_sum(list_transform(embedding,
        |             x -> CAST(x AS DOUBLE))), 3) AS sum_val,
        |       label
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_embed_centroids" ->
      """WITH e AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        |           FROM embeddings),
        |cd AS (SELECT label, d.range AS dim, round(avg(vd[d.range]), 6) AS cv
        |       FROM e, range(1, 65) d GROUP BY label, d.range),
        |cn AS (SELECT label, round(sqrt(sum(cv * cv)), 4) AS centroid_norm,
        |              count(*) AS n_dims
        |       FROM cd GROUP BY label),
        |nv AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
        |SELECT cn.label AS label, n_vecs, n_dims, centroid_norm
        |FROM cn JOIN nv ON cn.label = nv.label ORDER BY label""".stripMargin,

    "q_ann_brute" ->
      s"""WITH pairs AS (
         |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |         round($cosAB, 6) AS cos
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |            ORDER BY cos DESC, neighbor_id ASC) AS rn
         |  FROM pairs)
         |SELECT probe_id, rn, neighbor_id, cos FROM r
         |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin,

    "q_ann_lsh" -> {
      val wlits = (0 until 4).map(t =>
        s"${VectorExprs.weightsSqlLiteral(t, 6)}::DOUBLE[][] AS w$t").mkString(", ")
      val bkts = (0 until 4).map(t =>
        VectorExprs.bucketSql("embedding", s"w$t", 6)).mkString("[", ", ", "]")
      s"""WITH w AS (SELECT $wlits),
         |e AS (SELECT vec_id, embedding, $bkts AS bkts FROM embeddings, w),
         |cand AS (
         |  SELECT DISTINCT p.vec_id AS probe_id, n.vec_id AS neighbor_id
         |  FROM e p, e n, range(1, 5) t
         |  WHERE p.vec_id < 10 AND n.vec_id <> p.vec_id
         |    AND p.bkts[t.range] = n.bkts[t.range]),
         |pairs AS (
         |  SELECT c.probe_id, c.neighbor_id,
         |         round(${VectorExprs.cosineSql("a.embedding", "b.embedding")}, 6) AS cos
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.probe_id
         |  JOIN embeddings b ON b.vec_id = c.neighbor_id),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |            ORDER BY cos DESC, neighbor_id ASC) AS rn
         |  FROM pairs)
         |SELECT probe_id, rn, neighbor_id, cos FROM r
         |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin
    },

    // multi-probe membership via the equivalent xor-set test: Hamming ≤ 1
    // between probe and corpus buckets ⇔ xor ∈ {0, 1, 2, 4, 8, 16, 32}
    "q_ann_multiprobe" -> {
      val wlits = (0 until 4).map(t =>
        s"${VectorExprs.weightsSqlLiteral(t, 6)}::DOUBLE[][] AS w$t").mkString(", ")
      val bkts = (0 until 4).map(t =>
        VectorExprs.bucketSql("embedding", s"w$t", 6)).mkString("[", ", ", "]")
      s"""WITH w AS (SELECT $wlits),
         |e AS (SELECT vec_id, embedding, $bkts AS bkts FROM embeddings, w),
         |cand AS (
         |  SELECT DISTINCT p.vec_id AS probe_id, n.vec_id AS neighbor_id
         |  FROM e p, e n, range(1, 5) t
         |  WHERE p.vec_id < 10 AND n.vec_id <> p.vec_id
         |    AND xor(p.bkts[t.range], n.bkts[t.range]) IN (0, 1, 2, 4, 8, 16, 32)),
         |pairs AS (
         |  SELECT c.probe_id, c.neighbor_id,
         |         round(${VectorExprs.cosineSql("a.embedding", "b.embedding")}, 6) AS cos
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.probe_id
         |  JOIN embeddings b ON b.vec_id = c.neighbor_id),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |            ORDER BY cos DESC, neighbor_id ASC) AS rn
         |  FROM pairs)
         |SELECT probe_id, rn, neighbor_id, cos FROM r
         |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin
    },

    "q_ann_ivf" ->
      s"""WITH ${ivfOracleStages(2)}
         |cand AS (
         |  SELECT pc.probe_id, a2.vec_id AS neighbor_id,
         |         round(${VectorExprs.cosineSql("pc.pd", "a2.vd")}, 6) AS cos
         |  FROM pc JOIN a2 USING (cid)
         |  WHERE a2.vec_id <> pc.probe_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
         |              ORDER BY cos DESC, neighbor_id ASC) AS rn
         |      FROM cand)
         |SELECT probe_id, rn, neighbor_id, cos FROM r
         |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin,

    // same index CTEs at maxProbe 4; smaller nprobe settings are crn
    // filters over the ONE probed index, exactly like the Spark side
    "q_ivf_tuning" ->
      s"""WITH ${ivfOracleStages(4)}
         |exact AS MATERIALIZED (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT p.probe_id, e.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY round(${VectorExprs.cosineSql("p.pd", "e.vd")},
         |                     6) DESC, e.vec_id ASC) AS rn
         |    FROM p, e WHERE e.vec_id <> p.probe_id)
         |  WHERE rn <= 5),
         |cand AS MATERIALIZED (
         |  SELECT pc.probe_id, pc.crn, a2.vec_id AS neighbor_id,
         |         round(${VectorExprs.cosineSql("pc.pd", "a2.vd")}, 6) AS cos
         |  FROM pc JOIN a2 USING (cid)
         |  WHERE a2.vec_id <> pc.probe_id),
         |nps AS (SELECT unnest([1, 2, 4]) AS nprobe),
         |pernp AS MATERIALIZED (
         |  SELECT nps.nprobe, cand.probe_id, cand.neighbor_id, cand.cos
         |  FROM nps JOIN cand ON cand.crn <= nps.nprobe),
         |topk AS (
         |  SELECT nprobe, probe_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY nprobe, probe_id
         |             ORDER BY cos DESC, neighbor_id ASC) AS rn FROM pernp)
         |  WHERE rn <= 5),
         |hits AS (SELECT nprobe, count(*) AS n_hits
         |         FROM topk JOIN exact USING (probe_id, neighbor_id)
         |         GROUP BY nprobe),
         |sc AS (SELECT nprobe, count(*) AS n_candidates FROM pernp
         |       GROUP BY nprobe),
         |tn AS (SELECT count(*) AS n_truth FROM exact)
         |SELECT sc.nprobe, n_candidates,
         |       CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |       (coalesce(n_hits, 0) * 10000) // n_truth AS recall_bp
         |FROM sc LEFT JOIN hits USING (nprobe) CROSS JOIN tn
         |ORDER BY sc.nprobe""".stripMargin,

    // per-subspace CTE chains generated by the same recipe as q_ann_ivf's
    "q_embed_pq" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
         |           FROM embeddings),
         |$pqSubCtes,
         |u AS (SELECT * FROM a20 UNION ALL SELECT * FROM a21
         |      UNION ALL SELECT * FROM a22 UNION ALL SELECT * FROM a23)
         |SELECT vec_id,
         |       array_to_string(list(CAST(cid AS VARCHAR) ORDER BY m), '-') AS pq_code,
         |       round(sum(dist), 6) AS recon_err
         |FROM u GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "q_ann_pq" ->
      s"""WITH $adcCtes
         |SELECT probe_id, rn, neighbor_id, adist FROM r
         |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin,

    // codebooks trained on the old slice only (pqSubCtes over e = old);
    // the new batch is assigned against those fixed c1<mi> codebooks
    "q_pq_append" -> {
      val l2 = VectorExprs.l2DistSqSql _
      val newCtes = (0 until 4).map { mi =>
        val lo = mi * 16 + 1; val hi = mi * 16 + 16
        s"""nsv$mi AS (SELECT vec_id, vd[$lo:$hi] AS sv FROM ne),
           |nd$mi AS (SELECT s.vec_id, c.cid, ${l2("s.sv", "c.cvec", 16)} AS dist
           |          FROM nsv$mi s, c1$mi c),
           |na$mi AS (SELECT vec_id, $mi AS m, cid FROM (
           |            SELECT *, row_number() OVER (PARTITION BY vec_id
           |                      ORDER BY dist ASC, cid ASC) AS rn FROM nd$mi)
           |          WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
         |           FROM embeddings WHERE vec_id % 10 <> 9),
         |ne AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
         |       FROM embeddings WHERE vec_id % 10 = 9),
         |$pqSubCtes,
         |$newCtes,
         |oldc AS (SELECT m, cid, count(*) AS n_old FROM (
         |           SELECT m, cid FROM a20 UNION ALL SELECT m, cid FROM a21
         |           UNION ALL SELECT m, cid FROM a22 UNION ALL SELECT m, cid FROM a23)
         |         GROUP BY m, cid),
         |newc AS (SELECT m, cid, count(*) AS n_new FROM (
         |           SELECT m, cid FROM na0 UNION ALL SELECT m, cid FROM na1
         |           UNION ALL SELECT m, cid FROM na2 UNION ALL SELECT m, cid FROM na3)
         |         GROUP BY m, cid)
         |SELECT coalesce(o.m, n.m) AS m, coalesce(o.cid, n.cid) AS cid,
         |       coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
         |FROM oldc o FULL OUTER JOIN newc n ON o.m = n.m AND o.cid = n.cid
         |ORDER BY m, cid""".stripMargin
    },

    // same ADC chain shortlisted to 10, then exact-cosine re-rank of the
    // shortlist only (the two-stage serving pattern)
    "q_ann_pq_rerank" ->
      s"""WITH $adcCtes,
         |sl AS (SELECT probe_id, neighbor_id FROM r WHERE rn <= 10),
         |rr AS (SELECT s.probe_id, s.neighbor_id, round($cosAB, 6) AS cos
         |       FROM sl s JOIN embeddings a ON a.vec_id = s.probe_id
         |                 JOIN embeddings b ON b.vec_id = s.neighbor_id),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY probe_id
         |              ORDER BY cos DESC, neighbor_id ASC) AS rk FROM rr)
         |SELECT probe_id, rk, neighbor_id, cos FROM r2
         |WHERE rk <= 3 ORDER BY probe_id, rk""".stripMargin,

    // both rankings rebuilt from the q_ann_brute / q_ann_lsh oracle
    // fragments, met in the integer overlap census
    "q_ann_recall" -> {
      val wlits = (0 until 4).map(t =>
        s"${VectorExprs.weightsSqlLiteral(t, 6)}::DOUBLE[][] AS w$t")
        .mkString(", ")
      val bkts = (0 until 4).map(t =>
        VectorExprs.bucketSql("embedding", s"w$t", 6)).mkString("[", ", ", "]")
      s"""WITH exact AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY round($cosAB, 6) DESC, b.vec_id ASC) AS rn
         |    FROM embeddings a, embeddings b
         |    WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
         |  WHERE rn <= 5),
         |w AS (SELECT $wlits),
         |e AS (SELECT vec_id, embedding, $bkts AS bkts FROM embeddings, w),
         |cand AS (
         |  SELECT DISTINCT p.vec_id AS probe_id, n.vec_id AS neighbor_id
         |  FROM e p, e n, range(1, 5) t
         |  WHERE p.vec_id < 10 AND n.vec_id <> p.vec_id
         |    AND p.bkts[t.range] = n.bkts[t.range]),
         |lsh AS (
         |  SELECT probe_id, neighbor_id AS lsh_id FROM (
         |    SELECT c.probe_id, c.neighbor_id,
         |           row_number() OVER (PARTITION BY c.probe_id
         |             ORDER BY round($cosAB, 6) DESC, c.neighbor_id ASC) AS rn
         |    FROM cand c
         |    JOIN embeddings a ON a.vec_id = c.probe_id
         |    JOIN embeddings b ON b.vec_id = c.neighbor_id)
         |  WHERE rn <= 5)
         |SELECT exact.probe_id, count(*) AS k,
         |       CAST(sum(CASE WHEN lsh_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_hit,
         |       round(CAST(sum(CASE WHEN lsh_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS DOUBLE) / count(*), 4) AS recall
         |FROM exact LEFT JOIN lsh
         |  ON exact.probe_id = lsh.probe_id
         |  AND exact.neighbor_id = lsh.lsh_id
         |GROUP BY exact.probe_id ORDER BY exact.probe_id""".stripMargin
    },

    // identical recurrence: v0 = 1/8 each, per-row dots are index-order
    // folds, v rounds to 9 dp per iteration
    "q_pca_power" ->
      s"""WITH xd AS (
         |  SELECT vec_id, d.i - 1 AS dim,
         |         CAST(embedding[d.i] AS DOUBLE) AS x
         |  FROM embeddings, unnest(range(1, 65)) AS d(i)),
         |v0 AS (SELECT list_transform(range(1, 65),
         |         i -> CAST(0.125 AS DOUBLE)) AS v),
         |${pcaRound(1, "v0")},
         |${pcaRound(2, "v1")},
         |${pcaRound(3, "v2")},
         |lam AS (
         |  SELECT round(sum(y * y), 2) AS eigenvalue FROM (
         |    SELECT ${pcaDot("v3.v[i]")} AS y
         |    FROM embeddings e CROSS JOIN v3))
         |SELECT d.i - 1 AS dim, round(v3.v[d.i], 6) AS loading, eigenvalue
         |FROM v3, unnest(range(1, 65)) AS d(i), lam
         |ORDER BY dim""".stripMargin,

    // DuckDB log() is log10 — ln() here, matching Spark's natural log
    "q_rank_fusion" ->
      s"""WITH tok AS (
         |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
         |  FROM documents WHERE length(trim(text)) > 0),
         |dl AS (SELECT doc_id, len(w) AS dl FROM tok),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |                 avg(dl) AS avgdl FROM dl),
         |tf AS (
         |  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
         |  FROM (SELECT doc_id, unnest(w) AS t FROM tok)
         |  WHERE t IN ('spark', 'join', 'vector')
         |  GROUP BY doc_id, t),
         |df AS (SELECT t, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
         |       FROM tf GROUP BY t),
         |bm AS (
         |  SELECT tf.doc_id AS doc_id,
         |         round(sum(
         |           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
         |           (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
         |  FROM tf JOIN df ON tf.t = df.t
         |       JOIN dl ON tf.doc_id = dl.doc_id
         |       CROSS JOIN stats
         |  GROUP BY tf.doc_id),
         |lex AS (
         |  SELECT doc_id, rank_lex FROM (
         |    SELECT doc_id, row_number() OVER
         |      (ORDER BY bm25 DESC, doc_id ASC) AS rank_lex FROM bm)
         |  WHERE rank_lex <= 20),
         |sem AS (
         |  SELECT doc_id, rank_sem FROM (
         |    SELECT b.vec_id AS doc_id, row_number() OVER
         |      (ORDER BY round($cosAB, 6) DESC, b.vec_id ASC) AS rank_sem
         |    FROM embeddings a, embeddings b
         |    WHERE a.vec_id = 0 AND b.vec_id <> 0)
         |  WHERE rank_sem <= 20),
         |fused AS (
         |  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         |         rank_lex, rank_sem,
         |         coalesce(CAST(1 AS DOUBLE) / (60 + rank_lex),
         |                  CAST(0 AS DOUBLE)) +
         |         coalesce(CAST(1 AS DOUBLE) / (60 + rank_sem),
         |                  CAST(0 AS DOUBLE)) AS rrf
         |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
         |SELECT doc_id, rank_lex, rank_sem, round(rrf, 6) AS rrf
         |FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10)
         |ORDER BY rrf DESC, doc_id ASC""".stripMargin
  )

  /** Shared DuckDB CTE chain replicating [[adcDistances]] + the ranked `r`
    * relation (probe_id, neighbor_id, adist, rn). Builds on [[pqSubCtes]].
    */
  private lazy val adcCtes: String = {
    val l2 = VectorExprs.l2DistSqSql _
    val luts = (0 until 4).map { mi =>
      val lo = mi * 16 + 1; val hi = mi * 16 + 16
      s"""lut$mi AS (SELECT p.probe_id, $mi AS m, c.cid,
         |                  ${l2(s"p.vd[$lo:$hi]", "c.cvec", 16)} AS pdist
         |           FROM p, c1$mi c)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
       |           FROM embeddings),
       |$pqSubCtes,
       |codes AS (SELECT vec_id, m, cid FROM a20 UNION ALL SELECT vec_id, m, cid FROM a21
       |          UNION ALL SELECT vec_id, m, cid FROM a22
       |          UNION ALL SELECT vec_id, m, cid FROM a23),
       |p AS (SELECT vec_id AS probe_id, vd FROM e WHERE vec_id < 10),
       |$luts,
       |lut AS (SELECT * FROM lut0 UNION ALL SELECT * FROM lut1
       |        UNION ALL SELECT * FROM lut2 UNION ALL SELECT * FROM lut3),
       |ad AS (SELECT l.probe_id, c.vec_id AS neighbor_id,
       |              round(sum(l.pdist), 6) AS adist
       |       FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.cid
       |       WHERE c.vec_id <> l.probe_id
       |       GROUP BY l.probe_id, c.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY adist ASC, neighbor_id ASC) AS rn FROM ad)""".stripMargin
  }

  /** Shared DuckDB CTE chain replicating [[pqAssignmentsFrom]]: per
    * subspace mi, codebook `c1<mi>` and final assignment `a2<mi>`
    * (vec_id, m, cid, dist). Requires an `e(vec_id, vd)` CTE upstream.
    */
  private lazy val pqSubCtes: String = {
    val l2 = VectorExprs.l2DistSqSql _
    (0 until 4).map { mi =>
      val lo = mi * 16 + 1; val hi = mi * 16 + 16
      s"""sv$mi AS (SELECT vec_id, vd[$lo:$hi] AS sv FROM e),
         |i$mi AS (SELECT CAST(vec_id AS INTEGER) AS cid, sv AS cvec
         |         FROM sv$mi WHERE vec_id < 8),
         |d1$mi AS (SELECT s.vec_id, s.sv, i.cid, ${l2("s.sv", "i.cvec", 16)} AS dist
         |          FROM sv$mi s, i$mi i),
         |a1$mi AS (SELECT vec_id, sv, cid FROM (
         |            SELECT *, row_number() OVER (PARTITION BY vec_id
         |                      ORDER BY dist ASC, cid ASC) AS rn FROM d1$mi)
         |          WHERE rn = 1),
         |cd$mi AS (SELECT cid, d.range AS dim, round(avg(sv[d.range]), 6) AS cv
         |          FROM a1$mi, range(1, 17) d GROUP BY cid, d.range),
         |c1$mi AS (SELECT cid, list(cv ORDER BY dim) AS cvec FROM cd$mi GROUP BY cid),
         |d2$mi AS (SELECT s.vec_id, s.sv, c.cid, ${l2("s.sv", "c.cvec", 16)} AS dist
         |          FROM sv$mi s, c1$mi c),
         |a2$mi AS (SELECT vec_id, $mi AS m, cid, dist FROM (
         |            SELECT *, row_number() OVER (PARTITION BY vec_id
         |                      ORDER BY dist ASC, cid ASC) AS rn FROM d2$mi)
         |          WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
  }
}
