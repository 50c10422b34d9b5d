package graft.queries

import graft.operators.Persisted._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph operators over relationship tables — the iterative-propagation
  * family beyond the connected-components loop in [[DedupOps]].
  *
  * Scale notes: PageRank's per-iteration work is ONE shuffle join of the
  * degree-annotated edge list against the current rank vector (both keyed
  * on the fine src node id) plus one map-side-combined groupBy on dst.
  * Nothing is broadcast — at 100 TB both the edge list and the rank
  * vector are corpus-sized, so the join must shuffle on the node key and
  * AQE handles any hub skew. The edge list is persisted once (it is
  * re-joined every iteration); the iteration count is fixed, so the whole
  * computation is one declarative plan with no driver-side convergence
  * action. Per-iteration ranks are rounded to 9 dp on BOTH engines —
  * this resets cross-engine FP summation drift at each step, the same
  * determinism device as the cluster-loop checksum in DedupOps.
  */
object GraphOps {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ---- PageRank (3 fixed iterations, d = 0.85) over the bipartite
    //      part↔supplier graph from lineitem's distinct supply pairs.
    //      Node encoding keeps the two id spaces disjoint: parts at
    //      2·partkey, suppliers at 2·suppkey+1. The symmetric edge set
    //      guarantees outdeg ≥ 1 everywhere, so there is no dangling-mass
    //      term and the per-iteration recurrence is exactly
    //        pr'(v) = 0.15/N + 0.85 · Σ_{u→v} pr(u)/outdeg(u).
    //      Reference analog: composition of the reference's aggregate
    //      relation (/root/reference/src/execution/aggregate.rs) over its
    //      scan/filter pipeline — the recurrence itself is public
    //      PageRank, expressed as repeated join+aggregate ----
    "q_pagerank" -> ((s, d) => {
      // symmetric edges come from ONE pass over the deduped pairs — an
      // explode of the two directed halves per supply pair (a self-union
      // would scan the pair set twice per job); degrees annotate the edge
      // list with a window count over the SAME src shuffle the iteration
      // joins need, so no separate degree join runs
      val edges = Tables(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .select(explode(array(
          struct((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst")),
          struct((col("l_suppkey") * 2 + 1).as("src"),
            (col("l_partkey") * 2).as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
      // degree-annotated edges are what every iteration re-joins: persist
      // them once; the rank vector is the only thing that changes. The
      // src-keyed window partitioning is preserved by the cache, so each
      // iteration exchanges only the rank vector, not the edge list
      val ew = edges
        .withColumn("outdeg",
          count(lit(1)).over(Window.partitionBy(col("src"))))
        .persistTracked()
      val deg = ew.select(col("src")).distinct()
      // N rides along as a 1-row broadcast (every node appears as src in
      // the symmetric edge set) — NO driver-side count() action: the whole
      // recurrence is one declarative plan, so nothing blocks on a driver
      // round-trip per benched pass. r16 opt: localCheckpoint the 1-row
      // frame — each iteration's broadcast build otherwise re-ran the
      // distinct+count over the cached edge list (4 executions per query)
      // lazy: the round-1 broadcast build materializes it (and the mark
      // caches it there), so later rounds still reuse blocks — one fewer
      // job than the eager form, same no-recompute guarantee
      val nRow = deg.agg(count(lit(1)).as("nn")).localCheckpoint(false)
      var pr = deg.crossJoin(broadcast(nRow))
        .select(col("src").as("node"),
          (lit(1.0) / col("nn").cast("double")).as("pr"))
      for (_ <- 1 to 3) {
        // localCheckpoint per iteration (the DedupOps cluster-loop device):
        // without it iteration k's plan CONTAINS iterations 1..k−1, and the
        // planner re-materializes that whole chain every time it broadcasts
        // or exchanges the rank side — measured 3× the per-iteration work
        // at 3 rounds, growing quadratically with iteration count.
        // r17: LAZY (eager=false) — the Catalyst plan is truncated either
        // way, but eager ran one scheduled job per round at DataFrame-
        // construction time; lazy folds all rounds into the single final
        // job as chained stages (the marked RDDs still cache on first
        // computation, so the per-round broadcast build of nRow cannot
        // re-run earlier rounds). Loops whose round derives a scalar
        // broadcast FROM the loop frame (q_hits) are lazy too: the
        // max-broadcast build is the first action on the marked frame, so
        // the mark caches it there and the join consumer reads its blocks.
        pr = ew.join(pr, ew("src") === pr("node"))
          .groupBy(col("dst"))
          .agg(sum(col("pr") / col("outdeg")).as("m"))
          .crossJoin(broadcast(nRow))
          .select(col("dst").as("node"),
            round(lit(0.15) / col("nn").cast("double") +
              lit(0.85) * col("m"), 9).as("pr"))
          .localCheckpoint(false)
      }
      pr.select(col("node"),
          when(col("node") % 2 === 0, lit("part")).otherwise(lit("supplier"))
            .as("kind"),
          expr("node div 2").as("key"), col("pr"))
        .orderBy("node")
    }),

    // ---- HITS hubs & authorities (Kleinberg; 3 fixed iterations) over
    //      the DIRECTED supplier→part supply edges — the two-sided fixed
    //      point the one-vector family (q_pagerank / q_ppr) doesn't
    //      cover: hub(s) = Σ auth(p) over parts s supplies, auth(p) =
    //      Σ hub(s) over its suppliers, each side L∞-normalized (divide
    //      by the max — a 1-ROW broadcast, like pagerank's N) and
    //      rounded to 9 dp per iteration (the repo's cross-engine FP
    //      reset device). Per-iteration plan: one shuffle join of the
    //      persisted edge list against the current vector + one
    //      map-side-combined groupBy — the vector is the only thing that
    //      moves; localCheckpoint truncates the growing plan. At 100 TB
    //      both sides are corpus-sized and shuffle on the fine node key;
    //      nothing corpus-sized is ever broadcast ----
    "q_hits" -> ((s, d) => {
      val e = Tables(s, d, "lineitem")
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .distinct()
        .persistTracked()
      var hub = e.select(col("sk")).distinct()
        .select(col("sk"), lit(1.0).as("h"))
      var auth: DataFrame = null
      for (_ <- 1 to 3) {
        // r16 opt: checkpoint the raw per-side aggregate BEFORE deriving
        // its max — the L∞ broadcast's build is a separate job, and an
        // uncached `ar` made it re-run the edge⋈vector join + groupBy a
        // SECOND time per half-iteration (plan sharing without
        // materialization recomputes in Spark; 12 joins → 6 per query).
        // r17: LAZY mark — the max-broadcast build is the first action
        // and the mark caches `ar` right there, so the join consumer
        // still reads blocks (no recompute) while the eager form's extra
        // construction-time job per half-iteration disappears
        val ar = e.join(hub, "sk")
          .groupBy(col("pk")).agg(sum(col("h")).as("ar"))
          .localCheckpoint(false)
        val amax = ar.agg(max(col("ar")).as("am"))
        auth = ar.crossJoin(broadcast(amax))
          .select(col("pk"), round(col("ar") / col("am"), 9).as("a"))
        val hr = e.join(auth, "pk")
          .groupBy(col("sk")).agg(sum(col("a")).as("hr"))
          .localCheckpoint(false)
        val hmax = hr.agg(max(col("hr")).as("hm"))
        hub = hr.crossJoin(broadcast(hmax))
          .select(col("sk"), round(col("hr") / col("hm"), 9).as("h"))
      }
      hub.select(lit("supplier").as("kind"), col("sk").as("key"),
          col("h").as("score"))
        .unionByName(auth.select(lit("part").as("kind"),
          col("pk").as("key"), col("a").as("score")))
        .orderBy("kind", "key")
    }),

    // ---- label-propagation communities (3 synchronous rounds, fully
    //      deterministic): every node starts as its own label; each round
    //      adopts the most frequent label among neighbors, ties broken by
    //      MIN label — the (count desc, label asc) rank makes the update
    //      a pure function of the graph, unlike classic async LPA whose
    //      result depends on visit order. Complements q_modularity (which
    //      SCORES a given partition) with the partition-FINDING step.
    //      Scale shape per round: one dst-keyed shuffle join moving only
    //      the label vector (edges persisted once), a (src,label)
    //      fine-key count, and a per-node rank-1 window — same budget as
    //      a PageRank round; localCheckpoint kills plan growth ----
    "q_label_prop" -> ((s, d) => {
      val edges = Tables(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .select(explode(array(
          struct((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst")),
          struct((col("l_suppkey") * 2 + 1).as("src"),
            (col("l_partkey") * 2).as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst")).persistTracked()
      var lbl = edges.select(col("src").as("v")).distinct()
        .select(col("v"), col("v").as("lbl"))
      for (_ <- 1 to 3) {
        // adoption = max_by over (count, −label): lexicographic struct
        // order gives most-frequent-then-min-label — the same rank-1 the
        // window formulation picks, but as a map-side-combinable
        // aggregate: no per-node sort, and the second agg rides the
        // (src)-prefix of the first's (src,lbl) shuffle
        lbl = edges.join(lbl, edges("dst") === lbl("v"))
          .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("src"))
          .agg(max_by(col("lbl"), struct(col("c"), (-col("lbl")).as("nl")))
            .as("lbl"))
          .select(col("src").as("v"), col("lbl"))
          .localCheckpoint(false)
      }
      lbl.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("v") % 2 === 0, 1L).otherwise(0L)).as("n_parts"),
          sum(when(col("v") % 2 === 1, 1L).otherwise(0L)).as("n_suppliers"))
        .orderBy("community")
    }),

    // ---- degree assortativity (Newman 2002): the Pearson correlation of
    //      endpoint degrees over edges — positive r = hubs attach to hubs
    //      (social-like), negative = hubs attach to leaves (bipartite
    //      supply graphs, as here). The number says which iterative-
    //      algorithm skew defenses matter: disassortative graphs
    //      concentrate join fan-in on hub partitions. Moments Σx, Σy,
    //      Σxy, Σx², Σy² accumulate as EXACT integers in decimal(38,0)
    //      (the q_trend closed-form discipline — co-moment update order
    //      differs across engines, exact moments don't); ONE final double
    //      expression computes r. Degrees ride a broadcast census; the
    //      moment agg is map-side combined ----
    "q_assortativity" -> ((s, d) => {
      val edges = Tables(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .select(explode(array(
          struct((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst")),
          struct((col("l_suppkey") * 2 + 1).as("src"),
            (col("l_partkey") * 2).as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst")).persistTracked()
      val deg = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
      val xy = edges
        .join(broadcast(deg.select(col("v").as("src"), col("deg").as("x"))),
          "src")
        .join(broadcast(deg.select(col("v").as("dst"), col("deg").as("y"))),
          "dst")
        .select(col("x").cast("decimal(38,0)").as("x"),
          col("y").cast("decimal(38,0)").as("y"))
      xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n").as("n_edges"), round(
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
              (col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("assortativity"))
    }),

    // ---- degree-distribution histogram (log₂ bins): the diagnostic run
    //      BEFORE an iterative graph algorithm — a heavy-tailed histogram
    //      says the rank join needs AQE skew handling, a flat one says
    //      plain shuffles suffice. Bin = floor(log₂ deg) computed as
    //      length(bin(deg)) − 1: pure integer/string arithmetic, because
    //      libm log2 of an exact power of two rounds DIFFERENTLY across
    //      engines (JVM log(8)/log(2) = 2.9999…96) and floor() would
    //      amplify that ulp into an off-by-one bin ----
    "q_degree_hist" -> ((s, d) => {
      val pairs = Tables(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val fwd = pairs.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val deg = fwd.unionByName(
          fwd.select(col("dst").as("src"), col("src").as("dst")))
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      deg.select(col("deg"), (length(bin(col("deg"))) - 1).as("deg_bin"))
        .groupBy(col("deg_bin"))
        .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
          max(col("deg")).as("max_deg"))
        .orderBy("deg_bin")
    }),

    // ---- hierarchical subtree rollup (the BOM/category-tree aggregation):
    //      parts form an implicit tree — parent(p) = p div 10 — and each
    //      node wants its SUBTREE's total price. The recursive-CTE closure
    //      (node, ancestor) is replaced by a PER-ROW expansion: a node's
    //      ancestor set is exactly the decimal PREFIXES of its key, so one
    //      explode of ≤6 prefixes per row + one fine-key groupBy computes
    //      every subtree total with ZERO joins and ZERO iterations — for
    //      key-encoded hierarchies the closure never needs the O(depth)
    //      self-join loop a recursive CTE runs (the oracle mirrors the
    //      prefix form; depth is key-length-bounded either way) ----
    "q_hierarchy_rollup" -> ((s, d) =>
      Tables(s, d, "part")
        .select(col("p_partkey"), col("p_retailprice"),
          col("p_partkey").cast("string").as("ks"))
        .select(col("p_retailprice"), explode(expr(
          "transform(sequence(1, length(ks)), " +
            "i -> cast(substring(ks, 1, i) as bigint))")).as("anc"))
        .filter(col("anc") < 100)
        .groupBy(col("anc"))
        .agg(count(lit(1)).as("n_desc"),
          ExactMoney.sum2(col("p_retailprice")).as("subtree_price"))
        .orderBy("anc")),

    // ---- k-core peeling (k = 20, 3 fixed rounds) over the symmetric
    //      part↔supplier graph: each round drops nodes whose CURRENT
    //      degree is < k, then the edges incident to them — the standard
    //      community/noise-trimming pre-pass. Each round is one
    //      map-side-combined degree census + two semi joins on the fine
    //      node key, localCheckpoint per round (the PageRank device);
    //      output is the surviving-degree census per side, so the result
    //      is 2 rows at any graph scale ----
    "q_kcore" -> ((s, d) => {
      val K = 20
      val pairs = Tables(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      var edges = pairs.select(explode(array(
          struct((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst")),
          struct((col("l_suppkey") * 2 + 1).as("src"),
            (col("l_partkey") * 2).as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst")).localCheckpoint()
      for (_ <- 1 to 3) {
        val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= K).select(col("src").as("node"))
        edges = edges
          .join(keep, col("src") === col("node"), "left_semi")
          .join(keep.select(col("node").as("dnode")),
            col("dst") === col("dnode"), "left_semi")
          .localCheckpoint(false)
      }
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .groupBy(when(col("src") % 2 === 0, lit("part"))
          .otherwise(lit("supplier")).as("kind"))
        .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
          max(col("deg")).as("max_deg"))
        .orderBy("kind")
    }),

    // ---- multi-hop BFS reachability (min-hop labels) from a seed set
    //      over the same symmetric part↔supplier graph PageRank walks:
    //      3 rounds of frontier ⋈ edges + min-hop merge, localCheckpoint
    //      per round (the PageRank device — without it round k replans
    //      rounds 1..k−1). Each round is ONE shuffle join on the fine src
    //      key + one map-side-combined min; the reachable set is output
    //      as a (hop, kind) census, so the result is census-sized at any
    //      graph scale ----
    "q_bfs_hops" -> ((s, d) => {
      val pairs = Tables(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val edges = pairs.select(explode(array(
          struct((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst")),
          struct((col("l_suppkey") * 2 + 1).as("src"),
            (col("l_partkey") * 2).as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst")).persistTracked()
      // seeds: suppliers 1 and 2 (nodes 3 and 5)
      var reach = edges.select(col("src").as("node")).distinct()
        .filter(col("node").isin(3L, 5L))
        .withColumn("hop", lit(0L))
      for (i <- 1 to 3) {
        reach = reach
          .join(edges, col("node") === col("src"))
          .select(col("dst").as("node"), lit(i.toLong).as("hop"))
          .unionByName(reach)
          .groupBy(col("node")).agg(min(col("hop")).as("hop"))
          .localCheckpoint(false)
      }
      reach
        .groupBy(col("hop"),
          when(col("node") % 2 === 0, lit("part")).otherwise(lit("supplier"))
            .as("kind"))
        .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
          max(col("node")).as("max_node"))
        .orderBy("hop", "kind")
    }),

    // ---- personalized PageRank from a 2-supplier seed set — the
    //      retrieval/recommendation primitive (random walk with restart):
    //      r ← 0.85·Mᵀr + 0.15·s, 3 iterations, s uniform on the seeds.
    //      Unlike global PageRank the rank vector stays SPARSE — it only
    //      ever holds nodes within k hops of the seeds (the BFS frontier),
    //      so at 100 TB the per-iteration join exchanges a frontier-sized
    //      vector against the cached degree-annotated edges, never a
    //      |V|-sized one. The restart mass enters as a 2-row UNION before
    //      the node re-aggregation (NOT a post-join CASE — a bipartite
    //      seed receives no propagated mass on odd iterations and would
    //      silently drop out of a join-only formulation); per-iteration
    //      9dp rounding keeps both engines bit-identical, the q_pagerank
    //      discipline ----
    // ---- deterministic random walks (DeepWalk/node2vec sampling, the
    //      corpus generator for graph embeddings): 4-step walks from the
    //      five lowest part nodes over the bipartite part↔supplier
    //      graph. The "coin flip" is the repo LCG over (cur, candidate,
    //      step) — reproducible across engines, runs and partitionings —
    //      and the hop is the hash-argmin over the current node's
    //      out-neighbors. Scale: the frontier is walker-sized (at web
    //      scale, millions of walkers — still ONE equi-join per step
    //      against the persisted edge list, never a broadcast of the
    //      graph); the per-walker argmin window is outdeg-bounded. The
    //      LCG key is reduced mod P before the multiply (repo-wide wrap
    //      rule) so intermediates stay < 2⁶² at any node-id scale ----
    "q_random_walk" -> ((s, d) => {
      val P = 2147483647L
      val edges = Tables(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .select(explode(array(
          struct((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst")),
          struct((col("l_suppkey") * 2 + 1).as("src"),
            (col("l_partkey") * 2).as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .persistTracked()
      var walk = edges.select(col("src")).distinct()
        .filter(col("src") % 2 === 0 && col("src") <= 10)
        .select(col("src").as("seed"), col("src").as("cur"))
      var out = walk.select(col("seed"), lit(0L).as("step"),
        col("cur").as("node"))
      for (st <- 1 to 4) {
        val h = pmod(pmod(col("cur"), lit(P)) * 1103515245L +
          col("dst") * 69069L + lit(st.toLong * 12345L), lit(P))
        val w = Window.partitionBy(col("seed"))
          .orderBy(col("h").asc, col("dst").asc)
        walk = walk.join(edges, col("cur") === col("src"))
          .select(col("seed"), col("dst"), h.as("h"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("seed"), col("dst").as("cur"))
        out = out.unionByName(walk.select(col("seed"),
          lit(st.toLong).as("step"), col("cur").as("node")))
      }
      out.orderBy("seed", "step")
    }),

    "q_ppr" -> ((s, d) => {
      val edges = Tables(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .select(explode(array(
          struct((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst")),
          struct((col("l_suppkey") * 2 + 1).as("src"),
            (col("l_partkey") * 2).as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
      val ew = edges
        .withColumn("outdeg",
          count(lit(1)).over(Window.partitionBy(col("src"))))
        .persistTracked()
      val seeds = s.range(1).select(
        explode(array(lit(3L), lit(5L))).as("node"),
        lit(0.5).as("w"))
      var pr = seeds.select(col("node"), col("w").as("pr"))
      for (_ <- 1 to 3) {
        pr = ew.join(pr, ew("src") === pr("node"))
          .groupBy(col("dst"))
          .agg(sum(col("pr") / col("outdeg")).as("m"))
          .select(col("dst").as("node"), (lit(0.85) * col("m")).as("c"))
          .unionByName(seeds.select(col("node"), (lit(0.15) * col("w")).as("c")))
          .groupBy(col("node"))
          .agg(round(sum(col("c")), 9).as("pr"))
          .localCheckpoint(false)
      }
      pr.select(col("node"),
          when(col("node") % 2 === 0, lit("part")).otherwise(lit("supplier"))
            .as("kind"),
          expr("node div 2").as("key"), col("pr"))
        .orderBy(col("pr").desc, col("node").asc)
        .limit(20)
    }),

    // ---- link prediction over the bipartite projection (the classic
    //      common-neighbors / neighborhood-Jaccard scorer): two suppliers
    //      sharing many parts are substitution candidates — score every
    //      co-supplying pair by |Γ(a)∩Γ(b)| and Jaccard of part
    //      neighborhoods, report the top 20. ALL-INTEGER (counts + bp
    //      floor division); the top-k cut orders on the unique (common,
    //      s_a, s_b) triple so the limit boundary is deterministic.
    //      Scale: the wedge self-join keys on the PART id (fine keys) and
    //      applies the same df stop-cut as the dedup family — a part
    //      supplied by > LinkDfCap suppliers is dropped BEFORE the join
    //      (a universal supplier carries no affinity signal and would
    //      emit O(df²) wedge rows from one hot key); degree joins key on
    //      fine supplier ids; output is top-k (TakeOrdered), never a
    //      global sort ----
    "q_link_predict" -> ((s, d) => {
      val e = Tables(s, d, "lineitem")
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("p"))
        .distinct().persistTracked()
      // ONE p-keyed exchange for cut + bucket: the window count shares the
      // groupBy's hash shuffle (the cappedBuckets device), the df filter
      // runs BEFORE collect_set so no buffer ever exceeds LinkDfCap rows,
      // and pairs explode from the bucket array — no second shuffle of e
      // for a self-join
      val withCnt = e.withColumn("pdf",
        count(lit(1)).over(Window.partitionBy(col("p"))))
        .filter(col("pdf") >= 2 && col("pdf") <= LinkDfCap)
      val bkt = withCnt.groupBy(col("p"))
        .agg(sort_array(collect_set(col("sk"))).as("bucket"))
      val pairs = bkt
        .select(explode(DedupOps.pairsFromBucket(col("bucket"))).as("pr"))
        .select(col("pr.doc_a").as("s_a"), col("pr.doc_b").as("s_b"))
        .groupBy(col("s_a"), col("s_b")).agg(count(lit(1)).as("common"))
      // degree census is supplier-cardinality (dim-sized, the
      // q_copurchase_rules supp bound): AQE reads its measured size and
      // broadcasts it, or shuffles on the fine supplier key when a bigger
      // catalog outgrows the threshold. The persist lets both renamed
      // reads share one aggregation
      val deg = e.groupBy(col("sk")).agg(count(lit(1)).as("deg"))
        .persistTracked()
      pairs
        .join(deg.select(col("sk").as("s_a"), col("deg").as("da")), "s_a")
        .join(deg.select(col("sk").as("s_b"), col("deg").as("db")), "s_b")
        .select(col("s_a"), col("s_b"), col("common").as("common_parts"),
          expr("(common * 10000) div (da + db - common)").as("jaccard_bp"))
        .orderBy(col("common_parts").desc, col("s_a").asc, col("s_b").asc)
        .limit(20)
    })
  )

  /** Max suppliers per part admitted to the link-prediction wedge join —
    * the [[DedupOps.WinnowDfCap]] stop-cut applied to graph projection:
    * bounds any one part key's wedge output at cap²/2 rows. Mirrored in
    * the oracle, so the gate stays exact.
    */
  val LinkDfCap = 64

  val oracles: Map[String, String] = Map(
    // identical LCG hop selection, unrolled step CTEs
    "q_random_walk" -> {
      val steps = (1 to 4).map { st =>
        val prev = if (st == 1) "w0" else s"s${st - 1}"
        s"""s$st AS (
           |  SELECT seed, dst AS cur FROM (
           |    SELECT w.seed, e.dst,
           |           row_number() OVER (PARTITION BY w.seed ORDER BY
           |             ((w.cur % 2147483647) * 1103515245 +
           |              e.dst * 69069 + ${st * 12345}) % 2147483647 ASC,
           |             e.dst ASC) AS rn
           |    FROM $prev w JOIN edges e ON w.cur = e.src)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val rows = (1 to 4).map(st =>
        s"UNION ALL SELECT seed, CAST($st AS BIGINT), cur FROM s$st")
        .mkString("\n")
      s"""WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         |edges AS MATERIALIZED (
         |  SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM pairs
         |  UNION ALL
         |  SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM pairs),
         |w0 AS (SELECT DISTINCT src AS seed, src AS cur FROM edges
         |       WHERE src % 2 = 0 AND src <= 10),
         |$steps
         |SELECT seed, CAST(0 AS BIGINT) AS step, cur AS node FROM w0
         |$rows
         |ORDER BY seed, step""".stripMargin
    },

    // identical two-sided recurrence, unrolled; same L∞ normalization,
    // same 9-dp per-iteration rounding
    "q_hits" ->
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        |h0 AS MATERIALIZED (SELECT DISTINCT sk, 1.0 AS h FROM e),
        |a1r AS MATERIALIZED (
        |  SELECT pk, sum(h) AS ar FROM e JOIN h0 USING (sk) GROUP BY pk),
        |a1 AS MATERIALIZED (
        |  SELECT pk, round(ar / (SELECT max(ar) FROM a1r), 9) AS a FROM a1r),
        |h1r AS MATERIALIZED (
        |  SELECT sk, sum(a) AS hr FROM e JOIN a1 USING (pk) GROUP BY sk),
        |h1 AS MATERIALIZED (
        |  SELECT sk, round(hr / (SELECT max(hr) FROM h1r), 9) AS h FROM h1r),
        |a2r AS MATERIALIZED (
        |  SELECT pk, sum(h) AS ar FROM e JOIN h1 USING (sk) GROUP BY pk),
        |a2 AS MATERIALIZED (
        |  SELECT pk, round(ar / (SELECT max(ar) FROM a2r), 9) AS a FROM a2r),
        |h2r AS MATERIALIZED (
        |  SELECT sk, sum(a) AS hr FROM e JOIN a2 USING (pk) GROUP BY sk),
        |h2 AS MATERIALIZED (
        |  SELECT sk, round(hr / (SELECT max(hr) FROM h2r), 9) AS h FROM h2r),
        |a3r AS MATERIALIZED (
        |  SELECT pk, sum(h) AS ar FROM e JOIN h2 USING (sk) GROUP BY pk),
        |a3 AS MATERIALIZED (
        |  SELECT pk, round(ar / (SELECT max(ar) FROM a3r), 9) AS a FROM a3r),
        |h3r AS MATERIALIZED (
        |  SELECT sk, sum(a) AS hr FROM e JOIN a3 USING (pk) GROUP BY sk),
        |h3 AS MATERIALIZED (
        |  SELECT sk, round(hr / (SELECT max(hr) FROM h3r), 9) AS h FROM h3r)
        |SELECT kind, key, score FROM (
        |  SELECT 'supplier' AS kind, sk AS key, h AS score FROM h3
        |  UNION ALL
        |  SELECT 'part' AS kind, pk AS key, a AS score FROM a3)
        |ORDER BY kind, key""".stripMargin,

    // identical recurrence, identical 9-dp per-iteration rounding; all
    // literals CAST to DOUBLE so DuckDB never routes through DECIMAL
    // same sparse frontier, same 2-row restart union, same 9dp rounding
    "q_ppr" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT l_suppkey*2+1 AS src, l_partkey*2 AS dst FROM pairs),
        |deg AS MATERIALIZED (
        |  SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |sd AS (SELECT * FROM (VALUES (3, 0.5), (5, 0.5)) AS t(node, w)),
        |r0 AS (SELECT CAST(node AS BIGINT) AS node,
        |              CAST(w AS DOUBLE) AS pr FROM sd),
        |r1 AS (SELECT node, round(sum(c), 9) AS pr FROM (
        |         SELECT e.dst AS node,
        |                0.85 * sum(r.pr / deg.outdeg) AS c
        |         FROM e JOIN r0 r ON e.src = r.node
        |                JOIN deg ON e.src = deg.src
        |         GROUP BY e.dst
        |         UNION ALL
        |         SELECT CAST(node AS BIGINT), 0.15 * w FROM sd)
        |       GROUP BY node),
        |r2 AS (SELECT node, round(sum(c), 9) AS pr FROM (
        |         SELECT e.dst AS node,
        |                0.85 * sum(r.pr / deg.outdeg) AS c
        |         FROM e JOIN r1 r ON e.src = r.node
        |                JOIN deg ON e.src = deg.src
        |         GROUP BY e.dst
        |         UNION ALL
        |         SELECT CAST(node AS BIGINT), 0.15 * w FROM sd)
        |       GROUP BY node),
        |r3 AS (SELECT node, round(sum(c), 9) AS pr FROM (
        |         SELECT e.dst AS node,
        |                0.85 * sum(r.pr / deg.outdeg) AS c
        |         FROM e JOIN r2 r ON e.src = r.node
        |                JOIN deg ON e.src = deg.src
        |         GROUP BY e.dst
        |         UNION ALL
        |         SELECT CAST(node AS BIGINT), 0.15 * w FROM sd)
        |       GROUP BY node)
        |SELECT node,
        |       CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
        |       node // 2 AS key, pr
        |FROM r3 ORDER BY pr DESC, node ASC LIMIT 20""".stripMargin,

    "q_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |e AS (
        |  SELECT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT l_suppkey*2+1 AS src, l_partkey*2 AS dst FROM pairs),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM deg),
        |r0 AS (SELECT src AS node,
        |              CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr
        |       FROM deg),
        |r1 AS (SELECT e.dst AS node,
        |              round(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) +
        |                CAST(0.85 AS DOUBLE) * sum(r.pr / deg.outdeg), 9) AS pr
        |       FROM e JOIN r0 r ON e.src = r.node
        |              JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS node,
        |              round(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) +
        |                CAST(0.85 AS DOUBLE) * sum(r.pr / deg.outdeg), 9) AS pr
        |       FROM e JOIN r1 r ON e.src = r.node
        |              JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT e.dst AS node,
        |              round(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) +
        |                CAST(0.85 AS DOUBLE) * sum(r.pr / deg.outdeg), 9) AS pr
        |       FROM e JOIN r2 r ON e.src = r.node
        |              JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst)
        |SELECT node,
        |       CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
        |       node // 2 AS key, pr
        |FROM r3 ORDER BY node""".stripMargin,

    // exact HUGEINT moments (the decimal(38,0) twin), identical final
    // double expression — co-moment streaming updates would NOT match
    "q_assortativity" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |e AS (
        |  SELECT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT l_suppkey*2+1 AS src, l_partkey*2 AS dst FROM pairs),
        |deg AS (SELECT src AS v, count(*) AS deg FROM e GROUP BY src),
        |xy AS (
        |  SELECT dx.deg AS x, dy.deg AS y
        |  FROM e JOIN deg dx ON e.src = dx.v JOIN deg dy ON e.dst = dy.v),
        |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx,
        |             sum(y * y) AS syy
        |      FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_edges,
        |       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
        |             6) AS assortativity
        |FROM m""".stripMargin,

    // 3 unrolled synchronous rounds; QUALIFY rank-1 is the deterministic
    // (count desc, label asc) adoption rule
    "q_label_prop" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |e AS (
        |  SELECT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT l_suppkey*2+1 AS src, l_partkey*2 AS dst FROM pairs),
        |l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM e),
        |l1 AS (SELECT e.src AS v, l.lbl
        |       FROM e JOIN l0 l ON e.dst = l.v
        |       GROUP BY e.src, l.lbl
        |       QUALIFY row_number() OVER (PARTITION BY e.src
        |                 ORDER BY count(*) DESC, l.lbl) = 1),
        |l2 AS (SELECT e.src AS v, l.lbl
        |       FROM e JOIN l1 l ON e.dst = l.v
        |       GROUP BY e.src, l.lbl
        |       QUALIFY row_number() OVER (PARTITION BY e.src
        |                 ORDER BY count(*) DESC, l.lbl) = 1),
        |l3 AS (SELECT e.src AS v, l.lbl
        |       FROM e JOIN l2 l ON e.dst = l.v
        |       GROUP BY e.src, l.lbl
        |       QUALIFY row_number() OVER (PARTITION BY e.src
        |                 ORDER BY count(*) DESC, l.lbl) = 1)
        |SELECT lbl AS community, count(*) AS n_members,
        |       CAST(sum(CASE WHEN v % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_parts,
        |       CAST(sum(CASE WHEN v % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_suppliers
        |FROM l3 GROUP BY lbl ORDER BY community""".stripMargin,

    "q_degree_hist" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |e AS (
        |  SELECT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT l_suppkey*2+1 AS src, l_partkey*2 AS dst FROM pairs),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)
        |SELECT CAST(length(bin(deg)) - 1 AS INT) AS deg_bin,
        |       count(*) AS n_nodes, min(deg) AS min_deg, max(deg) AS max_deg
        |FROM deg GROUP BY length(bin(deg)) - 1
        |ORDER BY deg_bin""".stripMargin,

    "q_hierarchy_rollup" ->
      """WITH a AS (
        |  SELECT p_retailprice,
        |         CAST(substr(CAST(p_partkey AS VARCHAR), 1,
        |                     CAST(i AS INTEGER)) AS BIGINT) AS anc
        |  FROM part,
        |       unnest(range(1, length(CAST(p_partkey AS VARCHAR)) + 1)) AS r(i))
        |SELECT anc, count(*) AS n_desc,
        |       round(CAST(sum(CAST(round(p_retailprice*100) AS BIGINT))
        |                  AS DOUBLE)/100, 2) AS subtree_price
        |FROM a WHERE anc < 100 GROUP BY anc ORDER BY anc""".stripMargin,

    // 3 peel rounds unrolled; each round recomputes degrees on the
    // current edge set, exactly like the iterative plan
    "q_kcore" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |e0 AS (
        |  SELECT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT l_suppkey*2+1 AS src, l_partkey*2 AS dst FROM pairs),
        |k1 AS (SELECT src AS node FROM e0 GROUP BY src
        |       HAVING count(*) >= 20),
        |e1 AS (SELECT src, dst FROM e0
        |       WHERE src IN (SELECT node FROM k1)
        |         AND dst IN (SELECT node FROM k1)),
        |k2 AS (SELECT src AS node FROM e1 GROUP BY src
        |       HAVING count(*) >= 20),
        |e2 AS (SELECT src, dst FROM e1
        |       WHERE src IN (SELECT node FROM k2)
        |         AND dst IN (SELECT node FROM k2)),
        |k3 AS (SELECT src AS node FROM e2 GROUP BY src
        |       HAVING count(*) >= 20),
        |e3 AS (SELECT src, dst FROM e2
        |       WHERE src IN (SELECT node FROM k3)
        |         AND dst IN (SELECT node FROM k3)),
        |deg AS (SELECT src, count(*) AS deg FROM e3 GROUP BY src)
        |SELECT CASE WHEN src % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
        |       count(*) AS n_nodes, min(deg) AS min_deg, max(deg) AS max_deg
        |FROM deg GROUP BY 1 ORDER BY kind""".stripMargin,

    // same recurrence unrolled as min-hop CTE rounds
    "q_bfs_hops" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |e AS (
        |  SELECT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT l_suppkey*2+1 AS src, l_partkey*2 AS dst FROM pairs),
        |r0 AS (
        |  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS hop FROM e
        |  WHERE src IN (3, 5)),
        |r1 AS (
        |  SELECT node, min(hop) AS hop FROM (
        |    SELECT e.dst AS node, CAST(1 AS BIGINT) AS hop
        |    FROM e JOIN r0 ON e.src = r0.node
        |    UNION ALL SELECT node, hop FROM r0)
        |  GROUP BY node),
        |r2 AS (
        |  SELECT node, min(hop) AS hop FROM (
        |    SELECT e.dst AS node, CAST(2 AS BIGINT) AS hop
        |    FROM e JOIN r1 ON e.src = r1.node
        |    UNION ALL SELECT node, hop FROM r1)
        |  GROUP BY node),
        |r3 AS (
        |  SELECT node, min(hop) AS hop FROM (
        |    SELECT e.dst AS node, CAST(3 AS BIGINT) AS hop
        |    FROM e JOIN r2 ON e.src = r2.node
        |    UNION ALL SELECT node, hop FROM r2)
        |  GROUP BY node)
        |SELECT hop,
        |       CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
        |       count(*) AS n_nodes, min(node) AS min_node,
        |       max(node) AS max_node
        |FROM r3 GROUP BY hop, kind ORDER BY hop, kind""".stripMargin,

    // same df stop-cut, same integer Jaccard, same unique-triple ordering
    "q_link_predict" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS p FROM lineitem),
         |keep AS (SELECT p FROM e GROUP BY p
         |         HAVING count(*) BETWEEN 2 AND $LinkDfCap),
         |ek AS (SELECT e.sk, e.p FROM e JOIN keep USING (p)),
         |deg AS (SELECT sk, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY sk),
         |w AS (SELECT a.sk AS s_a, b.sk AS s_b,
         |             CAST(count(*) AS BIGINT) AS common
         |      FROM ek a JOIN ek b ON a.p = b.p AND a.sk < b.sk
         |      GROUP BY 1, 2)
         |SELECT s_a, s_b, common AS common_parts,
         |       (common * 10000) // (da.d + db.d - common) AS jaccard_bp
         |FROM w JOIN deg da ON da.sk = w.s_a JOIN deg db ON db.sk = w.s_b
         |ORDER BY common_parts DESC, s_a, s_b LIMIT 20""".stripMargin
  )
}
