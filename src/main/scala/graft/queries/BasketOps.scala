package graft.queries

import graft.operators.Persisted._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Market-basket analysis over the order→part incidence: association
  * rules (support / confidence / lift), item-item cosine similarity
  * (the collaborative-filtering primitive), and triangle counting on the
  * co-purchase graph.
  *
  * Reference analog: self-join + aggregate compositions of the reference's
  * join machinery (/root/reference/src/execution/hashjoin.rs) — the basket
  * semantics are public association-rule mining (Agrawal et al.) and
  * triangle enumeration (compact-forward, Latapy).
  *
  * Scale notes: the co-purchase pair explosion is bounded per ORDER
  * (Σ |basket|² over orders, baskets are small and bounded by business
  * reality, never by corpus size), so the self-join on l_orderkey is a
  * fine-key shuffle with no hot reducer. Triangle counting orients every
  * edge from its lower-(degree, id) endpoint — the classic device that
  * bounds per-vertex out-degree near √|E|, so the wedge join never
  * explodes on a hub vertex the way the naive id-ordering does.
  */
object BasketOps {
  type Q = (SparkSession, String) => DataFrame

  /** distinct (order, part) incidence — the shared spine. NOT re-keyed on
    * `o` for the pair self-join: the distinct already pays one corpus
    * shuffle on (o, p), and a measured attempt to add repartition(o)
    * before the cache cost MORE than the two o-keyed join exchanges it
    * saved (2.57→2.92 s / 1.96→2.46 s at sf0.1) — unlike the triangle
    * edge cache, whose build ends at broadcast joins and so gains its
    * src-partitioning for one net-new (smaller, 3-column) exchange.
    */
  private def items(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()

  /** undirected co-purchase edges (pa < pb) with co-occurrence counts. */
  private def coEdges(it: DataFrame): DataFrame =
    it.as("a").join(it.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
      .agg(count(lit(1)).as("n_ab"))

  /** q_modularity's and q_conductance's persisted edge set (pa, pb) and
    * its persisted brand pairs (ba, bb), brands attached by broadcast. */
  private def brandEdges(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = coEdges(items(s, d)).select(col("pa"), col("pb")).persistTracked()
    val brand = Tables(s, d, "part").select(col("p_partkey"), col("p_brand"))
    val eb = e
      .join(broadcast(brand.select(col("p_partkey").as("pa"),
        col("p_brand").as("ba"))), "pa")
      .join(broadcast(brand.select(col("p_partkey").as("pb"),
        col("p_brand").as("bb"))), "pb")
      .select(col("ba"), col("bb")).persistTracked()
    (e, eb)
  }

  val queries: Map[String, Q] = Map(
    // ---- association rules: for every co-purchased pair seen ≥2 times,
    //      both directed rules a→b with confidence n_ab/n_a and lift
    //      n_ab·N/(n_a·n_b). Item supports are a part-sized census joined
    //      twice — broadcast BOUND: |supp| = |distinct parts| (catalog
    //      cardinality, ~200k/SF here, 3 small columns), not corpus
    //      cardinality, so it stays broadcastable through ~100× data; a
    //      true billion-item catalog outgrows AQE's broadcast threshold,
    //      and AQE then shuffles on the item key from the measured size.
    //      The order total is a 1-row broadcast. Ranking = top-50 by
    //      lift — IEEE division of exact integers, bit-identical across
    //      engines, so it is safe as an ORDERING key (libm never would
    //      be) ----
    "q_copurchase_rules" -> ((s, d) => {
      // the incidence feeds both sides of the pair self-join plus the
      // support census — without persist each reference re-runs the
      // lineitem scan + distinct
      val it = items(s, d).persistTracked()
      val pairs = coEdges(it).filter(col("n_ab") >= 2)
      // support census, joined plainly: AQE reads its measured size and
      // broadcasts it while it fits, and shuffles on the item key when a
      // bigger catalog does not (PLANS.md §7za). The persist lets both
      // renamed reads share one aggregation
      val supp = it.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
        .persistTracked()
      val tot = it.agg(countDistinct(col("o")).as("n_orders"))
      // both directed rules explode from ONE pass over the pair census —
      // the q_pagerank symmetric-edge device; the prior self-union
      // re-ran the basket self-join + pair groupBy once per branch
      // (r16 opt: 2 executions → 1, no cache needed)
      val directed = pairs.select(explode(array(
          struct(col("pa").as("lhs"), col("pb").as("rhs"), col("n_ab")),
          struct(col("pb").as("lhs"), col("pa").as("rhs"), col("n_ab"))))
          .as("r"))
        .select(col("r.lhs"), col("r.rhs"), col("r.n_ab"))
      directed
        .join(supp.select(col("p").as("lhs"), col("n_p").as("n_lhs")), "lhs")
        .join(supp.select(col("p").as("rhs"), col("n_p").as("n_rhs")), "rhs")
        .crossJoin(broadcast(tot))
        .select(col("lhs"), col("rhs"), col("n_ab"), col("n_lhs"),
          col("n_rhs"),
          (col("n_ab").cast("double") / col("n_lhs")).as("confidence"),
          (col("n_ab").cast("double") * col("n_orders") /
            (col("n_lhs").cast("double") * col("n_rhs"))).as("lift"))
        .orderBy(col("lift").desc, col("lhs").asc, col("rhs").asc)
        .limit(50)
        .select(col("lhs"), col("rhs"), col("n_ab"), col("n_lhs"),
          col("n_rhs"), round(col("confidence"), 4).as("confidence"),
          round(col("lift"), 4).as("lift"))
        // final order on the ROUNDED lift + the unique (lhs, rhs) key:
        // ordering on the exact lift would let two rounded-equal rows
        // swap between engines
        .orderBy(col("lift").desc, col("lhs").asc, col("rhs").asc)
    }),

    // ---- item-item cosine similarity (the collaborative-filtering
    //      primitive): sim(a,b) = n_ab / √(n_a·n_b) over binary basket
    //      vectors — the co-occurrence census reused as a similarity
    //      model. The score is one IEEE sqrt+divide of exact integers,
    //      bit-identical across engines, hence safe to ORDER the top-20
    //      by; supports ride as broadcasts (same item-cardinality bound
    //      as q_copurchase_rules' supp — dim-sized, not corpus-sized) ----
    "q_item_sim" -> ((s, d) => {
      val it = items(s, d).persistTracked()
      val pairs = coEdges(it).filter(col("n_ab") >= 2)
      // the q_copurchase_rules support census: AQE picks the join
      val supp = it.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
        .persistTracked()
      pairs
        .join(supp.select(col("p").as("pa"), col("n_p").as("n_a")), "pa")
        .join(supp.select(col("p").as("pb"), col("n_p").as("n_b")), "pb")
        .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
          (col("n_ab").cast("double") /
            sqrt((col("n_a") * col("n_b")).cast("double"))).as("sim"))
        .orderBy(col("sim").desc, col("pa").asc, col("pb").asc)
        .limit(20)
        .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
          round(col("sim"), 6).as("cosine_sim"))
        .orderBy(col("cosine_sim").desc, col("pa").asc, col("pb").asc)
    }),

    // ---- Newman modularity of the brand partition over the co-purchase
    //      graph (assortativity: do co-purchases concentrate within
    //      brands?). Q = Σ_c [e_c/m − (d_c/2m)²] with e_c = within-
    //      community edges, d_c = degree mass, m = |E|. Per-community
    //      contribution computed as (4·m·e_c − d_c²)/(4m²): the numerator
    //      and denominator are EXACT integers (< 2⁵³, exact in doubles),
    //      so the single final division is deterministic cross-engine.
    //      Brand attachment joins ride as broadcasts (part-dim bound, the
    //      supp convention); m rides as a 1-row broadcast — no driver
    //      action in the plan ----
    "q_modularity" -> ((s, d) => {
      val (e, eb) = brandEdges(s, d)
      val mRow = e.agg(count(lit(1)).as("m"))
      val within = eb.filter(col("ba") === col("bb"))
        .groupBy(col("ba").as("brand")).agg(count(lit(1)).as("e_c"))
      val degs = eb.select(col("ba").as("brand"))
        .unionByName(eb.select(col("bb").as("brand")))
        .groupBy(col("brand")).agg(count(lit(1)).as("d_c"))
      degs.join(within, Seq("brand"), "left")
        .crossJoin(broadcast(mRow))
        .select(col("brand"),
          coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"),
          round((lit(4.0) * col("m") * coalesce(col("e_c"), lit(0L)) -
            col("d_c").cast("double") * col("d_c")) /
            (lit(4.0) * col("m") * col("m")), 9).as("q_contrib"))
        .orderBy("brand")
    }),

    // ---- conductance of the brand partition — q_modularity's companion
    //      census: modularity says whether co-purchases CONCENTRATE within
    //      brands; conductance says how LEAKY each brand's boundary is,
    //      φ(c) = cut(c) / min(vol(c), 2m − vol(c)). Same shared eb frame
    //      (edge set + two dim-bounded brand broadcasts), three map-side-
    //      combined brand-keyed aggregations, m as a 1-row broadcast;
    //      all-integer φ in basis points (floor division) ----
    "q_conductance" -> ((s, d) => {
      val (e, eb) = brandEdges(s, d)
      val mRow = e.agg(count(lit(1)).as("m"))
      val within = eb.filter(col("ba") === col("bb"))
        .groupBy(col("ba").as("brand")).agg(count(lit(1)).as("e_within"))
      val cut = eb.filter(col("ba") =!= col("bb"))
        .select(explode(array(col("ba"), col("bb"))).as("brand"))
        .groupBy(col("brand")).agg(count(lit(1)).as("n_cut"))
      val degs = eb.select(col("ba").as("brand"))
        .unionByName(eb.select(col("bb").as("brand")))
        .groupBy(col("brand")).agg(count(lit(1)).as("vol"))
      degs.join(within, Seq("brand"), "left")
        .join(cut, Seq("brand"), "left")
        .crossJoin(broadcast(mRow))
        .select(col("brand"),
          coalesce(col("e_within"), lit(0L)).as("e_within"),
          coalesce(col("n_cut"), lit(0L)).as("cut_edges"),
          col("vol"),
          // vol == 2m means the brand IS the whole graph: no boundary to
          // leak through, φ = 0 by convention (min-volume side is empty)
          expr("""CASE WHEN least(vol, 2*m - vol) = 0 THEN 0
                 |ELSE (coalesce(n_cut, 0) * 10000)
                 |     div least(vol, 2*m - vol) END""".stripMargin)
            .as("phi_bp"))
        .orderBy("brand")
    }),

    // ---- triangle counting, degree-oriented (compact-forward): every
    //      undirected edge points from its lower-(deg, id) endpoint, so
    //      wedges enumerate from low-degree vertices only and each
    //      triangle materializes exactly once. Two shuffle joins total
    //      (wedge build + closing-edge probe), both on fine vertex keys.
    //      The oracle counts the SAME triangles by the naive id-ordered
    //      definition — proving the orientation rewrite loses nothing ----
    "q_triangles" -> ((s, d) => triangles(s, d)),

    // ---- global clustering coefficient (transitivity): 3·|triangles| /
    //      |wedges| over the co-purchase graph — the one-number summary of
    //      q_triangles' census, with the wedge denominator from the
    //      degree census (Σ C(deg, 2), never enumerated). Rides the same
    //      triangleStream machinery; single-row output at any scale ----
    "q_clustering_coeff" -> ((s, d) => {
      val und = coEdges(items(s, d).persistTracked())
        .select(col("pa"), col("pb")).persistTracked()
      // ONE degree census: triangleStream persists the one it builds for
      // the orientation and returns it, so the wedge denominator below
      // reads the same cache instead of re-aggregating the edge set
      val (tri, deg) = triangleStream(und)
      // all-integer moments: deg·(deg−1) div 2 stays in int64 per vertex
      // and the sums ride decimal(38,0) — no double mantissa anywhere
      val gstats = deg.agg(count(lit(1)).as("n_vertices"),
        expr("cast(sum(cast(deg as decimal(38,0))) div 2 as bigint)")
          .as("n_edges"),
        expr("cast(sum(cast((deg * (deg - 1)) div 2 as decimal(38,0))) as bigint)")
          .as("n_wedges"))
      val triN = tri.agg(count(lit(1)).as("n_triangles"))
      triN.crossJoin(broadcast(gstats))
        .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          expr("""CASE WHEN n_wedges = 0 THEN 0
                 |ELSE (3 * n_triangles * 10000) div n_wedges END"""
            .stripMargin).as("global_cc_bp"))
    })
  )

  /** Closing-edge rows the triangle probe broadcasts (4M ≈ 100 MB of
    * longs); past it the probe is a shuffled hash join on (v, w). */
  private[graft] val TriangleBroadcastMaxEdges = 4000000L

  /** q_triangles' body; tests lower `maxBroadcastEdges` (the
    * [[triangleStream]] probe budget) to force the shuffled probe. */
  private[graft] def triangles(s: SparkSession, d: String,
      maxBroadcastEdges: Long = TriangleBroadcastMaxEdges): DataFrame = {
    val und = coEdges(items(s, d).persistTracked())
      .select(col("pa"), col("pb")).persistTracked()
    val (tri, _) = triangleStream(und, maxBroadcastEdges)
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_tri"))
    // the triangle total is DERIVED from the census — every triangle
    // contributes exactly 3 participant rows, so Σ n_tri = 3·|tri| —
    // instead of re-running the wedge join for a second global count:
    // one wedge join where the pre-round-8 plan paid it twice (plan
    // sharing without materialization recomputes in Spark). The
    // unpartitioned window is bounded: its input is the VERTEX census
    // (catalog cardinality, the same dim-sized bound as the supp
    // broadcasts above), never the corpus-sized wedge stream
    perNode
      .withColumn("total_triangles", expr("sum(n_tri) over () div 3"))
      .orderBy(col("n_tri").desc, col("part").asc)
      .limit(10)
  }

  /** Degree-oriented (compact-forward) triangle enumeration over an
    * undirected PERSISTED edge frame (pa, pb): every edge points from its
    * lower-(deg, id) endpoint, wedges enumerate from low-degree vertices
    * only, each triangle materializes exactly once as (u, v, w). Returns
    * (triangles, persisted degree census) — shared by q_triangles
    * (per-node census) and q_clustering_coeff (count + wedge moments from
    * the returned census, so the edge set aggregates exactly once).
    *
    * Scale notes, measured and kept:
    *  - und feeds the degree census AND the orientation join; dir plays
    *    THREE roles (wedge e1/e2, closing-edge e3) — unpersisted, Spark
    *    re-derives the basket self-join under every role (4× at sf0.1),
    *    so dir is cached pre-partitioned on src and the wedge self-join
    *    runs exchange-free.
    *  - the degree census rides as a BROADCAST on both attachment joins
    *    (vertex-sized), keeping und pipelined out of its cache.
    *  - wedge enumeration stays the pipelined self-join: a measured
    *    round-10 attempt at the q_link_predict bucket device (sorted
    *    neighbor arrays + pair generator, hot vertices >1024 falling back
    *    to this join) was calibration-identical at sf0.1 (norm 25.5 vs
    *    25.6) because the build is not the bottleneck — at sf0.1 the
    *    graph is 1.196M edges / 20k vertices, max outdeg 97 (the
    *    orientation's √2m bound), and the 41M-wedge stream's cost sits in
    *    the closing-edge probe + downstream aggregation both plans share.
    *    The join keeps the smaller memory envelope, so it wins the tie.
    *  - the closing-edge probe is COUNT-GATED (Skew.sizeGatedBroadcast):
    *    broadcast within `maxBroadcastEdges` (default
    *    [[TriangleBroadcastMaxEdges]]), explicit shuffle_hash on (v, w)
    *    past it — the wedge side then pays one exchange instead of every
    *    executor holding an over-threshold relation. AQE alone does not
    *    make this choice: the cached edge set is larger than its default
    *    broadcast threshold, and without the gate the sf0.1 probe became a
    *    sort-merge join at 3× the task time (PLANS.md §7za).
    */
  private def triangleStream(und: DataFrame,
      maxBroadcastEdges: Long = TriangleBroadcastMaxEdges)
      : (DataFrame, DataFrame) = {
    // vertex-sized census, PERSISTED: it feeds both orientation joins here
    // and (for q_clustering_coeff) the wedge-denominator moments — one
    // aggregation over the edge set, read from cache everywhere else
    val deg = und.select(col("pa").as("v"))
      .unionByName(und.select(col("pb").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .persistTracked()
    val dir = und
      .join(broadcast(deg.select(col("v").as("pa"), col("deg").as("da"))), "pa")
      .join(broadcast(deg.select(col("v").as("pb"), col("deg").as("db"))), "pb")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("pa") < col("pb")),
          struct(col("pa").as("src"), col("pb").as("dst"),
            col("db").as("ddst")))
          .otherwise(struct(col("pb").as("src"), col("pa").as("dst"),
            col("da").as("ddst"))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.ddst"))
      .repartition(col("src"))
      .persistTracked()
    val wedge = dir.as("e1").join(dir.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddst") < col("e2.ddst") ||
            (col("e1.ddst") === col("e2.ddst") &&
              col("e1.dst") < col("e2.dst"))))
      .select(col("e1.dst").as("v"), col("e2.dst").as("w"),
        col("e1.src").as("u"))
    val closing = dir.select(col("src").as("c_src"), col("dst").as("c_dst"))
    val probeSide = graft.operators.Skew.sizeGatedBroadcast(
      closing, dir.count(), maxBroadcastEdges)
    val tri = wedge.join(probeSide,
        col("v") === col("c_src") && col("w") === col("c_dst"))
      .select(col("u"), col("v"), col("w"))
    (tri, deg)
  }

  val oracles: Map[String, String] = Map(
    "q_copurchase_rules" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |pairs AS (
        |  SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
        |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
        |  GROUP BY a.p, b.p HAVING count(*) >= 2),
        |supp AS (SELECT p, count(*) AS n_p FROM it GROUP BY p),
        |tot AS (SELECT count(DISTINCT o) AS n_orders FROM it),
        |directed AS (
        |  SELECT pa AS lhs, pb AS rhs, n_ab FROM pairs
        |  UNION ALL
        |  SELECT pb AS lhs, pa AS rhs, n_ab FROM pairs),
        |scored AS (
        |  SELECT lhs, rhs, n_ab, sl.n_p AS n_lhs, sr.n_p AS n_rhs,
        |         CAST(n_ab AS DOUBLE) / sl.n_p AS confidence,
        |         CAST(n_ab AS DOUBLE) * n_orders /
        |           (CAST(sl.n_p AS DOUBLE) * sr.n_p) AS lift
        |  FROM directed
        |  JOIN supp sl ON directed.lhs = sl.p
        |  JOIN supp sr ON directed.rhs = sr.p
        |  CROSS JOIN tot)
        |SELECT lhs, rhs, n_ab, n_lhs, n_rhs,
        |       round(confidence, 4) AS confidence, round(lift, 4) AS lift
        |FROM (SELECT * FROM scored
        |      ORDER BY lift DESC, lhs ASC, rhs ASC LIMIT 50)
        |ORDER BY lift DESC, lhs ASC, rhs ASC""".stripMargin,

    "q_item_sim" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |pairs AS (
        |  SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
        |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
        |  GROUP BY a.p, b.p HAVING count(*) >= 2),
        |supp AS (SELECT p, count(*) AS n_p FROM it GROUP BY p),
        |scored AS (
        |  SELECT pa, pb, n_ab, sa.n_p AS n_a, sb.n_p AS n_b,
        |         CAST(n_ab AS DOUBLE) /
        |           sqrt(CAST(sa.n_p * sb.n_p AS DOUBLE)) AS sim
        |  FROM pairs JOIN supp sa ON pairs.pa = sa.p
        |             JOIN supp sb ON pairs.pb = sb.p)
        |SELECT pa, pb, n_ab, n_a, n_b, round(sim, 6) AS cosine_sim
        |FROM (SELECT * FROM scored
        |      ORDER BY sim DESC, pa ASC, pb ASC LIMIT 20)
        |ORDER BY cosine_sim DESC, pa ASC, pb ASC""".stripMargin,

    // naive id-ordered triangle definition a<b<c — the orientation-free
    // ground truth the compact-forward plan must reproduce
    // same exact-integer numerator/denominator — one final division,
    // rounded 9 dp on both engines
    // same eb frame, same integer φ (floor division), same vol == 2m guard
    "q_conductance" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.p AS pa, b.p AS pb
        |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p),
        |eb AS MATERIALIZED (
        |  SELECT x.p_brand AS ba, y.p_brand AS bb
        |  FROM e JOIN part x ON x.p_partkey = e.pa
        |         JOIN part y ON y.p_partkey = e.pb),
        |m AS (SELECT count(*) AS m FROM e),
        |wc AS (SELECT ba AS brand, count(*) AS e_within
        |       FROM eb WHERE ba = bb GROUP BY ba),
        |ct AS (SELECT brand, count(*) AS n_cut FROM (
        |         SELECT ba AS brand FROM eb WHERE ba <> bb
        |         UNION ALL SELECT bb FROM eb WHERE ba <> bb)
        |       GROUP BY brand),
        |dc AS (SELECT brand, count(*) AS vol FROM (
        |         SELECT ba AS brand FROM eb
        |         UNION ALL SELECT bb FROM eb)
        |       GROUP BY brand)
        |SELECT dc.brand,
        |       CAST(coalesce(e_within, 0) AS BIGINT) AS e_within,
        |       CAST(coalesce(n_cut, 0) AS BIGINT) AS cut_edges,
        |       CAST(vol AS BIGINT) AS vol,
        |       CASE WHEN least(vol, 2*m - vol) = 0 THEN 0
        |            ELSE (coalesce(n_cut, 0) * 10000)
        |                 // least(vol, 2*m - vol) END AS phi_bp
        |FROM dc LEFT JOIN wc USING (brand) LEFT JOIN ct USING (brand)
        |CROSS JOIN m
        |ORDER BY dc.brand""".stripMargin,

    "q_modularity" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.p AS pa, b.p AS pb
        |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p),
        |eb AS (
        |  SELECT x.p_brand AS ba, y.p_brand AS bb
        |  FROM e JOIN part x ON x.p_partkey = e.pa
        |         JOIN part y ON y.p_partkey = e.pb),
        |m AS (SELECT count(*) AS m FROM e),
        |wc AS (SELECT ba AS brand, count(*) AS e_c
        |       FROM eb WHERE ba = bb GROUP BY ba),
        |dc AS (SELECT brand, count(*) AS d_c FROM (
        |         SELECT ba AS brand FROM eb
        |         UNION ALL SELECT bb FROM eb)
        |       GROUP BY brand)
        |SELECT dc.brand,
        |       CAST(coalesce(e_c, 0) AS BIGINT) AS e_c,
        |       CAST(d_c AS BIGINT) AS d_c,
        |       round((4.0 * m * coalesce(e_c, 0) -
        |              CAST(d_c AS DOUBLE) * d_c) / (4.0 * m * m), 9)
        |         AS q_contrib
        |FROM dc LEFT JOIN wc USING (brand) CROSS JOIN m
        |ORDER BY dc.brand""".stripMargin,

    // naive id-ordered triangle count + closed-form wedge census — the
    // same proof shape as q_triangles' oracle
    "q_clustering_coeff" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.p AS pa, b.p AS pb
        |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p),
        |deg AS MATERIALIZED (
        |  SELECT v, count(*) AS dg FROM (
        |    SELECT pa AS v FROM e UNION ALL SELECT pb FROM e)
        |  GROUP BY v),
        |g AS (
        |  SELECT count(*) AS n_vertices,
        |         CAST(sum(dg) // 2 AS BIGINT) AS n_edges,
        |         CAST(sum((dg * (dg - 1)) // 2) AS BIGINT) AS n_wedges
        |  FROM deg),
        |t AS (
        |  SELECT count(*) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e1.pb = e2.pa
        |       JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
        |SELECT n_vertices, n_edges, n_wedges, n_triangles,
        |       CASE WHEN n_wedges = 0 THEN 0
        |            ELSE (3 * n_triangles * 10000) // n_wedges END
        |         AS global_cc_bp
        |FROM g CROSS JOIN t""".stripMargin,

    "q_triangles" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.p AS pa, b.p AS pb
        |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p),
        |tri AS (
        |  SELECT e1.pa AS u, e1.pb AS v, e2.pb AS w
        |  FROM e e1 JOIN e e2 ON e1.pb = e2.pa
        |       JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
        |pn AS (
        |  SELECT part, count(*) AS n_tri FROM (
        |    SELECT u AS part FROM tri
        |    UNION ALL SELECT v FROM tri
        |    UNION ALL SELECT w FROM tri)
        |  GROUP BY part),
        |tot AS (SELECT count(*) AS total_triangles FROM tri)
        |SELECT part, n_tri, total_triangles FROM pn CROSS JOIN tot
        |ORDER BY n_tri DESC, part ASC LIMIT 10""".stripMargin
  )
}
