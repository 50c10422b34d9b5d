package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior invariants for the round-6 analytics additions (TimeSeriesOps /
  * StatsOps / BasketOps / the GraphOps BFS / rank fusion) — each query is
  * value-exact vs the DuckDB oracle; these assert the properties the oracle
  * can't see: conservation laws, dominance completeness, independent
  * brute-force recall, and agreement with Spark's own statistical
  * aggregates.
  */
class AnalyticsSpec extends AnyFunSuite with SparkSpec {

  test("concurrency histogram conserves total session-seconds") {
    // ∫ concurrency dt must equal Σ session durations — the sweep line
    // can neither create nor destroy active time
    val sessSeconds = q("q_sessionize").collect()
      .map(r => r.getAs[Long]("end_s") - r.getAs[Long]("start_s") + 1).sum
    val histSeconds = q("q_max_concurrency").collect()
      .map(r => r.getAs[Long]("level") * r.getAs[Long]("seconds")).sum
    assert(histSeconds == sessSeconds, s"hist=$histSeconds sess=$sessSeconds")
    assert(sessSeconds > 0, "degenerate fixture: no sessions")
  }

  test("session_window merges an event at EXACTLY the gap boundary") {
    // found at sf0.1 (user 511, two events 1800 s apart): Spark's native
    // session_window treats the gap boundary INCLUSIVELY — an event at
    // exactly last + gap still merges; only a strictly greater gap splits.
    // The q_session_window oracle and the manual q_sessionize both model
    // this (break on gap > 1800). Pin the upstream behavior so a Spark
    // version flipping the boundary fails here, not in the driver gate.
    import spark.implicits._
    val df = Seq((1L, 0L), (1L, 1800L), (2L, 0L), (2L, 1801L))
      .toDF("user_id", "secs")
      .withColumn("ts_sec", timestamp_seconds(col("secs")))
    val got = df
      .groupBy(col("user_id"), session_window(col("ts_sec"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 2L), (2L, 1L), (2L, 1L)),
      s"gap-boundary semantics moved: $got")
  }

  test("exact-moment Pearson r agrees with Spark's corr() (scale-invariant)") {
    // correlation is affine-invariant, so corr() on the RAW columns must
    // match the cents/basis-point integer-moment computation to rounding
    val builtin = Tables(spark, sf, "lineitem")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("r"))
      .collect()(0).getAs[Double]("r")
    val exact = q("q_corr_matrix").collect()
      .find(r => r.getAs[String]("x_col") == "quantity" &&
        r.getAs[String]("y_col") == "extendedprice").get
      .getAs[Double]("pearson_r")
    assert(math.abs(builtin - exact) < 2e-4, s"builtin=$builtin exact=$exact")
  }

  test("closed-form trend slope agrees with Spark's regr_slope") {
    val monthly = Tables(spark, sf, "orders")
      .join(Tables(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"),
        col("o_totalprice"))
      .groupBy(col("c_nationkey"), col("m"))
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      .groupBy(col("c_nationkey"))
      .agg(expr("regr_slope(rev, m)").as("slope"))
      .collect().map(r => r.getAs[Int]("c_nationkey") ->
        r.getAs[Double]("slope")).toMap
    val ours = q("q_trend").collect()
    assert(ours.nonEmpty)
    ours.foreach { r =>
      val lib = monthly(r.getAs[Int]("c_nationkey"))
      val got = r.getAs[Double]("slope_per_month")
      assert(math.abs(lib - got) < math.max(1e-3, math.abs(lib) * 1e-6),
        s"nation ${r.get(0)}: regr_slope=$lib exact=$got")
    }
  }

  test("degree-oriented triangle count equals Scala brute force") {
    // independent third engine: materialize the co-purchase edge set and
    // count triangles by adjacency-set intersection on the driver
    val it = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = it.as("a").join(it.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("pa"), col("b.p").as("pb")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val brute = edges.map { case (a, b) =>
      (adj(a) & adj(b)).count(c => c > b)
    }.sum
    val reported = q("q_triangles").collect()
    if (brute == 0) assert(reported.isEmpty)
    else {
      assert(reported.nonEmpty)
      assert(reported.head.getAs[Long]("total_triangles") == brute,
        s"reported=${reported.head.getAs[Long]("total_triangles")} brute=$brute")
    }
  }

  test("BFS hops alternate bipartite sides from the supplier seeds") {
    // part↔supplier edges only cross sides: odd hops land on parts, even
    // hops on suppliers — the graph-parity invariant
    val rows = q("q_bfs_hops").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (hop, kind) = (r.getAs[Long]("hop"), r.getAs[String]("kind"))
      val expected = if (hop % 2 == 1) "part" else "supplier"
      assert(kind == expected, s"hop $hop reached a $kind")
    }
    // min-hop labels: some node must exist at every hop ≤ the last one
    val hops = rows.map(_.getAs[Long]("hop")).distinct.sorted.toList
    assert(hops == (hops.min to hops.max).toList,
      s"gap in hop levels $hops")
  }

  test("skyline is a strict staircase and dominates every other part") {
    val sky = q("q_pareto").collect()
      .map(r => (r.getAs[Double]("p_retailprice"), r.getAs[Int]("p_size")))
    assert(sky.nonEmpty)
    // minimize price / maximize size: along ascending price the skyline's
    // sizes must strictly ASCEND — more money only buys strictly more size
    val byPrice = sky.sortBy(_._1)
    byPrice.sliding(2).foreach {
      case Array((p1, s1), (p2, s2)) if p1 < p2 =>
        assert(s2 > s1, s"staircase violated: ($p1,$s1) then ($p2,$s2)")
      case _ => ()
    }
    // completeness: every part is on the skyline or dominated by a member
    val all = Tables(spark, sf, "part")
      .select(col("p_retailprice"), col("p_size")).collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    val skySet = sky.toSet
    all.filterNot(skySet.contains).foreach { case (p, s) =>
      assert(sky.exists { case (sp, ss) =>
        sp <= p && ss >= s && (sp < p || ss > s)
      }, s"($p,$s) is neither skyline nor dominated")
    }
  }

  test("mutual information is non-negative and cells conserve the census") {
    val rows = q("q_mutual_info").collect()
    val mi = rows.map(_.getAs[Double]("mi_contrib_bits")).sum
    assert(mi >= -1e-9, s"MI must be ≥ 0, got $mi")
    val total = rows.map(_.getAs[Long]("n_xy")).sum
    val nCust = Tables(spark, sf, "customer").count()
    assert(total == nCust, s"cells sum to $total, table has $nCust")
  }

  test("resample grid tiles users × days exactly once, fill never regresses") {
    val rows = q("q_resample_ffill").collect()
    val users = rows.map(_.getAs[Long]("user_id")).distinct
    val days = rows.map(_.getAs[Long]("day")).distinct
    assert(rows.length == users.length * days.length, "grid not a full tiling")
    assert(rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day")))
      .distinct.length == rows.length, "duplicate grid cell")
    // once observed, the carried value must never become null again
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (u, rs) =>
      val vals = rs.sortBy(_.getAs[Long]("day")).map(r =>
        Option(r.getAs[java.lang.Double]("val_ffill")))
      val firstSome = vals.indexWhere(_.isDefined)
      if (firstSome >= 0)
        assert(vals.drop(firstSome).forall(_.isDefined),
          s"user $u: fill regressed to null")
    }
  }

  test("Misra-Gries guarantees hold on an adversarial skewed stream") {
    // 10 000 tokens: one 40% hitter, one 10%, 50 rares at 1% each;
    // k = 5 counters ⇒ threshold n/(k+1) ≈ 1667
    import spark.implicits._
    import graft.functions.HeavyHitters
    val rows = Seq.fill(4000)("hot") ++ Seq.fill(1000)("warm") ++
      (0 until 50).flatMap(i => Seq.fill(100)(s"rare_$i"))
    val truth = rows.groupBy(identity).map { case (t, v) => t -> v.size.toLong }
    val n = rows.size
    // shuffle deterministically so partitions see interleaved order
    val ds = new scala.util.Random(7).shuffle(rows).toDS()
      .repartition(4).select(col("value").as("token"))
    val sketch = ds.agg(HeavyHitters.misraGries(col("token"), 5).as("mg"))
      .select(explode(col("mg")).as(Seq("token", "est")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch.size <= 5, "sketch exceeded its k counters")
    // every supra-threshold item must be present
    truth.filter(_._2 > n / 6).keys.foreach(t =>
      assert(sketch.contains(t), s"guaranteed hitter $t evicted"))
    // estimates undercount by at most n/(k+1)
    sketch.foreach { case (t, est) =>
      val tru = truth(t)
      assert(est <= tru, s"$t overcounted: est=$est true=$tru")
      assert(tru - est <= n / 6 + 1, s"$t bound broken: est=$est true=$tru")
    }
  }

  test("Markov rows are stochastic and the stationary estimate is a distribution") {
    val rows = q("q_markov_chain").collect()
    assert(rows.nonEmpty)
    // every from-state's outgoing probabilities must sum to 1
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (ft, rs) =>
      val tot = rs.map(_.getAs[Double]("p_trans")).sum
      assert(math.abs(tot - 1.0) < 1e-4, s"$ft rows sum to $tot")
    }
    // π₃ is one value per state, non-negative, summing to ~1 (9-dp rounding)
    val pis = rows.map(r => r.getAs[String]("from_type") ->
      r.getAs[Double]("pi_from")).distinct
    assert(pis.map(_._1).distinct.length == pis.length, "π not a function of state")
    assert(pis.forall(_._2 >= 0))
    assert(math.abs(pis.map(_._2).sum - 1.0) < 1e-4)
  }

  test("statistical outputs respect their analytic bounds") {
    // PSI ≥ 0 (a symmetrized KL divergence)
    val psi = q("q_psi_drift").collect()
    assert(psi.length == 10)
    assert(psi.head.getAs[Double]("psi_total") >= -1e-9)
    // KS D ∈ [0, 1]
    val ks = q("q_ks_test").collect().head.getAs[Double]("ks_d")
    assert(ks >= 0.0 && ks <= 1.0)
    // Wilson brackets the point estimate, inside [0, 1]
    q("q_rate_ci").collect().foreach { r =>
      val (lo, p, hi) = (r.getAs[Double]("wilson_lo"),
        r.getAs[Double]("rate"), r.getAs[Double]("wilson_hi"))
      assert(lo <= p && p <= hi && lo >= 0.0 && hi <= 1.0, s"($lo,$p,$hi)")
    }
    // winsorized mean lies within the clip bounds; clipping moves the
    // mean toward the interval
    q("q_winsorized").collect().foreach { r =>
      val (p05, p95) = (r.getAs[Double]("p05"), r.getAs[Double]("p95"))
      val w = r.getAs[Double]("winsorized_mean")
      assert(w >= p05 - 0.01 && w <= p95 + 0.01, s"w=$w outside [$p05,$p95]")
    }
    // EWMA is a convex combination of daily counts — inside their range
    val dailyRange = Tables(spark, sf, "events")
      .select(col("event_type"), expr("unix_timestamp(ts) div 86400").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(min(col("n")).as("lo"), max(col("n")).as("hi"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).toMap
    q("q_ewma").collect().foreach { r =>
      val (lo, hi) = dailyRange(r.getAs[String]("event_type"))
      val e = r.getAs[Double]("ewma")
      assert(e >= lo - 1e-6 && e <= hi + 1e-6, s"ewma $e outside [$lo,$hi]")
    }
    // bootstrap CI is ordered and brackets a plausible region
    val bs = q("q_bootstrap_ci").collect().head
    assert(bs.getAs[Double]("ci_lo") <= bs.getAs[Double]("ci_hi"))
    assert(bs.getAs[Double]("ci_lo") <= bs.getAs[Double]("mean_full") + 50.0)
  }

  test("logistic GD beats random and tracks the majority class") {
    val r = q("q_logreg").collect().head
    val (n, correct) = (r.getAs[Long]("n"), r.getAs[Long]("n_correct"))
    val acc = r.getAs[Double]("accuracy")
    assert(n > 0 && correct <= n)
    assert(math.abs(acc - correct.toDouble / n) < 1e-3)
    val posFrac = Tables(spark, sf, "events")
      .agg(avg((col("event_type") === "purchase").cast("double")).as("p"))
      .collect()(0).getAs[Double]("p")
    val majority = math.max(posFrac, 1 - posFrac)
    // three full-batch steps from w=0 must at least reach the majority
    // baseline (the bias term alone achieves it)
    assert(acc >= majority - 0.02, s"acc=$acc majority=$majority")
  }

  test("pipeline funnel only ever narrows") {
    val rows = q("q_pipeline_funnel").collect()
      .map(r => (r.getAs[Int]("stage"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"))).sortBy(_._1)
    assert(rows.map(_._1).toList == (0 to 6).toList)
    // stages 0..5 are filters: doc and token mass must be non-increasing
    rows.take(6).sliding(2).foreach {
      case Array((s1, d1, t1), (s2, d2, t2)) =>
        assert(d2 <= d1 && t2 <= t1, s"stage $s2 grew vs $s1")
      case _ => ()
    }
    // packing conserves the final token mass and bins by 2048
    val (_, nSeq, finalTok) = rows(6)
    assert(finalTok == rows(5)._3, "packing changed token mass")
    assert(nSeq == finalTok / 2048, "sequence count is not tokens div 2048")
    assert(rows(5)._2 > 0, "funnel emptied the corpus")
  }

  test("Naive Bayes confusion census conserves the corpus") {
    val rows = q("q_naive_bayes").collect()
    val langs = Tables(spark, sf, "documents")
      .select(col("lang")).distinct().collect().map(_.getString(0)).toSet
    val total = rows.map(_.getAs[Long]("n")).sum
    val nDocs = Tables(spark, sf, "documents")
      .filter(length(trim(col("text"))) > 0).count()
    assert(total == nDocs, s"census $total vs $nDocs docs")
    rows.foreach { r =>
      assert(langs.contains(r.getAs[String]("pred_lang")),
        s"predicted unknown lang ${r.get(1)}")
    }
    // some mass must land on the diagonal (the classifier is not a
    // constant misclassifier on its own training data)
    assert(rows.filter(r => r.getString(0) == r.getString(1))
      .map(_.getAs[Long]("n")).sum > 0)
  }

  test("PCA power iteration: unit loading vector, Rayleigh never decreases") {
    val rows = q("q_pca_power").collect()
    assert(rows.length == 64)
    val norm2 = rows.map(r => {
      val v = r.getAs[Double]("loading"); v * v
    }).sum
    assert(math.abs(norm2 - 1.0) < 1e-4, s"|v|² = $norm2")
    val lambda = rows.head.getAs[Double]("eigenvalue")
    assert(lambda > 0)
    // power iteration improves the Rayleigh quotient monotonically, so
    // λ after 3 rounds must dominate the seed direction's quotient
    val seed = Tables(spark, sf, "embeddings")
      .select(expr("aggregate(transform(embedding, x -> cast(x as double))," +
        " 0D, (acc, x) -> acc + x) * 0.125").as("y"))
      .agg(sum(col("y") * col("y")).as("r0")).collect()(0).getAs[Double]("r0")
    assert(lambda >= seed - 1e-6, s"λ=$lambda < seed Rayleigh $seed")
  }

  /** The row_number reference for TopKPerKey: the rows of `df` ranked
    * within `w` up to `k`, with `rn` kept as the last column. TopKRewrite
    * only rewrites a window whose rank column is dropped, so a reference
    * without `rn` would be planned as the heap it is checked against; the
    * plan check pins that it ran as a window. */
  private def windowRef(df: org.apache.spark.sql.DataFrame,
      w: org.apache.spark.sql.expressions.WindowSpec,
      k: Int): Array[org.apache.spark.sql.Row] = {
    val ref = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    val rows = ref.collect()
    val ops = Harness.nodes(ref.queryExecution.executedPlan)
    if (!ops.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]) ||
        ops.exists(_.isInstanceOf[graft.plans.TopKPerKeyExec]))
      fail(s"window reference was not planned as a window:\n${ref.queryExecution.executedPlan}")
    rows
  }

  test("TopKPerKey equals the window formulation on adversarial shapes") {
    import org.apache.spark.sql.expressions.{Window => W}
    val df = spark.range(0, 1000)
      .select((col("id") % 7).as("k"),
        (col("id") * 2654435761L % 1009L).as("v"), col("id"))
      .repartition(7)
    def asSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // k = 1, small, larger than every group, larger than the table
    for (k <- Seq(1, 3, 200, 5000)) {
      val nat = asSet(graft.plans.TopK.perKey(df, Seq("k"),
        Seq("v" -> false, "id" -> true), k).collect())
      val w = W.partitionBy(col("k")).orderBy(col("v").desc, col("id").asc)
      val win = asSet(windowRef(df, w, k))
      assert(nat == win, s"k=$k: heap ${nat.size} rows vs window ${win.size}")
    }
    // empty input stays empty
    assert(graft.plans.TopK.perKey(df.filter(lit(false)), Seq("k"),
      Seq("v" -> false, "id" -> true), 3).collect().isEmpty)
    // k = 0 fails fast at plan build, not as a task-side heap exception
    intercept[IllegalArgumentException] {
      graft.plans.TopK.perKey(df, Seq("k"), Seq("v" -> false), 0)
    }
  }

  test("TopKPerKey stays correct when the partial map overflows its key cap") {
    // the adversarial memory shape: 5000 DISTINCT keys, every key holding
    // a single row (< k), so the pre-round-8 unbounded map would have
    // copied the whole partition into task memory. With the cap forced
    // down to 8 keys the partial pass flushes hundreds of times and
    // degrades to a pass-through — results must still equal the window
    // formulation exactly
    import org.apache.spark.sql.expressions.{Window => W}
    withoutAQE(withConf("spark.graft.topk.partialMaxKeys", "8") {
      val df = spark.range(0, 5000)
        .select(col("id").as("k"),
          (col("id") * 2654435761L % 1009L).as("v"), col("id"))
        .repartition(4)
      def asSet(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val natDf = graft.plans.TopK.perKey(df, Seq("k"),
        Seq("v" -> false, "id" -> true), 3)
      val nat = asSet(natDf.collect())
      val w = W.partitionBy(col("k")).orderBy(col("v").desc, col("id").asc)
      val win = asSet(windowRef(df, w, 3))
      assert(nat == win, s"flush path diverged: ${nat.size} vs ${win.size} rows")
      // the numFlushes metric proves the overflow path actually ran (8-key
      // cap against 5000 distinct keys) — not just that results agree
      val flushes = natDf.queryExecution.executedPlan
        .collect { case t: graft.plans.TopKPerKeyExec if t.partial => t }
        .map(_.metrics("numFlushes").value).sum
      assert(flushes > 0, "partial map never flushed under the forced cap")
    })
  }

  test("TopKPerKey under order ties selects the invariant order-value multiset") {
    // ties make the CHOICE of surviving rows arbitrary (row_number's and
    // the heap's picks may legally differ) — but the multiset of order-
    // column values selected per key is fully determined. That is the
    // invariant the rewrite's tie-safety note states, pinned here: 4 keys
    // × 100 rows, order column v ∈ {0, 1} only
    import org.apache.spark.sql.expressions.{Window => W}
    // v must be independent of k (id%4 and id%2 are correlated — id/4
    // parity is not), so every key holds 50 ties at v=1 and 50 at v=0
    val df = spark.range(0, 400)
      .select((col("id") % 4).as("k"), expr("(id div 4) % 2").as("v"), col("id"))
      .repartition(4)
    def multiset(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).map { case (kv, g) => kv -> g.length }
    val nat = multiset(graft.plans.TopK.perKey(df, Seq("k"),
      Seq("v" -> false), 10).select(col("k"), col("v")).collect())
    val w = W.partitionBy(col("k")).orderBy(col("v").desc)
    val win = multiset(windowRef(df, w, 10))
    assert(nat == win, s"order-value multisets diverged: $nat vs $win")
    // and concretely: top-10 of 50 v=1 rows per key is ten (k, 1) pairs
    assert(nat == (0L until 4L).map(k => (k, 1L) -> 10).toMap)
  }

  test("Misra-Gries skips null tokens instead of corrupting the buffer") {
    // a null Map key is unrepresentable in Catalyst MapType — before the
    // guard this crashed at buffer serialization; now nulls contribute
    // nothing, like COUNT(col)
    import spark.implicits._
    import graft.functions.HeavyHitters
    val ds = (Seq.fill(100)(Option("hot")) ++ Seq.fill(50)(None) ++
        Seq.fill(10)(Option("warm")))
      .toDF("token").repartition(3)
    val sketch = ds.agg(HeavyHitters.misraGries(col("token"), 3).as("mg"))
      .select(explode(col("mg")).as(Seq("token", "est")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch.contains("hot") && sketch("hot") == 100L)
    assert(sketch.contains("warm") && sketch("warm") == 10L)
    assert(!sketch.contains(null), "null token leaked into the sketch")
  }

  test("weighted mean skips null rows like a SQL aggregate") {
    // same hardening class as the Misra-Gries null guard: the primitive
    // (Double, Double) buffer can't represent null, so nulls must map to
    // the no-op pair instead of failing deserialization or biasing the sum
    import graft.functions.Aggregators
    val df = spark.range(0, 10).select(
      when(col("id") % 3 === 0, col("id").cast("double")).as("x"),
      when(col("id") % 4 =!= 1, lit(2.0)).as("w"))
    val got = df.agg(Aggregators.weightedMean(col("x"), col("w")).as("wm"))
      .collect()(0).getDouble(0)
    // non-null (x, w) pairs: id ∈ {0, 3, 6} (id=9 has null w) → mean = 3.0
    assert(math.abs(got - 3.0) < 1e-12, s"weighted mean with nulls: $got")
    // all-null input → NaN (the 0-weight sentinel), not a crash
    val empty = df.filter(col("x").isNull)
      .agg(Aggregators.weightedMean(col("x"), col("w")).as("wm"))
      .collect()(0).getDouble(0)
    assert(empty.isNaN, s"all-null weighted mean: $empty")
  }

  test("triangles: broadcast and shuffle closing-edge paths agree") {
    // the size-based flip (q_triangles' chooser) is a pure physical
    // decision — both paths must return identical rows in identical order
    def rows(maxBroadcastEdges: Long) =
      graft.queries.BasketOps.triangles(spark, sf, maxBroadcastEdges).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaBroadcast = rows(graft.queries.BasketOps.TriangleBroadcastMaxEdges)
    val viaShuffle = rows(0)
    assert(viaBroadcast == viaShuffle,
      s"paths diverged: $viaBroadcast vs $viaShuffle")
  }

  test("rank fusion rewards presence in both lists") {
    val rows = q("q_rank_fusion").collect()
    assert(rows.nonEmpty)
    // rrf recomputes from the ranks (null leg contributes nothing)
    rows.foreach { r =>
      val rl = Option(r.getAs[java.lang.Integer]("rank_lex"))
        .map(x => 1.0 / (60 + x.toInt)).getOrElse(0.0)
      val rs = Option(r.getAs[java.lang.Integer]("rank_sem"))
        .map(x => 1.0 / (60 + x.toInt)).getOrElse(0.0)
      assert(math.abs(r.getAs[Double]("rrf") - (rl + rs)) < 1e-5)
    }
    // any doc holding BOTH leg ranks ≤ k beats any doc with one leg worse
    val both = rows.filter(r => r.get(1) != null && r.get(2) != null)
    val single = rows.filter(r => r.get(1) == null || r.get(2) == null)
    if (both.nonEmpty && single.nonEmpty)
      assert(both.map(_.getAs[Double]("rrf")).min >
        single.map(_.getAs[Double]("rrf")).max - 1e-12,
        "a single-list doc outranked every both-list doc")
  }

  test("MG sketch rollup keeps the mergeable-summaries bound for the union") {
    import spark.implicits._
    import graft.functions.HeavyHitters
    // 3 shards with DIFFERENT hot items; per-shard sketches rolled up must
    // still satisfy the combined-stream bound — the Agarwal merge theorem
    val rows = (0 until 3).flatMap { s =>
      Seq.fill(2000)(s"hot_$s") ++ (0 until 20).flatMap(i =>
        Seq.fill(50)(s"rare_${s}_$i"))
    }.zipWithIndex.map { case (t, i) => (s"shard_${i % 3}", t) }
    val truth = rows.groupBy(_._2).map { case (t, v) => t -> v.size.toLong }
    val n = rows.size
    val k = 5
    val rolled = rows.toDF("shard", "token").repartition(6)
      .groupBy($"shard").agg(HeavyHitters.misraGries($"token", k).as("mg"))
      .agg(HeavyHitters.mergeSketches($"mg", k).as("mg"))
      .select(explode($"mg").as(Seq("token", "est")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled.size <= k, "rolled sketch exceeded k counters")
    rolled.foreach { case (t, est) =>
      assert(est <= truth(t), s"$t overcounted after rollup")
      assert(truth(t) - est <= n / (k + 1) + 1, s"$t bound broken after rollup")
    }
    truth.filter(_._2 > n / (k + 1)).keys.foreach(t =>
      assert(rolled.contains(t), s"guaranteed hitter $t lost in rollup"))
  }

  test("Count-Min guarantees hold and the sketch is merge-order-invariant") {
    import spark.implicits._
    import graft.functions.CountMin
    // 10 000 tokens: one 40% hitter, one 10%, 50 rares at 1% each —
    // adversarial for collision checks because the rares share slots
    val rows = Seq.fill(4000)("hot") ++ Seq.fill(1000)("warm") ++
      (0 until 50).flatMap(i => Seq.fill(100)(s"rare_$i"))
    val truth = rows.groupBy(identity).map { case (t, v) => t -> v.size.toLong }
    val n = rows.size
    val (d, w) = (4, 256)
    def sketchOf(parts: Int): Seq[Long] = {
      val ds = new scala.util.Random(7).shuffle(rows).toDS()
        .repartition(parts).select(col("value").as("token"))
      ds.agg(CountMin.countMin(col("token"), d, w).as("cms"))
        .collect()(0).getSeq[Long](0)
    }
    val sk = sketchOf(7)
    // merge is element-wise addition ⇒ the sketch must be bit-identical
    // whatever partial-aggregation tree Spark picks
    assert(sk == sketchOf(1), "sketch differs across merge trees")
    truth.foreach { case (t, tru) =>
      val est = CountMin.estimate(sk, t, d, w)
      assert(est >= tru, s"$t undercounted: est=$est true=$tru")
      assert(est - tru <= 3L * n / w, s"$t bound broken: est=$est true=$tru")
    }
    // total counter mass per row = number of non-null inputs
    (0 until d).foreach { r =>
      assert(sk.slice(r * w, (r + 1) * w).sum == n.toLong,
        s"row $r lost mass")
    }
  }

  test("Count-Min skips null tokens like COUNT(col)") {
    import spark.implicits._
    import graft.functions.CountMin
    val ds = (Seq.fill(100)(Option("hot")) ++ Seq.fill(50)(None))
      .toDF("token").repartition(3)
    val sk = ds.agg(CountMin.countMin(col("token"), 2, 64).as("cms"))
      .collect()(0).getSeq[Long](0)
    assert(sk.sum == 2L * 100L, "null rows leaked into the counters")
    assert(CountMin.estimate(sk, "hot", 2, 64) == 100L)
  }

  test("CmsEstimate expression matches the Scala point query exactly") {
    import spark.implicits._
    import graft.functions.CountMin
    val (d, w) = (4, 256)
    val toks = (Seq.fill(500)("hot") ++ (0 until 40).map(i => s"t_$i"))
    val skDf = toks.toDF("token").repartition(3)
      .agg(CountMin.countMin(col("token"), d, w).as("cms"))
    val sk = skDf.collect()(0).getSeq[Long](0)
    val probes = ("hot" +: (0 until 40 by 7).map(i => s"t_$i") :+ "absent")
      .toDF("token")
    val got = probes.crossJoin(broadcast(skDf))
      .select(col("token"),
        CountMin.cmsEstimate(col("cms"), col("token"), d, w).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (t, est) =>
      assert(est == CountMin.estimate(sk, t, d, w),
        s"expression diverges from the Scala estimate at $t")
    }
  }

  test("q_cms_freq guarantee flags are all green") {
    val rows = q("q_cms_freq").collect()
    assert(rows.length == 10, "expected the exact top-10 anchor")
    rows.foreach { r =>
      assert(r.getAs[Int]("cms_ge_exact") == 1, s"undercount at $r")
      assert(r.getAs[Int]("cms_within_bound") == 1, s"width bound broken at $r")
    }
  }
}
