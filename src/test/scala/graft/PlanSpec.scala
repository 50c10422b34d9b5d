package graft

import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape golden corpus — the contract that each query's OPTIMIZED plan
  * stays the plan we want at 100 TB, not merely one that returns the right
  * rows at test scale.
  *
  * Mirrors the reference's planner test corpus
  * (/root/reference/src/sqlplanner.rs:541-791, 15 cases asserting exact plan
  * text); exact-text goldens are brittle against Catalyst versions, so each
  * case here asserts the scale-critical INVARIANT instead: pushed filters,
  * pruned scans, join strategy, shuffle keys, partial aggregation,
  * whole-stage codegen, and the absence of unhinted cartesian products.
  * A regression in any of these (e.g. a future edit losing a broadcast or
  * adding a second exchange) fails this suite even though results stay equal.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private def physical(name: String) = q(name).queryExecution.sparkPlan
  private def optimized(name: String) = q(name).queryExecution.optimizedPlan

  private def hashExchanges(name: String): Seq[HashPartitioning] = withoutAQE {
    q(name).queryExecution.executedPlan
      .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      .collect { case h: HashPartitioning => h }
  }

  private def scans(name: String): Seq[FileSourceScanExec] =
    physical(name).collect { case f: FileSourceScanExec => f }

  // ---- corpus-wide sweeps --------------------------------------------------

  test("no query plans an unhinted CartesianProduct") {
    // q_cross IS a deliberate cross join of two tiny dims (region × nation);
    // everything else must plan as an equi/broadcast join
    val offenders = SparkEntry.queries.keys.filter(_ != "q_cross").filter { n =>
      physical(n).collectFirst { case c: CartesianProductExec => c }.nonEmpty
    }
    assert(offenders.isEmpty, s"CartesianProduct in: ${offenders.mkString(", ")}")
  }

  test("no query carries a broadcast hint on a corpus-sized relation") {
    // the dedup verification joins carry the whole corpus's signatures /
    // embeddings — a broadcast HINT there OOMs every executor at 100 TB.
    // AQE may still broadcast at toy scale from measured sizes (correct
    // there, impossible at scale); the HINT is what must never come back.
    val corpusJoins = Seq("q_dedup_minhash", "q_dedup_simhash",
      "q_dedup_ngram", "q_dedup_embedding", "q_dedup_exact")
    corpusJoins.foreach { n =>
      val hinted = optimized(n).collect { case j: Join => j.hint }
        .filter(h => h.leftHint.flatMap(_.strategy).nonEmpty ||
          h.rightHint.flatMap(_.strategy).nonEmpty)
      assert(hinted.isEmpty, s"$n has join strategy hints: $hinted")
    }
  }

  // ---- scan contract: pushdown + pruning -----------------------------------

  test("range predicate reaches the lineitem scan as data filters") {
    val pushed = scans("q_between").flatMap(_.dataFilters).map(_.toString)
    assert(pushed.exists(_.contains("l_quantity")), pushed.mkString(";"))
    assert(pushed.exists(_.contains(">=")) && pushed.exists(_.contains("<=")),
      pushed.mkString(";"))
  }

  test("dedup scan reads only the columns it needs") {
    val read = scans("q_dedup_exact").flatMap(_.schema.fieldNames).toSet
    assert(read == Set("doc_id", "text"), s"read: $read")
  }

  test("events scan for sessionize prunes to the four used columns") {
    val read = scans("q_sessionize").flatMap(_.schema.fieldNames).toSet
    assert(read == Set("user_id", "event_id", "value", "ts"), s"read: $read")
  }

  // ---- join strategy contract ----------------------------------------------

  test("IVF probe join broadcasts the tiny probe side, corpus stays partitioned") {
    val bhj = physical("q_ann_ivf").collect {
      case b: BroadcastHashJoinExec
        if b.leftKeys.map(_.toString).exists(_.contains("cid")) => b
    }
    assert(bhj.nonEmpty, "cid probe join is not a BroadcastHashJoin")
    assert(bhj.exists(_.buildSide.toString == "BuildRight"),
      s"probe side must be the build side: ${bhj.map(_.buildSide)}")
  }

  test("ANN probe joins broadcast the probe side by hint") {
    // fuzzy decontamination's eval/benchmark side is the same class of
    // known-small-by-construction broadcast
    Seq("q_ann_brute", "q_ann_lsh", "q_fuzzy_decontaminate", "q_ann_pq")
      .foreach { n =>
      val hints = optimized(n).collect { case j: Join => j.hint }
      assert(hints.exists(h => h.rightHint.flatMap(_.strategy).nonEmpty ||
        h.leftHint.flatMap(_.strategy).nonEmpty), s"$n lost its broadcast hint")
    }
  }

  test("corpus-stat queries broadcast their tiny scalar/vocab sides") {
    // bm25: df (≤3 terms) + avgdl/n_docs (1 row); domain mix: the 1-row
    // normalizer; vocab coverage: the top-10 vocab; quantize: the 64-row
    // per-dimension range. Each must KEEP its broadcast hint — losing it
    // shuffles the corpus on a coarse key at 100 TB.
    // lm_score: the vocab-sized unigram LM; domain_sample: the per-source
    // rate table
    Seq("q_bm25", "q_domain_mix", "q_vocab_coverage", "q_embed_quantize",
      "q_lm_score", "q_domain_sample", "q_bigram_lm")
      .foreach { n =>
        val hints = optimized(n).collect { case j: Join => j.hint }
          .filter(h => h.leftHint.flatMap(_.strategy).nonEmpty ||
            h.rightHint.flatMap(_.strategy).nonEmpty)
        assert(hints.nonEmpty, s"$n lost its broadcast hint")
      }
  }

  test("approx quality gate has no window sort and broadcasts the threshold") {
    // the whole point of the approx gate (and its quartile generalization,
    // q_curriculum) is replacing the per-lang percent_rank window with a
    // sketch + broadcast-back filter: a Window node reappearing means the
    // scale path regressed to the exact one
    Seq("q_quality_gate_approx", "q_curriculum").foreach { n =>
      val plan = physical(n)
      assert(plan.collectFirst {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"$n must not contain a Window")
      val hints = optimized(n)
        .collect { case j: Join => j.hint }
        .filter(h => h.leftHint.flatMap(_.strategy).nonEmpty ||
          h.rightHint.flatMap(_.strategy).nonEmpty)
      assert(hints.nonEmpty, s"$n: threshold join lost its broadcast hint")
    }
  }

  test("bloom pre-filter is a native codegen expression, not a Scala UDF") {
    val plan = physical("q_bloom_join")
    val udfs = plan.flatMap(_.expressions).flatMap(_.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
    })
    assert(udfs.isEmpty, s"ScalaUDF in q_bloom_join plan: $udfs")
    assert(plan.toString.contains("might_contain"),
      "BloomFilterMightContain missing from q_bloom_join plan")
  }

  test("bloom decontaminate gates the gram stream below the first exchange") {
    withoutAQE {
      val plan = physical("q_bloom_decontaminate")
      assert(plan.toString.contains("might_contain"),
        "Bloom gate missing from q_bloom_decontaminate plan")
      // the gate must apply DIRECTLY to the raw gram stream (its subtree
      // is the explode, with no join or aggregate beneath) — i.e. before
      // any exchange the planner later inserts above it
      val gates = plan.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.toString.contains("might_contain") => f
      }
      assert(gates.nonEmpty, "no might_contain FilterExec in the plan")
      // Catalyst may INFER a second copy of the gate onto the eval side
      // through the join equality (harmless); what matters is that the
      // train gram stream itself carries one, directly on its explode,
      // with no join/aggregate work happening beneath it
      assert(gates.exists { f =>
        val sub = f.child.toString
        sub.contains("Generate explode") &&
          !sub.contains("Join") && !sub.contains("HashAggregate")
      }, "no bloom gate sits directly on the exploded train gram stream")
    }
  }

  test("corpus checksum is one map-side-combined shuffle, zero sorts/windows") {
    withoutAQE {
      val plan = physical("q_corpus_checksum")
      assert(plan.toString.contains("partial_"),
        "checksum lost map-side partial aggregation")
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(windows.isEmpty, "checksum must not plan a window")
      val hashEx = hashExchanges("q_corpus_checksum")
      assert(hashEx.size <= 1, s"checksum shuffles ${hashEx.size}× — expected 1")
    }
  }

  test("quantile normalize windows partition by source; the CDF side is broadcast") {
    withoutAQE {
      val plan = physical("q_quantile_normalize")
      val wins = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }
      // per-doc windows must be keyed by source (fine keys at web scale);
      // the only unpartitioned windows allowed run over the bounded
      // distinct-score census, which lives on the broadcast side
      val perDoc = wins.filter(_.partitionSpec.nonEmpty)
      assert(perDoc.nonEmpty, "missing the per-source rank window")
      assert(plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }.nonEmpty, "CDF range join should be a broadcast nested-loop join")
    }
  }

  // ---- aggregation contract: map-side partials -----------------------------

  test("group-by aggregates keep map-side partial aggregation") {
    Seq("q_agg_group", "q_dedup_exact", "q_having").foreach { n =>
      val plan = physical(n).toString
      assert(plan.contains("partial_"), s"$n lost partial aggregation")
    }
  }

  test("sketch aggregations are mergeable partials (the 100 TB property)") {
    // the production sketch plans' whole value is that the sketch state is
    // partial-aggregated map-side and merged — a plan that ships raw rows
    // to one reducer per group would still be correct and useless at scale
    Seq("q_quantile_sketch", "q_hll_sketch", "q_agg_approx",
        "q_cms_freq", "q_hll_rollup", "q_mg_rollup").foreach { n =>
      val plan = physical(n).toString
      assert(plan.contains("partial_"), s"$n lost partial sketch aggregation")
    }
    // the bench-only production twin (sketch with no exact anchor) too
    val hllOnly = SparkEntry.benchOnly("q_hll_only")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(hllOnly.contains("partial_"), "q_hll_only lost partial sketch aggregation")
  }

  // ---- shuffle-count contract ----------------------------------------------

  test("sessionize shuffles once, on user_id") {
    val hx = hashExchanges("q_sessionize")
    assert(hx.length == 1, s"expected 1 hash exchange, got ${hx.length}")
    assert(hx.head.expressions.map(_.toString).exists(_.contains("user_id")))
  }

  test("range-frame window shuffles once, on its partition key") {
    val hx = hashExchanges("q_window_range")
    assert(hx.length == 1, s"expected 1 hash exchange, got ${hx.length}")
    assert(hx.head.expressions.map(_.toString).exists(_.contains("user_id")))
  }

  test("windowed rank shuffles once, on its partition key") {
    val hx = hashExchanges("q_window_rank")
    assert(hx.length == 1, s"expected 1 hash exchange, got ${hx.length}")
  }

  test("interval join shuffles both sides on user_id — never a cross product") {
    // force the shuffled form (at test scale the click side would broadcast,
    // which is also fine — but the scale plan is the one under contract)
    withoutAQE(withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val plan = q("q_interval_join").queryExecution.executedPlan
      val hx = plan
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .collect { case h: HashPartitioning => h.expressions.map(_.toString) }
      assert(hx.count(_.exists(_.contains("user_id"))) == 2, s"exchanges: $hx")
      assert(plan.collectFirst { case c: CartesianProductExec => c }.isEmpty)
    })
  }

  // ---- codegen contract ----------------------------------------------------

  test("arithmetic projection stays inside whole-stage codegen") {
    // the `*(n)` markers in explain output are WholeStageCodegenExec spans
    val spans = withoutAQE(q("q_arith").queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    })
    assert(spans.nonEmpty, "no WholeStageCodegen span in q_arith plan")
  }

  test("top-k and broadcast-dim plans hold (golden regression)") {
    assert(physical("q_sort_limit").toString.contains("TakeOrderedAndProject"))
    assert(physical("q_join_broadcast").toString.contains("BroadcastHashJoin"))
  }

  test("star join broadcasts every dimension and keeps partial aggregation") {
    // Q5 shape: region/nation/supplier/customer reduce via broadcast joins
    // (no fact-table repartition for a dim); revenue agg is map-side partial
    val plan = physical("q_join_star")
    val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.size >= 3, s"expected >=3 broadcast dim joins, got ${bhj.size}")
    assert(plan.toString.contains("partial_"), "star join lost partial agg")
  }

  test("r9 additions: pruned scans, partial aggs, heap top-k, no stray hints") {
    // q_shingle_df_profile reads ONLY text; its df agg partial-aggregates
    val read = scans("q_shingle_df_profile").flatMap(_.schema.fieldNames).toSet
    assert(read == Set("text"), s"read: $read")
    assert(physical("q_shingle_df_profile").toString.contains("partial_"),
      "q_shingle_df_profile lost partial aggregation")
    // q_lsh_tuning's band census partial-aggregates (integer sums)
    assert(physical("q_lsh_tuning").toString.contains("partial_"),
      "q_lsh_tuning lost partial aggregation")
    // q_link_predict's top-20 is a heap, not a global sort; wedges come
    // from ONE capped bucket pass (no e⋈e self-join), and the only
    // broadcasts are the dim-sized degree censuses
    val lpPlan = physical("q_link_predict")
    assert(lpPlan.toString.contains("TakeOrderedAndProject"),
      "q_link_predict lost the top-k heap")
    val lpBhj = lpPlan.collect { case b: BroadcastHashJoinExec => b }
    assert(lpBhj.size == 2, s"expected 2 broadcast degree joins, got ${lpBhj.size}")
    // the stratified sample routes through the NATIVE per-key heap
    // operator — zero window sorts anywhere in its plan
    val sampPlan = physical("q_stratified_sample").toString
    assert(sampPlan.contains("TopKPerKey"),
      "q_stratified_sample does not use the native TopKPerKey operator")
    assert(!sampPlan.contains("Window"),
      "q_stratified_sample fell back to a window sort")
  }

  test("r11 additions: single-exchange chained aggs, broadcast censuses, " +
    "pre-shuffle trigram probe filter") {
    // q_waiting_suppliers: the explicit l_orderkey repartition serves BOTH
    // chained groupBys (subset partitioning satisfies the two-key
    // clustering) — exactly ONE fact-keyed exchange; the rest are the
    // tiny late_supp agg and the output sort
    val wsHx = hashExchanges("q_waiting_suppliers")
    val wsOrderKeyed = wsHx.filter(
      _.expressions.map(_.toString).exists(_.contains("l_orderkey")))
    assert(wsOrderKeyed.size == 1,
      s"expected 1 l_orderkey exchange, got: ${wsHx.map(_.expressions)}")
    // q_small_qty_revenue: the per-part census joins back by HINT, never
    // a sort-merge of fact against census; partial aggs everywhere
    val sqPlan = physical("q_small_qty_revenue")
    assert(sqPlan.collect { case j: SortMergeJoinExec => j }.isEmpty,
      "q_small_qty_revenue plans a sort-merge join against the census")
    assert(sqPlan.toString.contains("partial_"),
      "q_small_qty_revenue lost partial aggregation")
    // q_trigram_search: the pattern-trigram cut (array_intersect) must
    // sit BELOW the doc_id exchange — the shuffle carries only matching
    // postings (≤|pattern| rows per doc), never the full posting table
    val tgEx = withoutAQE {
      q("q_trigram_search").queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
    }
    assert(tgEx.nonEmpty)
    assert(tgEx.forall(_.child.toString.contains("array_intersect")),
      "trigram probe cut not below the posting exchange")
    // q_partition_advisor: one corpus-keyed census then alphabet-sized
    // work; both aggs keep map-side partials
    assert(physical("q_partition_advisor").toString.contains("partial_"),
      "q_partition_advisor lost partial aggregation")
  }

  test("r12 star shapes: semi residual, scan-is-the-query, cached census, " +
    "outer-preserving distribution") {
    // Q4 shape: the EXISTS is a SEMI join (the probe side never
    // duplicates, no DISTINCT anywhere) and the half-year window reaches
    // the orders scan as pushed filters
    val q4 = physical("q_order_priority_census")
    assert(q4.toString.contains("LeftSemi"),
      "q_order_priority_census lost the semi join")
    val q4Orders = scans("q_order_priority_census")
      .filter(_.metadata.get("Location").exists(_.contains("orders")))
    assert(q4Orders.exists(_.metadata.get("PushedFilters")
        .exists(f => f.contains("GreaterThanOrEqual(o_orderdate") &&
          f.contains("LessThan(o_orderdate"))),
      "order window not pushed to the orders scan")
    // Q6 shape: no joins, no hash exchange — the scan IS the query; the
    // date and quantity bounds prune in the reader
    assert(hashExchanges("q_forecast_revenue").isEmpty,
      "q_forecast_revenue shuffles on a key — global agg expected")
    val q6Scan = scans("q_forecast_revenue")
    assert(q6Scan.size == 1 && q6Scan.head.metadata.get("PushedFilters")
        .exists(f => f.contains("l_shipdate") && f.contains("l_quantity")),
      "q_forecast_revenue predicates not pushed to the single scan")
    // Q9 shape: every hash exchange is the census grain (or the output
    // sort) — the dimension chains broadcast, the fact never exchanges
    // on a join key other than the orders equi-join at scale (which at
    // spec scale also broadcasts)
    val q9 = physical("q_nation_profit")
    assert(q9.collect { case j: BroadcastHashJoinExec => j }.size >= 3,
      "q_nation_profit dimension chains stopped broadcasting")
    // Q11/Q20 shape: the persisted census is built ONCE — both the
    // threshold branch and the filter branch read the cache; zero direct
    // fact scans in the final plan
    Seq("q_value_parts", "q_excess_suppliers").foreach { n =>
      val p = physical(n)
      val factScans = p.collect {
        case f: FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("lineitem")) => f
      }
      assert(factScans.isEmpty, s"$n re-scans the fact beside its census")
      assert(p.toString.contains("InMemoryTableScan"),
        s"$n does not read its persisted census")
      graft.operators.Persisted.releaseAll(spark)
      spark.catalog.clearCache()
    }
    // Q13 shape: the join stays LEFT OUTER (zero-order customers are the
    // point); the priority filter lives in the join, not a WHERE
    assert(physical("q_customer_distribution").toString.contains("LeftOuter"),
      "q_customer_distribution lost the outer join")
    // Q16 shape: anti-join suppression present; the pair census is a
    // real DISTINCT exchange on (l_partkey, l_suppkey)
    val q16 = physical("q_brand_supplier_census")
    assert(q16.toString.contains("LeftAnti"),
      "q_brand_supplier_census lost the anti join")
    assert(hashExchanges("q_brand_supplier_census").exists(h =>
        h.expressions.map(_.toString).mkString(",").contains("l_partkey")),
      "q_brand_supplier_census pair census lost its exchange")
    // Q19 shape: the disjunction's column envelope prunes both scans
    val q19Part = scans("q_disjunctive_revenue")
      .filter(_.metadata.get("Location").exists(_.contains("part")))
    assert(q19Part.exists(_.schema.fieldNames.toSet ==
        Set("p_partkey", "p_brand", "p_size")),
      "q_disjunctive_revenue part scan reads more than its envelope")
  }

  test("theta sketches ride the native bottom-k heap, fact cached once") {
    // the bottom-512-hashes-per-set runs through TopKPerKeyExec (partial
    // + final heaps — ≤k rows per key cross the wire), never a window
    // sort; the distinct pair census persists, so the exact anchor reads
    // the cache instead of re-scanning the fact
    Seq("q_theta_sketch", "q_theta_intersect").foreach { n =>
      val p = physical(n)
      // q_theta_sketch builds the sketch inline → the partial+final heap
      // pair is visible; q_theta_intersect PERSISTS the sketch (three
      // consumers) → the heaps live inside the cached plan and the query
      // reads InMemoryTableScan instead
      val heaps = p.collect { case t: graft.plans.TopKPerKeyExec => t }
      assert(heaps.size >= 2 || p.toString.contains("InMemoryTableScan"),
        s"$n neither runs the native top-k heap pair nor reads a cached " +
          "sketch")
      assert(p.collectFirst {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }.isEmpty, s"$n ranks through a window sort")
      val factScans = p.collect {
        case f: FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("lineitem")) => f
      }
      assert(factScans.size <= 1,
        s"$n scans the fact ${factScans.size}x beside its cached census")
      graft.operators.Persisted.releaseAll(spark)
      spark.catalog.clearCache()
    }
    // the heap operator must be visible in at least the inline variant
    val inline = physical("q_theta_sketch")
      .collect { case t: graft.plans.TopKPerKeyExec => t }
    assert(inline.size >= 2,
      "q_theta_sketch lost the partial+final TopKPerKeyExec pair")
    graft.operators.Persisted.releaseAll(spark)
    spark.catalog.clearCache()
  }

  test("rollup advisor cubes the census, not the fact") {
    // the 8-way grain expansion must sit ABOVE the finest-grain census
    // aggregation: one fact scan, one (rf, ls, m) exchange, and every
    // Expand input is census-sized (its child contains the census
    // HashAggregate, never the parquet scan directly)
    val p = physical("q_rollup_advisor")
    assert(scans("q_rollup_advisor").size == 1,
      "advisor scans the fact more than once")
    val expands = p.collect {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }
    assert(expands.nonEmpty, "cube lost its Expand")
    assert(expands.forall(e => e.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      }.nonEmpty),
      "no aggregate below the Expand — the 8x expansion runs over raw " +
        "fact rows instead of the census")
  }

  test("rollup navigation: the coarse aggregate reads the MV, never the fact") {
    // q_mv_rewrite registers a (returnflag, linestatus) rollup then asks
    // the (returnflag) question against the FACT; RollupRewrite must
    // navigate it — zero lineitem file scans in the executed tree, the
    // read comes from the in-memory rollup
    val df = q("q_mv_rewrite")
    // sparkPlan, not executedPlan: the AQE wrapper hides children from
    // collect, which would make the no-fact-scan assert vacuous
    val factScans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("lineitem")) => f
    }
    assert(factScans.isEmpty,
      s"navigation did not fire: ${factScans.size} lineitem scans")
    assert(df.queryExecution.executedPlan.toString
        .contains("InMemoryTableScan"),
      "rewritten plan does not read the cached rollup")
    // and it is value-invariant vs a hand-built raw fact aggregation
    // (clearing the registry FIRST so the control plan can't navigate)
    val navigated = df.collect().map(_.toString).sorted
    graft.plans.RollupRewrite.clear(spark)
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val raw = graft.Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .collect().map(_.toString).sorted
    assert(navigated.sameElements(raw), "navigated values differ from raw")
    graft.operators.Persisted.releaseAll(spark)
  }

  test("rollup navigation: grain-key filters navigate, other filters block") {
    import org.apache.spark.sql.functions.{col, count, lit, max, sum}
    // sparkPlan, not executedPlan: AQE hides children from collect
    def factScans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("lineitem")) => f
      }
    // q_mv_filter_rewrite: WHERE l_linestatus='F' (a grain key) must
    // navigate — zero fact scans — and carry the max leg through
    val df = q("q_mv_filter_rewrite")
    assert(factScans(df).isEmpty, "grain-key filter blocked navigation")
    assert(df.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    // a predicate on a NON-grain column (l_shipdate) must BLOCK
    // navigation — the rollup pre-aggregated those rows away
    val blocked = graft.Tables(spark, sf, "lineitem")
      .filter(col("l_shipdate") > "1999-01-01")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        max(col("l_quantity").cast("long")).as("max_qty"))
    assert(factScans(blocked).nonEmpty,
      "non-grain filter wrongly navigated to the rollup")
    // the SQL path navigates too: a temp view resolves to the same scan.
    // AVG over the exact-sum child decomposes to sum-of-sums / count —
    // value-identical (asserted) and still zero fact scans
    graft.Tables(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    val sqlDf = spark.sql(
      """SELECT l_returnflag,
        |       avg(cast(l_quantity as bigint)) AS avg_qty,
        |       sum(cast(l_quantity as bigint)) AS sum_qty
        |FROM lineitem WHERE l_linestatus = 'F'
        |GROUP BY l_returnflag""".stripMargin)
    assert(factScans(sqlDf).isEmpty, "SQL-path aggregate did not navigate")
    val navSql = sqlDf.collect().map(_.toString).sorted
    graft.plans.RollupRewrite.clear(spark)
    val rawSql = spark.sql(
      """SELECT l_returnflag,
        |       avg(cast(l_quantity as bigint)) AS avg_qty,
        |       sum(cast(l_quantity as bigint)) AS sum_qty
        |FROM lineitem WHERE l_linestatus = 'F'
        |GROUP BY l_returnflag""".stripMargin)
      .collect().map(_.toString).sorted
    assert(navSql.sameElements(rawSql), "navigated AVG differs from raw")
    graft.operators.Persisted.releaseAll(spark)
  }

  test("weighted sample plans as per-partition top-k heaps, not a global sort") {
    // the 50-smallest-priority selection must be TakeOrderedAndProject
    // (constant rows moved per partition); a global Sort would shuffle the
    // whole corpus to rank it
    assert(physical("q_sample_weighted").toString.contains("TakeOrderedAndProject"))
  }

  test("inverted index shuffles only on the fine term key") {
    // df agg, posting-cap window, posting agg and their join all key on
    // term — any exchange on a coarser key (or a round-robin repartition)
    // would put the Zipf head on one reducer
    val hx = hashExchanges("q_inverted_index")
    assert(hx.nonEmpty)
    assert(hx.forall(_.expressions.map(_.toString).exists(_.contains("term"))),
      s"non-term exchange: ${hx.map(_.expressions.map(_.toString))}")
  }

  test("cdc merge is one keyed shuffle per side — no driver loop, no cartesian") {
    withoutAQE(withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val plan = q("q_cdc_merge").queryExecution.executedPlan
      val hx = plan
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .collect { case h: HashPartitioning => h.expressions.map(_.toString) }
      assert(hx.count(_.exists(_.contains("o_orderkey"))) == 2, s"exchanges: $hx")
      assert(plan.collectFirst { case c: CartesianProductExec => c }.isEmpty)
    })
  }

  test("fuzzy join blocks on the content-extended key — never all-pairs") {
    withoutAQE(withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val plan = q("q_fuzzy_join").queryExecution.executedPlan
      val hx = plan
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .collect { case h: HashPartitioning => h.expressions.map(_.toString) }
      // candidate generation shuffles ONCE on the full deletion-neighborhood
      // block key — (p_brand, p_size, slot, residual), reused by the window
      // pre-cap and the bucket groupBy — so block population is bounded by
      // content, not catalog size
      val blockKey = hx.filter(_.exists(_.contains("p_brand")))
      assert(blockKey.nonEmpty, s"no exchange on the block key: $hx")
      assert(blockKey.forall(_.exists(_.contains("residual"))),
        s"block key lost the content residual: $blockKey")
      // verification joins shuffle on the fine part keys
      assert(hx.exists(_.exists(_.contains("key_a"))), s"exchanges: $hx")
      assert(plan.collectFirst { case c: CartesianProductExec => c }.isEmpty,
        "fuzzy join degenerated to a cartesian product")
    })
  }

  test("two-stage retrieval never shuffles the corpus: broadcast in both stages") {
    // SERVING path: ADC meets codes via broadcast, the re-rank shortlist
    // broadcasts against the corpus scan — an exchange on neighbor_id would
    // mean the corpus shuffled at query time. (vec_id exchanges exist and
    // are the INDEX BUILD: per-vector code assembly aggregates 4 subspace
    // rows per vector — paid once at build, amortized in production.)
    withoutAQE {
      val plan = q("q_ann_pq_rerank").queryExecution.executedPlan
      val corpusShuffles = plan
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .collect { case h: HashPartitioning => h.expressions.map(_.toString) }
        .filter(_.exists(_.contains("neighbor_id")))
      assert(corpusShuffles.isEmpty,
        s"corpus shuffled in the serving path: $corpusShuffles")
      assert(plan.collect { case b: BroadcastHashJoinExec => b }.size >= 2,
        "expected broadcast joins in both retrieval stages")
    }
  }

  test("multi-probe LSH keeps the corpus unshuffled for candidates") {
    withoutAQE {
      val plan = q("q_ann_multiprobe").queryExecution.executedPlan
      val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
      assert(bhj.nonEmpty, "candidate join must broadcast the probe side")
      val corpusShuffles = plan
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .collect { case h: HashPartitioning => h.expressions.map(_.toString) }
        .filter(_.exists(_.contains("bkt")))
      assert(corpusShuffles.isEmpty,
        s"corpus shuffled on the bucket key: $corpusShuffles")
    }
  }

  test("bpe pairs: map-side combine on the hot key space, top-k as a heap") {
    val plan = physical("q_bpe_pairs").toString
    assert(plan.contains("partial_count"),
      "hot alphabet² key space lost its map-side combine")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-20 merge ranking lost the constant-row heap")
  }

  test("outlier gate plans zero windows (broadcast-stats shape)") {
    val plan = physical("q_outlier_gate").toString
    assert(!plan.contains("Window"), "outlier gate regressed to a window")
    assert(plan.contains("partial_"), "stats aggregation lost partials")
  }

  test("cdc merge is exactly one full-outer exchange pair on the key") {
    // the lakehouse MERGE shape: base and changes each hash-shuffle once on
    // o_orderkey into a single full-outer sort-merge join — no second join,
    // no driver loop, no extra exchange (the final ORDER BY is a range
    // exchange, not counted here)
    withoutAQE(withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val plan = q("q_cdc_merge").queryExecution.executedPlan
      val joins = plan.collect { case j: SortMergeJoinExec => j }
      assert(joins.length == 1, s"expected one merge join, got ${joins.length}")
      assert(joins.head.joinType.toString == "FullOuter",
        s"merge join is ${joins.head.joinType}")
      val hx = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .collect { case h: HashPartitioning => h.expressions.map(_.toString) }
      assert(hx.length == 2, s"expected exactly the merge exchange pair: $hx")
      assert(hx.forall(_.exists(_.contains("o_orderkey"))),
        s"merge exchanges off-key: $hx")
    })
  }

  test("ivm touches base + changes once; merge join reuses agg partitioning") {
    // incremental maintenance = two scans (base rollup input, change set),
    // two map-side-combined aggregates on o_custkey, ONE full-outer merge
    // join that reuses the aggregates' hash partitioning — recomputation
    // from scratch would show a third scan or a union instead
    withoutAQE(withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val plan = q("q_ivm_rollup").queryExecution.executedPlan
      val scanCount = plan.collect { case f: FileSourceScanExec => f }.length
      assert(scanCount == 2, s"expected base + changes scans only, got $scanCount")
      val joins = plan.collect { case j: SortMergeJoinExec => j }
      assert(joins.length == 1 && joins.head.joinType.toString == "FullOuter",
        s"delta merge shape wrong: $joins")
      val hx = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .collect { case h: HashPartitioning => h.expressions.map(_.toString) }
      assert(hx.length == 2 && hx.forall(_.exists(_.contains("o_custkey"))),
        s"expected the two agg exchanges on o_custkey, got $hx")
      assert(plan.toString.contains("partial_"), "aggregates lost map-side partials")
    })
  }

  test("bucketed corpus removes verify-join shuffles: strictly fewer exchanges") {
    // the dedup verify joins re-shuffle the O(corpus) signature table on doc
    // id in the unbucketed plan; a corpus stored bucketed on doc_id exposes
    // HashPartitioning straight from the scan, so those exchanges vanish
    // plan-building in OTHER tests registers persist() fragments (e.g.
    // q_lsh_cost_census's candidate set) in the shared session's cache
    // manager; the substituted InMemoryRelations would elide exchanges
    // from the unbucketed plan and break the strict comparison — count
    // both plans from a clean cache
    spark.catalog.clearCache()
    withoutAQE(withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }.size
      val unbucketed = exchanges(q("q_dedup_minhash"))
      val bucketed = exchanges(q("q_dedup_minhash_bucketed"))
      assert(bucketed < unbucketed,
        s"bucketed plan has $bucketed exchanges vs $unbucketed unbucketed")
    })
  }

  test("layout read prunes partitions: scan touches a fraction of the dirs") {
    withoutAQE {
      val plan = q("q_layout_read").queryExecution.executedPlan
      val scan = plan.collectFirst {
        case f: FileSourceScanExec if f.partitionFilters.nonEmpty => f
      }
      assert(scan.nonEmpty, "layout scan carries no partition filters")
      val f = scan.get
      assert(f.partitionFilters.exists(_.toString.contains("part_id")),
        s"partition filter not on part_id: ${f.partitionFilters}")
      // the one-year predicate must select a strict subset of the 8 range
      // partitions — this is the I/O the layout exists to avoid
      val selected = f.relation.location.listFiles(f.partitionFilters, Nil)
      val all = f.relation.location.listFiles(Nil, Nil)
      assert(all.length == 8, s"expected 8 range partitions, got ${all.length}")
      assert(selected.length < all.length,
        s"no pruning: ${selected.length}/${all.length} partitions read")
      assert(selected.length <= 3,
        s"one year of 7 should touch ≤3 of 8 equal-mass partitions, got ${selected.length}")
    }
  }

  test("span dedup stats join is the Zipf hybrid: broadcast head present") {
    // the heavy-span head must resolve via broadcast joins; losing the hint
    // regresses the stats join to a shuffle that hot-spots on the Zipf head
    val hints = optimized("q_span_dedup").collect { case j: Join => j.hint }
      .filter(h => h.leftHint.flatMap(_.strategy).nonEmpty ||
        h.rightHint.flatMap(_.strategy).nonEmpty)
    assert(hints.size >= 2, s"expected broadcast hints on head joins: $hints")
  }

  test("sliding windows keep map-side partial aggregation") {
    // the 4× window expansion happens before the partial agg, so the
    // shuffle moves (window, type) group rows, not expanded event rows
    assert(physical("q_events_sliding").toString.contains("partial_"),
      "q_events_sliding lost partial aggregation")
  }

  // ---- round-6 additions ---------------------------------------------------

  test("graph edge derivation scans only the two edge columns") {
    // q_degree_hist shares q_pagerank's edge derivation WITHOUT the
    // iteration checkpoints. The read must stay two columns wide — either
    // as a pruned file scan, or (when a sibling query's cached pair set
    // was substituted by the cache manager) as a two-column cache scan
    val plan = physical("q_degree_hist")
    val read = plan.collect { case f: FileSourceScanExec => f.schema.fieldNames }
      .flatten.toSet ++
      plan.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          m.output.map(_.name)
      }.flatten.toSet
    assert(read == Set("l_partkey", "l_suppkey"), s"read: $read")
  }

  test("pagerank iterations are checkpoint-truncated") {
    // the returned plan must scan the LAST iteration's checkpoint, not a
    // 3-iteration join chain — without the per-iteration localCheckpoint
    // the planner re-materializes iterations 1..k−1 every time it
    // broadcasts the rank side (measured 3× the per-iteration work)
    val plan = optimized("q_pagerank")
    assert(plan.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }.nonEmpty, s"expected checkpoint-backed plan, got:\n$plan")
    assert(plan.collectFirst { case j: Join => j }.isEmpty,
      "final pagerank plan still carries the iteration joins")
  }

  test("compaction plan windows per storage partition, never globally") {
    // the cumsum window must partition on source — a global window would
    // serialize the whole file listing onto one task
    val plan = physical("q_compaction_plan").toString
    assert(plan.contains("partitionBy") || plan.contains("PartitionBy")
      || hashExchanges("q_compaction_plan")
        .exists(_.expressions.map(_.toString).exists(_.contains("source"))),
      "q_compaction_plan window lost its source partitioning")
    assert(!plan.contains("SinglePartition") ||
      hashExchanges("q_compaction_plan").nonEmpty,
      "q_compaction_plan planned a single-partition window")
  }

  test("layout audits cache only their audited columns") {
    // both queries persist a projected frame; what must stay bounded is
    // the CACHED width — the full orders row cached by accident would
    // multiply the audit's memory footprint at scale
    def cachedCols(name: String): Set[String] = physical(name).collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        m.output.map(_.name)
    }.flatten.toSet
    val zm = cachedCols("q_zonemap_prune")
    assert(zm == Set("o_orderkey", "k"), s"zonemap cached: $zm")
    val zo = cachedCols("q_zorder_layout")
    assert(zo == Set("cb", "db", "z"), s"zorder cached: $zo")
  }

  test("per-domain cap and sequence mining shuffle on their fine keys") {
    val cap = hashExchanges("q_group_sample_cap")
    assert(cap.exists(_.expressions.map(_.toString).exists(_.contains("source"))),
      s"cap exchanges: ${cap.map(_.expressions.map(_.toString))}")
    val seqs = hashExchanges("q_event_sequences")
    assert(seqs.exists(_.expressions.map(_.toString).exists(_.contains("user_id"))),
      s"seq exchanges: ${seqs.map(_.expressions.map(_.toString))}")
  }

  test("funnel stage joins never broadcast-hint the event side") {
    // per-stage 1-row census crossjoins ARE hinted; the user-keyed stage
    // joins must stay unhinted equi joins (corpus-sized both sides at scale)
    val plan = physical("q_funnel")
    assert(plan.collectFirst { case c: CartesianProductExec => c }.isEmpty)
    val equiJoins = optimized("q_funnel").collect { case j: Join => j }
      .filter(_.condition.nonEmpty)
    assert(equiJoins.nonEmpty, "funnel lost its stage joins")
  }

  test("resample fill: every hash exchange carries the user key") {
    // grid build, daily-last pick and the fill window all shard on
    // user_id(+day) — a keyless exchange would mean a global sort of the
    // grid at scale
    val ex = hashExchanges("q_resample_ffill")
    assert(ex.nonEmpty)
    ex.foreach(h =>
      assert(h.expressions.map(_.toString).exists(_.contains("user_id")),
        s"exchange without user key: ${h.expressions.map(_.toString)}"))
  }

  test("triangle closing-edge probe broadcasts; wedges never shuffle") {
    withoutAQE {
      val plan = q("q_triangles").queryExecution.executedPlan
      assert(plan.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
        "closing-edge probe must be a broadcast join")
      // the only hash exchanges allowed are edge-sized (src/pa/pb/v keys
      // from the self-join and censuses) — none may carry the wedge pair
      // (v, w) together, which would shuffle the Σoutdeg² stream
      val wedgeShuffles = plan
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .collect { case h: HashPartitioning => h.expressions.map(_.toString) }
        .filter(ks => ks.exists(_.contains("v")) && ks.exists(_.contains("w")))
      assert(wedgeShuffles.isEmpty, s"wedge stream shuffled: $wedgeShuffles")
      // and the wedge SELF-join is exchange-free: dir is cached already
      // partitioned on src (the one shuffle paid at cache build), so no
      // visible exchange may carry the src key — losing this re-shuffles
      // the edge set twice per consumer
      val srcShuffles = plan
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .collect { case h: HashPartitioning => h.expressions.map(_.toString) }
        .filter(_.exists(_.contains("src")))
      assert(srcShuffles.isEmpty,
        s"wedge self-join re-shuffled the cached edge set: $srcShuffles")
    }
  }

  test("triangle probe flips to a shuffle join past the edge threshold") {
    // force the chooser past its broadcast bound: the closing-edge probe
    // must become a shuffled join — exactly ONE extra exchange carrying
    // the wedge pair (v, w), the price the flip knowingly pays instead of
    // an over-threshold broadcast (AnalyticsSpec proves result equality)
    withoutAQE {
      val plan = graft.queries.BasketOps.triangles(spark, sf, 0)
        .queryExecution.executedPlan
      val wedgeShuffles = plan
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .collect { case h: HashPartitioning => h.expressions.map(_.toString) }
        .filter(ks => ks.exists(_.contains("v")) && ks.exists(_.contains("w")))
      assert(wedgeShuffles.size == 1,
        s"expected exactly one wedge-side (v, w) exchange, got $wedgeShuffles")
    }
  }

  test("IVF/PQ nearest-centroid assignment is map-only: no vec_id window") {
    // the codebook is folded to one broadcast row and the argmin is a pure
    // projection (sorted (dist, cid) structs); the old shape expanded k
    // rows per vector and shuffled the corpus onto vec_id for a
    // row_number window — a Window partitioned on vec_id reappearing in
    // any of these plans means the assignment stage regressed from a map
    // stage back to a corpus shuffle
    Seq("q_ann_ivf", "q_ivf_tuning", "q_embed_pq", "q_pq_append",
        "q_ann_pq", "q_ann_pq_rerank").foreach { n =>
      val vecWins = physical(n).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.exists(_.toString.contains("vec_id")) => w
      }
      assert(vecWins.isEmpty,
        s"$n: assignment-stage window partitioned on vec_id: $vecWins")
    }
  }

  test("PQ family is one plan keyed by subspace m: no Union, codebook broadcast on m") {
    // the four 16-dim subspaces are rows of one (vec_id, m, sv) frame, not
    // four literal-specialized plan copies unioned — each copy ran its own
    // broadcasts and jobs and compiled its own codegen classes. The
    // codebook (one row per m) must reach the subvectors as a broadcast
    // hash join on m, never a per-subspace cross join.
    import org.apache.spark.sql.catalyst.plans.logical.Union
    Seq("q_embed_pq", "q_ann_pq", "q_ann_pq_rerank", "q_pq_append").foreach { n =>
      val unions = optimized(n).collect { case u: Union => u }.size
      assert(unions == 0, s"$n: optimized plan has $unions Union(s)")
      val onM = physical(n).collect {
        case b: BroadcastHashJoinExec
            if b.leftKeys.exists(_.references.exists(_.name == "m")) => b
      }
      assert(onM.nonEmpty, s"$n: no broadcast hash join keyed on m")
    }
  }

  test("basket supports and fusion legs join as broadcasts") {
    // the census joins carry no hint: AQE chooses them at runtime from the
    // measured census size, so read the build sides of its final plan
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    Map("q_copurchase_rules" -> Set("n_lhs", "n_rhs"), "q_item_sim" -> Set("n_a", "n_b"),
        "q_link_predict" -> Set("da", "db")).foreach { case (n, counts) =>
      val df = q(n)
      df.write.format("noop").mode("overwrite").save()
      val built = Harness.nodes(df.queryExecution.executedPlan).collect {
        case b: BroadcastHashJoinExec =>
          (if (b.buildSide == BuildRight) b.right else b.left).output.map(_.name)
      }.flatten.toSet
      graft.operators.Persisted.releaseAll(spark)
      assert(counts.subsetOf(built), s"$n: the census must be broadcast, built: $built")
    }
  }

  test("heavy-hitters sketch aggregates map-side before the exchange") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val modes = physical("q_heavy_hitters")
      .collect { case a: ObjectHashAggregateExec =>
        a.aggregateExpressions.map(_.mode.toString)
      }.flatten
    assert(modes.contains("Partial"),
      s"MG sketch must partial-aggregate map-side, modes: $modes")
  }

  test("native top-k plans as partial+final heaps with no window sort") {
    import org.apache.spark.sql.execution.window.WindowExec
    withoutAQE {
      val plan = q("q_topk_native").queryExecution.executedPlan
      val heaps = plan.collect { case t: graft.plans.TopKPerKeyExec => t }
      assert(heaps.map(_.partial).sorted == Seq(false, true),
        s"expected one partial and one final TopKPerKeyExec, got $heaps")
      assert(plan.collectFirst { case w: WindowExec => w }.isEmpty,
        "the native operator must not fall back to a window sort")
      // exactly one exchange between the heap passes, keyed on user_id
      val ex = plan
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .collect { case h: HashPartitioning => h.expressions.map(_.toString) }
        .filter(_.exists(_.contains("user_id")))
      assert(ex.size == 1, s"user_id exchanges: $ex")
    }
  }

  test("window-written top-k auto-rewrites to the heap operator") {
    import org.apache.spark.sql.execution.window.WindowExec
    withoutAQE {
      // q_topk_auto is WRITTEN as row_number ≤ k — the injected
      // Rule[LogicalPlan] must swap in TopKPerKey because rn is dropped
      val plan = q("q_topk_auto").queryExecution.executedPlan
      assert(plan.collect { case t: graft.plans.TopKPerKeyExec => t }
        .map(_.partial).sorted == Seq(false, true),
        "TopKRewrite did not fire on the canonical window pattern")
      assert(plan.collectFirst { case w: WindowExec => w }.isEmpty,
        "window sort survived the rewrite")
      // and the guard: q_topk_group KEEPS its rank column, so it must
      // still plan as a window (the rewrite may not steal rn away)
      val grp = q("q_topk_group").queryExecution.executedPlan
      assert(grp.collectFirst { case w: WindowExec => w }.nonEmpty,
        "rewrite fired on a query that uses the rank column")
    }
  }

  test("trend joins the customer dim by broadcast and aggs on the nation key") {
    val bhj = physical("q_trend").collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, "orders⋈customer should broadcast the dim side")
    val ex = hashExchanges("q_trend")
    assert(ex.exists(_.expressions.map(_.toString)
        .exists(_.contains("c_nationkey"))),
      s"trend exchanges: ${ex.map(_.expressions.map(_.toString))}")
  }

  test("sorted-neighborhood window partitions on the block, never globally") {
    // the neighborhood scan must shuffle on the prefix block — a window
    // with an empty partition spec serializes the whole sorted corpus
    // through one task at 100 TB
    import org.apache.spark.sql.execution.window.WindowExec
    val win = physical("q_dedup_sorted_neighborhood")
      .collect { case w: WindowExec => w }
    assert(win.nonEmpty, "SN dedup lost its window")
    assert(win.forall(_.partitionSpec.nonEmpty),
      "SN window has an empty partition spec (single-partition sort)")
    assert(hashExchanges("q_dedup_sorted_neighborhood")
        .exists(_.expressions.map(_.toString).exists(_.contains("blk"))),
      "SN dedup should exchange on the prefix block")
  }

  test("every unpartitioned window rides a bounded census, never raw data") {
    // The repo's census-window discipline, argued per query in comments
    // (duration census in KM/logrank, distinct-cents census in q_gini,
    // decile census in q_isotonic_fit, ...), pinned mechanically (r13
    // verdict item 4): for EVERY gated query, each WindowExec with an
    // empty partitionSpec must consume bounded input — every path from
    // the window down to a leaf must pass an Aggregate (the census), a
    // Limit, or a plan-time-bounded leaf (local/range data). A window
    // over a raw scan/join would single-partition corpus-sized data at
    // 100 TB; this sweep turns ~30 prose claims into one structural check.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, LocalTableScanExec, RangeExec, SparkPlan, TakeOrderedAndProjectExec}
    def bounded(p: SparkPlan): Boolean = p match {
      case _: HashAggregateExec | _: ObjectHashAggregateExec |
           _: SortAggregateExec | _: BaseAggregateExec => true
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec => true
      case _: LocalTableScanExec | _: RangeExec => true
      case i: InMemoryTableScanExec => bounded(i.relation.cachedPlan)
      // leaf wrappers that hide a real subtree
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        bounded(a.inputPlan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        bounded(r.child)
      case leaf if leaf.children.isEmpty => false
      case inner => inner.children.forall(bounded)
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val wins = try {
        physical(name).collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
      } finally {
        graft.operators.Persisted.releaseAll(spark)
        graft.plans.RollupRewrite.clear(spark)
        spark.catalog.clearCache()
      }
      wins.collect { case w if !bounded(w.child) => name }
    }.distinct
    assert(offenders.isEmpty,
      s"unpartitioned windows over unbounded input: $offenders")
  }

  test("the OLS/moment fits carry zero unordered double aggregates") {
    // the r14 q_heaps_law red: a least-squares fit whose moments ride
    // plain double sums is parallelism-dependent exactly when its true
    // value sits on a rounding boundary (degenerate slope = exact 0).
    // These fits were converted to exact decimal(38,0) moments; pin that
    // none of them re-acquires a Sum/Average over a Double in any
    // aggregate node (PlanCensus.doubleAggs is the census-time twin of
    // this check — there it freezes the WHOLE inventory's count per
    // query into the committed fingerprint).
    val fits = Seq("q_heaps_law", "q_zipf_slope", "q_icc", "q_granger_lite",
      "q_hurst", "q_anova", "q_levene", "q_dispersion", "q_assortativity")
    fits.foreach { name =>
      val n = try PlanCensus.doubleAggs(physical(name))
      finally {
        graft.operators.Persisted.releaseAll(spark)
        graft.plans.RollupRewrite.clear(spark)
        spark.catalog.clearCache()
      }
      assert(n == 0, s"$name has $n unordered double-typed aggregates — " +
        "its fit moments must stay exact-decimal / integer")
    }
  }

  test("HLL rollup unions fine sketches instead of rescanning the fact") {
    // two aggregations over the SKETCH column (fine build + coarse union)
    // but the exact anchor is the only other lineitem scan: the rollup
    // path itself must touch lineitem exactly once
    val pureRollup = SparkEntry.benchOnly("q_hll_rollup_only")(spark, sf)
    val scans = pureRollup.queryExecution.sparkPlan
      .collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1,
      s"rollup-only plan should scan lineitem once, saw ${scans.size}")
  }

  test("text_vector keys persist nothing that exchange reuse or a re-scan replaces") {
    // q_minhash_rollup's two aggregates are each read by one self-join, so
    // AQE's reused exchange shares their shuffles; the embeddings cast is
    // a projection of a columnar scan, cheaper to re-scan than to cache.
    // q_ivf_tuning keeps its two call-site persists (exact truth and
    // candidates), whose reads go through different exchanges.
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): Seq[SparkPlan] = Harness.nodes(p).flatMap {
      case m: InMemoryTableScanExec => m +: walk(m.relation.cachedPlan)
      case n => Seq(n)
    }
    def projectionOfScan(p: SparkPlan): Boolean = p match {
      case _: FileSourceScanExec => true
      case _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec |
           _: ProjectExec | _: FilterExec => p.children.forall(projectionOfScan)
      case _ => false
    }
    val callSitePersists = Map("q_ivf_tuning" -> 2).withDefaultValue(0)
    Seq("q_minhash_rollup", "q_embed_pq", "q_ann_pq", "q_ann_pq_rerank",
        "q_pq_append", "q_ann_ivf", "q_ivf_tuning").foreach { name =>
      Harness.release(spark)
      try {
        val df = q(name)
        assert(graft.operators.Persisted.pending(spark) == callSitePersists(name),
          s"$name persisted ${graft.operators.Persisted.pending(spark)} frames")
        df.collect()
        val ns = walk(df.queryExecution.executedPlan)
        val cached = ns.collect { case m: InMemoryTableScanExec => m }
        if (callSitePersists(name) == 0)
          assert(cached.isEmpty, s"$name reads ${cached.size} cached frames")
        assert(!cached.exists(m => projectionOfScan(m.relation.cachedPlan)),
          s"$name caches a projection of a scan")
        if (name == "q_minhash_rollup") {
          val docScans = ns.count {
            case f: FileSourceScanExec =>
              f.metadata.get("Location").exists(_.contains("documents"))
            case _ => false
          }
          assert(docScans == 2, s"q_minhash_rollup scans documents $docScans times")
          assert(ns.exists(_.isInstanceOf[ReusedExchangeExec]),
            "q_minhash_rollup's self-joins no longer reuse an exchange")
        }
      } finally Harness.release(spark)
    }
  }
}
