package graft.queries

import graft.operators.Persisted._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Temporal/history operators over the event stream: SCD-2 interval
  * reconstruction (type-2 slowly-changing dimension from a change log),
  * exponentially time-decayed engagement scores, and per-group top-k.
  *
  * Scale notes: every window here partitions on user_id — a fine-grained
  * key (cardinality grows with the data), so no reducer hot-spots; the
  * SCD-2 subset filter is applied BEFORE the window so the sort only
  * touches the users being reconstructed. Decay weights are per-row
  * arithmetic against a fixed reference time — embarrassingly parallel,
  * one map-side-combined groupBy after.
  */
object TemporalOps {
  type Q = (SparkSession, String) => DataFrame

  private def events(s: SparkSession, d: String) = Tables(s, d, "events")

  /** z₀.₉₇₅ + z₀.₈₀ for the 80%-power / two-sided-5% MDE — summed ONCE
    * in Scala and shipped to both engines as a literal (shortest
    * round-trip), keeping the normal quantiles out of both plans.
    */
  private val ZSum: Double = 1.959963984540054 + 0.8416212335729143

  val queries: Map[String, Q] = Map(
    // ---- SCD-2 reconstruction: collapse each user's event-type change log
    //      into validity intervals [valid_from, valid_to) with a version
    //      number; the open interval is marked valid_to = -1. Change
    //      detection and interval close are two windows over ONE
    //      (user_id)-partitioned sort ----
    "q_scd2" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("secs").asc, col("event_id").asc)
      val e = events(s, d)
        .filter(col("user_id") % 50 === 0)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("secs"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      e.withColumn("version", row_number().over(w))
        .withColumn("valid_to", coalesce(lead(col("secs"), 1).over(w), lit(-1L)))
        .select(col("user_id"), col("version"), col("event_type").as("state"),
          col("secs").as("valid_from"), col("valid_to"))
        .orderBy("user_id", "version")
    }),

    // ---- exponentially time-decayed engagement (7-day e-folding against a
    //      fixed reference instant): per-row weight, one groupBy(user_id).
    //      least(secs, ref) clamps events AFTER the reference to weight 1,
    //      so the weight is ≤ 1 for every event regardless of the data's
    //      time range — decay never silently inverts into growth ----
    "q_decay_agg" -> ((s, d) =>
      events(s, d)
        .select(col("user_id"), col("value"),
          unix_timestamp(col("ts")).as("secs"))
        .withColumn("wgt",
          exp((least(col("secs"), lit(1706745600L)) - 1706745600L)
            .cast("double") / 604800.0))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value") * col("wgt")), 4).as("decayed_value"))
        .orderBy("user_id")),

    // ---- z-score outlier gate (metric-quality analog of the text quality
    //      gates): per-type mean/stddev from ONE map-side-combined pass,
    //      broadcast back, per-row |v − μ| > 3σ flag — the two-pass
    //      broadcast-stats shape of q_quality_percentile, never a window
    //      over the corpus. Census output (n, n_outliers, rounded moments)
    //      keeps the row set constant-size at any event rate. The flag
    //      compares unrounded doubles: both engines compute μ/σ from the
    //      same FP term multiset, and no fixture value sits within an ulp
    //      of a 3σ boundary (the q_stats_agg precedent) ----
    "q_outlier_gate" -> ((s, d) => {
      val stats = events(s, d)
        .groupBy(col("event_type"))
        .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
      events(s, d)
        .join(broadcast(stats), "event_type")
        .select(col("event_type"), col("mu"), col("sd"),
          (abs(col("value") - col("mu")) > col("sd") * 3.0).as("is_outlier"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
          round(first(col("mu")), 4).as("mean_val"),
          round(first(col("sd")), 4).as("sd_val"))
        .orderBy("event_type")
    }),

    // ---- MAD (median-absolute-deviation) outlier gate: the ROBUST twin
    //      of q_outlier_gate — a z-score gate's μ/σ are themselves dragged
    //      by the outliers they hunt; median ± k·MAD is not. Both medians
    //      are DISCRETE (percentile_approx exact mode == DuckDB
    //      quantile_disc, the established equivalence), so every statistic
    //      is an actual data value and the gate compare is pure IEEE
    //      arithmetic — no interpolation-formula parity risk. Two
    //      broadcast-stats passes (med, then MAD over |v − med|), the
    //      q_quality_percentile shape; 4.4478 = 3 · 1.4826 (the normal-
    //      consistency constant), one literal multiply ----
    "q_mad_outlier" -> ((s, d) => {
      val med = events(s, d).groupBy(col("event_type"))
        .agg(percentile_approx(col("value"), lit(0.5), lit(1000000)).as("med"))
      val dev = events(s, d).join(broadcast(med), "event_type")
        .select(col("event_type"), col("value"), col("med"),
          abs(col("value") - col("med")).as("adev"))
      val mad = dev.groupBy(col("event_type"))
        .agg(percentile_approx(col("adev"), lit(0.5), lit(1000000)).as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("adev") > col("mad") * 4.4478, 1L).otherwise(0L))
            .as("n_outliers"),
          round(first(col("med")), 4).as("med_val"),
          round(first(col("mad")), 4).as("mad_val"))
        .orderBy("event_type")
    }),

    // ---- A/B two-sample t statistic (Welch): the experimentation-platform
    //      primitive — cohorts split by user-id parity, per-(metric, arm)
    //      moments from ONE map-side-combined pass, then one census-keyed
    //      join of the two arms. t = (μa−μb)/√(va/na + vb/nb): var_samp
    //      term multisets match across engines (the q_outlier_gate
    //      precedent) and sqrt is IEEE correctly-rounded; rounding only on
    //      output ----
    "q_ab_ttest" -> ((s, d) => {
      val st = events(s, d)
        .select(col("event_type"), (col("user_id") % 2 === 0).as("grp_a"),
          col("value"))
        .groupBy(col("event_type"), col("grp_a"))
        .agg(count(lit(1)).as("n"), avg(col("value")).as("m"),
          var_samp(col("value")).as("v"))
      val a = st.filter(col("grp_a"))
        .select(col("event_type"), col("n").as("na"), col("m").as("ma"),
          col("v").as("va"))
      val b = st.filter(!col("grp_a"))
        .select(col("event_type"), col("n").as("nb"), col("m").as("mb"),
          col("v").as("vb"))
      a.join(b, "event_type")
        .select(col("event_type"), col("na"), col("nb"),
          round(col("ma"), 4).as("mean_a"), round(col("mb"), 4).as("mean_b"),
          round((col("ma") - col("mb")) /
            sqrt(col("va") / col("na").cast("double") +
              col("vb") / col("nb").cast("double")), 4).as("t_stat"))
        .orderBy("event_type")
    }),

    // ---- sequential A/B monitoring (the peeking census) —
    //      q_ab_ttest's time axis: at each DAY, the cumulative
    //      conversion z-score between the two user arms, and the first
    //      day the experiment could have stopped (|z| ≥ 1.96). One
    //      (day × arm) census shuffle; cumulative counts via ordered
    //      window folds over the ≤horizon-days census; z is ONE shared
    //      IEEE expression over exact integers per day, so the crossing
    //      day (an integer argmin behind a float compare on
    //      bit-identical inputs) is engine-invariant ----
    "q_sequential_ab" -> ((s, d) => {
      val daily = abDailyCensus(events(s, d))
      val wCum = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val z = daily
        .withColumn("na", sum(col("na_d")).over(wCum))
        .withColumn("xa", sum(col("xa_d")).over(wCum))
        .withColumn("nb", sum(col("nb_d")).over(wCum))
        .withColumn("xb", sum(col("xb_d")).over(wCum))
        .withColumn("p",
          (col("xa") + col("xb")).cast("double") / (col("na") + col("nb")))
        .withColumn("z", when(col("p") > 0 && col("p") < 1 &&
            col("na") > 0 && col("nb") > 0,
          (col("xa").cast("double") / col("na") -
            col("xb").cast("double") / col("nb")) /
            sqrt(col("p") * (lit(1.0) - col("p")) *
              (lit(1.0) / col("na") + lit(1.0) / col("nb"))))
          .otherwise(lit(0.0)))
        .persistTracked()
      val last = z.orderBy(col("day").desc).limit(1)
        .select(col("na"), col("xa"), col("nb"), col("xb"),
          round(col("z"), 4).as("z_final"))
      val cross = z.filter(abs(col("z")) >= 1.96)
        .agg(min(col("day")).as("first_cross_day"),
          count(lit(1)).as("n_days_crossed"))
      last.crossJoin(broadcast(cross))
    }),

    // ---- CUPED variance reduction — the adjustment every mature
    //      experimentation platform applies before reading an A/B
    //      metric: per user, x = pre-period (first 15 days) total spend
    //      and y = post-period purchase revenue, both exact BIGINT
    //      cents; θ = cov(x,y)/var(x) from POOLED integer co-moments
    //      accumulated in decimal(38,0) (the q_corr_matrix device —
    //      sum(x·y) overflows int64 at warehouse scale), and the
    //      adjusted arm difference is diff_y − θ·diff_x. One user-keyed
    //      shuffle; every reported double is ONE fixed-shape expression
    //      over exact moments, so both engines compute identical bits;
    //      ρ² reports the variance fraction CUPED removes ----
    "q_cuped" -> ((s, d) => {
      val e = events(s, d).select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"),
        col("event_type"), ExactMoney.centsL(col("value")).as("cents"))
      val dmin = e.agg(min(col("day")).as("d0"))
      val per = e.crossJoin(broadcast(dmin))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("d0") + 15, col("cents"))
            .otherwise(0L)).as("x"),
          sum(when(col("day") >= col("d0") + 15 &&
              col("event_type") === "purchase", col("cents"))
            .otherwise(0L)).as("y"))
        .withColumn("a", (col("user_id") % 2 === 0).cast("long"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      per.agg(
          count(lit(1)).as("n"),
          sum(col("a")).as("na"),
          sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
          sum(dec(col("x")) * dec(col("y"))).as("sxy"),
          sum(dec(col("x")) * dec(col("x"))).as("sxx"),
          sum(dec(col("y")) * dec(col("y"))).as("syy"),
          sum(dec(col("a") * col("x"))).as("sxa"),
          sum(dec(col("a") * col("y"))).as("sya"))
        .select(col("na"), (col("n") - col("na")).as("nb"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("theta"),
          (col("sya").cast("double") / col("na") -
            (col("sy") - col("sya")).cast("double") / (col("n") - col("na")))
            .as("dy"),
          (col("sxa").cast("double") / col("na") -
            (col("sx") - col("sxa")).cast("double") / (col("n") - col("na")))
            .as("dx"),
          (((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") *
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")) /
            ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
            .as("r2"))
        .select(col("na"), col("nb"), round(col("theta"), 6).as("theta"),
          round(col("dy"), 4).as("diff_raw"),
          round(col("dy") - col("theta") * col("dx"), 4).as("diff_cuped"),
          round(col("r2"), 6).as("rho2"))
    }),

    // ---- A/B power sizing: the minimum detectable effect at the
    //      CURRENT sample (80% power, two-sided 5%) — z constants are
    //      Scala-computed literals shipped to both engines, everything
    //      else exact counts through one fixed IEEE expression ----
    "q_ab_power" -> ((s, d) =>
      events(s, d)
        .select((col("user_id") % 2 === 0).cast("long").as("a"),
          (col("event_type") === "purchase").cast("long").as("x"))
        .agg(sum(col("a")).as("na"),
          (count(lit(1)) - sum(col("a"))).as("nb"),
          sum(col("x")).as("conv"), count(lit(1)).as("n"))
        .select(col("na"), col("nb"), col("conv"),
          (col("conv").cast("double") / col("n")).as("p"),
          col("na").cast("double").as("nad"), col("nb").cast("double").as("nbd"))
        .select(col("na"), col("nb"), col("conv"), round(col("p"), 6).as("p"),
          round(lit(ZSum) * sqrt(col("p") * (lit(1.0) - col("p")) *
            (lit(1.0) / col("nad") + lit(1.0) / col("nbd"))), 6).as("mde_abs"),
          round(lit(ZSum) * sqrt(col("p") * (lit(1.0) - col("p")) *
            (lit(1.0) / col("nad") + lit(1.0) / col("nbd"))) / col("p"), 6)
            .as("mde_rel"))),

    // ---- top-k per group: each user's 3 highest-value purchases via
    //      row_number over (user_id), the canonical per-key top-k (NOT a
    //      global sort; at scale this is one shuffle and a bounded
    //      per-partition heap) ----
    "q_topk_group" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      events(s, d)
        .filter(col("event_type") === "purchase")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("user_id"), col("rk"), col("event_id"),
          round(col("value"), 2).as("value"))
        .orderBy("user_id", "rk")
    }),

    // ---- the same per-key top-3, through the NATIVE TopKPerKey operator
    //      (graft.plans — custom LogicalPlan + SparkStrategy + SparkPlan):
    //      partial per-partition heaps trim map-side, the exchange moves
    //      ≤k rows per (partition, key), the final heaps merge — no
    //      WindowExec, no per-key sort. The oracle is the row_number
    //      formulation, proving the physical rewrite result-equal ----
    // ---- the AUTO path: written as the canonical row_number window —
    //      the TopKRewrite Rule[LogicalPlan] recognizes that the rank
    //      column is discarded and swaps in TopKPerKey at optimization
    //      time (PlanSpec proves no WindowExec survives). Context.install
    //      puts the rule on every session, so every query with the same
    //      safe pattern gets the heap operator, whatever ran before it,
    //      and the full oracle sweep gates that globally ----
    "q_topk_auto" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      events(s, d)
        .filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("user_id"), col("event_id"),
          round(col("value"), 2).as("value"))
        .orderBy(col("user_id"), col("value").desc, col("event_id"))
    }),

    "q_topk_native" -> ((s, d) => {
      val purch = events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value"))
      graft.plans.TopK.perKey(purch, Seq("user_id"),
          Seq("value" -> false, "event_id" -> true), 3)
        .select(col("user_id"), col("event_id"),
          round(col("value"), 2).as("value"))
        .orderBy(col("user_id"), col("value").desc, col("event_id"))
    })
  )

  /** Per-day (arm trials, arm conversions) census behind
    * [[q_sequential_ab]] — pure sum/count partials, so the STREAMING
    * twin (EventsStream.abDailyCensus) maintains it bit-equal as
    * micro-batch state at any cut (the scoreCensus discipline;
    * StreamingSpec three-way).
    */
  def abDailyCensus(events: DataFrame): DataFrame =
    events
      .select(expr("unix_timestamp(ts) div 86400").as("day"),
        (col("user_id") % 2 === 0).cast("long").as("a"),
        (col("event_type") === "purchase").cast("long").as("x"))
      .groupBy(col("day"))
      .agg(sum(col("a")).as("na_d"),
        sum(col("a") * col("x")).as("xa_d"),
        (count(lit(1)) - sum(col("a"))).as("nb_d"),
        sum((lit(1L) - col("a")) * col("x")).as("xb_d"))

  val oracles: Map[String, String] = Map(
    // identical integer co-moments (HUGEINT == decimal(38,0) exactness
    // at these magnitudes) and the same fixed-shape double expressions
    "q_cuped" ->
      """WITH e AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |         event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |d0 AS (SELECT min(day) AS d0 FROM e),
        |per AS (
        |  SELECT user_id,
        |         CAST(sum(CASE WHEN day < d0 + 15 THEN cents ELSE 0 END)
        |           AS BIGINT) AS x,
        |         CAST(sum(CASE WHEN day >= d0 + 15
        |                        AND event_type = 'purchase'
        |                       THEN cents ELSE 0 END) AS BIGINT) AS y
        |  FROM e, d0 GROUP BY user_id),
        |m AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS na,
        |         sum(CAST(x AS HUGEINT)) AS sx,
        |         sum(CAST(y AS HUGEINT)) AS sy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(y AS HUGEINT) * y) AS syy,
        |         sum(CASE WHEN user_id % 2 = 0
        |                  THEN CAST(x AS HUGEINT) ELSE 0 END) AS sxa,
        |         sum(CASE WHEN user_id % 2 = 0
        |                  THEN CAST(y AS HUGEINT) ELSE 0 END) AS sya
        |  FROM per),
        |sel AS (
        |  SELECT na, n - na AS nb,
        |         CAST(n * sxy - sx * sy AS DOUBLE) /
        |           CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
        |         CAST(sya AS DOUBLE) / na -
        |           CAST(sy - sya AS DOUBLE) / (n - na) AS dy,
        |         CAST(sxa AS DOUBLE) / na -
        |           CAST(sx - sxa AS DOUBLE) / (n - na) AS dx,
        |         (CAST(n * sxy - sx * sy AS DOUBLE) *
        |          CAST(n * sxy - sx * sy AS DOUBLE)) /
        |           (CAST(n * sxx - sx * sx AS DOUBLE) *
        |            CAST(n * syy - sy * sy AS DOUBLE)) AS r2
        |  FROM m)
        |SELECT na, CAST(nb AS BIGINT) AS nb, round(theta, 6) AS theta,
        |       round(dy, 4) AS diff_raw,
        |       round(dy - theta * dx, 4) AS diff_cuped,
        |       round(r2, 6) AS rho2
        |FROM sel""".stripMargin,

    // same counts, same one-expression MDE with the Scala z literal
    "q_ab_power" ->
      s"""WITH c AS (
         |  SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS na,
         |         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS nb,
         |         CAST(sum(CASE WHEN event_type = 'purchase'
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS conv,
         |         count(*) AS n
         |  FROM events),
         |pq AS (SELECT na, nb, conv, CAST(conv AS DOUBLE) / n AS p,
         |              CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd
         |       FROM c)
         |SELECT na, nb, conv, round(p, 6) AS p,
         |       round($ZSum * sqrt(p * (CAST(1 AS DOUBLE) - p) *
         |             (CAST(1 AS DOUBLE) / nad + CAST(1 AS DOUBLE) / nbd)),
         |             6) AS mde_abs,
         |       round($ZSum * sqrt(p * (CAST(1 AS DOUBLE) - p) *
         |             (CAST(1 AS DOUBLE) / nad + CAST(1 AS DOUBLE) / nbd)) /
         |             p, 6) AS mde_rel
         |FROM pq""".stripMargin,

    // same day census, cumulative window folds, and ONE shared z
    // expression (doubles forced everywhere — DuckDB's DECIMAL literal
    // arithmetic is a different number, the q_rate_ci lesson)
    "q_sequential_ab" ->
      """WITH daily AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS na_d,
        |         CAST(sum(CASE WHEN user_id % 2 = 0
        |                        AND event_type = 'purchase'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS xa_d,
        |         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS nb_d,
        |         CAST(sum(CASE WHEN user_id % 2 = 1
        |                        AND event_type = 'purchase'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS xb_d
        |  FROM events GROUP BY 1),
        |cum AS (
        |  SELECT day,
        |         CAST(sum(na_d) OVER wc AS BIGINT) AS na,
        |         CAST(sum(xa_d) OVER wc AS BIGINT) AS xa,
        |         CAST(sum(nb_d) OVER wc AS BIGINT) AS nb,
        |         CAST(sum(xb_d) OVER wc AS BIGINT) AS xb
        |  FROM daily
        |  WINDOW wc AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |                AND CURRENT ROW)),
        |zt AS (
        |  SELECT *, CAST(xa + xb AS DOUBLE) / (na + nb) AS p FROM cum),
        |z2 AS (
        |  SELECT *, CASE WHEN p > 0 AND p < 1 AND na > 0 AND nb > 0
        |    THEN (CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb) /
        |         sqrt(p * (CAST(1 AS DOUBLE) - p) *
        |              (CAST(1 AS DOUBLE) / na + CAST(1 AS DOUBLE) / nb))
        |    ELSE CAST(0 AS DOUBLE) END AS z
        |  FROM zt),
        |lastrow AS (
        |  SELECT na, xa, nb, xb, round(z, 4) AS z_final
        |  FROM z2 ORDER BY day DESC LIMIT 1),
        |crossed AS (
        |  SELECT min(day) AS first_cross_day,
        |         count(*) AS n_days_crossed
        |  FROM z2 WHERE abs(z) >= 1.96)
        |SELECT * FROM lastrow, crossed""".stripMargin,

    "q_ab_ttest" ->
      """WITH st AS (
        |  SELECT event_type, user_id % 2 = 0 AS grp_a,
        |         count(*) AS n, avg(value) AS m, var_samp(value) AS v
        |  FROM events GROUP BY event_type, user_id % 2 = 0)
        |SELECT a.event_type, a.n AS na, b.n AS nb,
        |       round(a.m, 4) AS mean_a, round(b.m, 4) AS mean_b,
        |       round((a.m - b.m) /
        |         sqrt(a.v / CAST(a.n AS DOUBLE) + b.v / CAST(b.n AS DOUBLE)),
        |         4) AS t_stat
        |FROM st a JOIN st b ON a.event_type = b.event_type
        |WHERE a.grp_a AND NOT b.grp_a
        |ORDER BY a.event_type""".stripMargin,

    // quantile_disc == percentile_approx exact mode: both medians are
    // actual data values, so |v − med| multisets match bit-for-bit and the
    // MAD pick is the same element on both engines
    "q_mad_outlier" ->
      """WITH med AS (
        |  SELECT event_type, quantile_disc(value, 0.5) AS med
        |  FROM events GROUP BY event_type),
        |dev AS (
        |  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
        |  FROM events e JOIN med m ON e.event_type = m.event_type),
        |mad AS (
        |  SELECT event_type, quantile_disc(adev, 0.5) AS mad
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN d.adev > x.mad * 4.4478 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_outliers,
        |       round(min(d.med), 4) AS med_val,
        |       round(min(x.mad), 4) AS mad_val
        |FROM dev d JOIN mad x ON d.event_type = x.event_type
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    // avg/stddev_samp sum the same FP term multisets as Spark's; the 3σ
    // comparison is a single IEEE multiply + compare on both sides
    "q_outlier_gate" ->
      """WITH s AS (
        |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN abs(e.value - s.mu) > s.sd * 3.0
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       round(min(s.mu), 4) AS mean_val,
        |       round(min(s.sd), 4) AS sd_val
        |FROM events e JOIN s ON e.event_type = s.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS secs
        |  FROM events WHERE user_id % 50 = 0),
        |c AS (
        |  SELECT *, lag(event_type) OVER w AS prev
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY secs ASC, event_id ASC)),
        |f AS (SELECT * FROM c WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, row_number() OVER w AS version, event_type AS state,
        |       secs AS valid_from,
        |       coalesce(lead(secs) OVER w, -1) AS valid_to
        |FROM f WINDOW w AS (PARTITION BY user_id ORDER BY secs ASC, event_id ASC)
        |ORDER BY user_id, version""".stripMargin,

    "q_decay_agg" ->
      """SELECT user_id, count(*) AS n_events,
        |       round(sum(value * exp(
        |         CAST(least(CAST(floor(epoch(ts)) AS BIGINT), 1706745600)
        |              - 1706745600 AS DOUBLE)
        |           / 604800.0)), 4) AS decayed_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_topk_group" ->
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |             ORDER BY value DESC, event_id ASC) AS rk
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id, rk, event_id, round(value, 2) AS value
        |FROM r WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin,

    "q_topk_auto" ->
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |             ORDER BY value DESC, event_id ASC) AS rk
        |  FROM events WHERE event_type = 'view')
        |SELECT user_id, event_id, round(value, 2) AS value
        |FROM r WHERE rk <= 2
        |ORDER BY user_id, value DESC, event_id""".stripMargin,

    // the row_number formulation IS the ground truth for the native
    // TopKPerKey physical operator
    "q_topk_native" ->
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |             ORDER BY value DESC, event_id ASC) AS rk
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id, event_id, round(value, 2) AS value
        |FROM r WHERE rk <= 3
        |ORDER BY user_id, value DESC, event_id""".stripMargin
  )
}
