package graft.queries

import graft.operators.Persisted._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Time-series operators over the event stream and the order history:
  * gap-filling resample, calendar-window rolling stats and 3σ anomaly
  * flags, PSI drift monitoring, duration-weighted concurrency, EWMA
  * smoothing, an event-type Markov chain, Poisson-bootstrap confidence
  * intervals, and closed-form trend fitting.
  *
  * Reference analog: compositions of the reference's aggregate + window
  * machinery (/root/reference/src/execution/aggregate.rs, filter/projection
  * pipeline) — each query here is expressible as its relational algebra,
  * re-expressed through Spark windows and integer-exact arithmetic.
  *
  * Cross-engine determinism: timestamps reduce to whole seconds
  * (`unix_timestamp` == DuckDB `floor(epoch(ts))`), days/months are integer
  * divisions, money rides as BIGINT cents inside windows, and the trend
  * fit replaces `regr_slope` (different co-moment update orders across
  * engines) with the closed-form least-squares ratio of EXACT integer
  * moments — one IEEE division at the end, bit-identical everywhere.
  */
object TimeSeriesOps {
  type Q = (SparkSession, String) => DataFrame

  /** events with whole-second + day columns — the shared spine. */
  private def ev(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events")
      .select(col("user_id"), col("event_id"), col("value"), col("event_type"),
        unix_timestamp(col("ts")).as("secs"))
      .withColumn("day", expr("secs div 86400"))

  /** Shared spine of q_lateness_census and q_watermark_sizing: per event
    * type, the running event-time high-water-mark lateness distribution —
    * ONE definition so the census and the decision built on it can never
    * measure different things. The running-max window partitions by
    * event_type (per-stream state) over the monotone ingest id.
    */
  private def latenessCounts(s: SparkSession, d: String): DataFrame = {
    val e = Tables(s, d, "events").select(col("event_type"),
      col("event_id"), unix_timestamp(col("ts")).as("secs"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    e.withColumn("late_s", max(col("secs")).over(w) - col("secs"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_s") > 60, 1L).otherwise(0L)).as("late_1m"),
        sum(when(col("late_s") > 300, 1L).otherwise(0L)).as("late_5m"),
        sum(when(col("late_s") > 3600, 1L).otherwise(0L)).as("late_1h"),
        max(col("late_s")).as("max_late_s"))
  }

  /** The Holt (α=β=½) fold over a grouped (day, n) series — the shared
    * recurrence spine of q_holt_forecast and q_forecast_backtest. A
    * LEFT-TO-RIGHT sequential double chain: both engines execute the
    * identical IEEE op sequence (DuckDB twin: the list_reduce form in
    * the oracles), so the (level, trend) state is bit-identical before
    * output rounding.
    */
  private val holtFold: String =
    """aggregate(
      |  transform(array_sort(collect_list(struct(day, n))),
      |            p -> CAST(p.n AS DOUBLE)),
      |  CAST(array() AS ARRAY<DOUBLE>),
      |  (acc, y) -> CASE WHEN size(acc) = 0
      |    THEN array(y, CAST(0.0 AS DOUBLE))
      |    ELSE array(
      |      0.5D * y + 0.5D * (element_at(acc, 1) + element_at(acc, 2)),
      |      0.5D * ((0.5D * y + 0.5D * (element_at(acc, 1)
      |               + element_at(acc, 2))) - element_at(acc, 1))
      |        + 0.5D * element_at(acc, 2)) END)""".stripMargin

  /** DuckDB twin of [[holtFold]] (list_reduce needs acc type == element
    * type, so elements are 1-elem DOUBLE[] and the state a 2-elem one).
    */
  private val holtFoldSql: String =
    """list_reduce(
      |      list_prepend(CAST([] AS DOUBLE[]),
      |        [[CAST(x.n AS DOUBLE)]
      |         for x in list_sort(list({'d': day, 'n': n}))]),
      |      (acc, y) -> CASE WHEN len(acc) = 0
      |        THEN [y[1], CAST(0 AS DOUBLE)]
      |        ELSE [0.5 * y[1] + 0.5 * (acc[1] + acc[2]),
      |              0.5 * ((0.5 * y[1] + 0.5 * (acc[1] + acc[2]))
      |                     - acc[1]) + 0.5 * acc[2]] END)""".stripMargin

  val queries: Map[String, Q] = Map(
    // ---- resample to a daily grid + forward fill (gap filling): every
    //      (user, calendar day) gets the user's most recent observed value.
    //      The grid is users × sequence(d0, d1) — an explode of a
    //      users-sized frame, never an event-sized shuffle; the global date
    //      bounds ride along as a 1-row broadcast. Forward fill is
    //      last(ignoreNulls) over the user-day window — ONE shuffle on
    //      user_id; at 100 TB the grid is |users|·|days| rows, independent
    //      of event volume, and each user's fill is a single partition-local
    //      pass ----
    "q_resample_ffill" -> ((s, d) => {
      val e = ev(s, d)
      val bounds = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val grid = e.select(col("user_id")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      // last event of each (user, day): deterministic pick via the same
      // (secs, event_id) tie-break every event-ordered query here uses
      val daily = e
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("user_id"), col("day"))
          .orderBy(col("secs").desc, col("event_id").desc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("day"), col("value").as("last_val"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          round(last(col("last_val"), ignoreNulls = true).over(w), 2)
            .as("val_ffill"),
          col("last_val").isNotNull.cast("int").as("observed"))
        .orderBy("user_id", "day")
    }),

    // ---- rolling 7-day stats per event type: RANGE frame on the integer
    //      day key, so the trailing window is CALENDAR-bounded (missing
    //      days shrink it) — a ROWS frame would silently span gaps. Money
    //      enters the window as exact BIGINT cents (daily sum rounded to
    //      2 dp once, then integer arithmetic), so the 7-day sums are
    //      association-order-proof across engines. One shuffle to the
    //      (type, day) census, one window on the census — event volume
    //      never touches the window ----
    "q_rolling_stats" -> ((s, d) => {
      val daily = ev(s, d).groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          expr("cast(round(round(sum(value), 2) * 100) as bigint)")
            .as("val_c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-6, Window.currentRow)
      daily.select(col("event_type"), col("day"), col("n"),
          sum(col("n")).over(w).as("n_7d"),
          round(avg(col("n")).over(w), 4).as("avg_n_7d"),
          round(sum(col("val_c")).over(w) / 100.0, 2).as("val_7d"),
          count(lit(1)).over(w).as("days_present_7d"))
        .orderBy("event_type", "day")
    }),

    // ---- rolling anomaly flags: a day is anomalous when its event count
    //      exceeds mean + 3σ of the trailing 7-day window. Both moments
    //      come from EXACT integer window sums (Σn, Σn² — counts are
    //      small, squares stay far inside int64), so mean/σ are single
    //      IEEE divisions/sqrt of exact integers and the 3σ comparison is
    //      deterministic across engines — no streaming-variance formula
    //      parity risk. Windows with <4 prior days are warmup, not
    //      verdicts ----
    "q_rolling_anomaly" -> ((s, d) => {
      val daily = ev(s, d).groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-6, Window.currentRow)
      daily.select(col("event_type"), col("day"), col("n"),
          sum(col("n")).over(w).as("sn"),
          sum(col("n") * col("n")).over(w).as("snn"),
          count(lit(1)).over(w).as("k"))
        .filter(col("k") >= 4)
        .select(col("event_type"), col("day"), col("n"),
          (col("sn").cast("double") / col("k")).as("mean7"),
          sqrt((col("k") * col("snn") - col("sn") * col("sn"))
            .cast("double") / (col("k") * col("k")).cast("double"))
            .as("sd7"))
        .select(col("event_type"), col("day"), col("n"),
          round(col("mean7"), 4).as("mean7"), round(col("sd7"), 4).as("sd7"),
          (col("n") > col("mean7") + lit(3.0) * col("sd7")).cast("int")
            .as("is_anomaly"))
        .orderBy("event_type", "day")
    }),

    // ---- duration-weighted concurrency histogram (the SRE load metric):
    //      sessions (q_sessionize's 30-min-gap construction) become a
    //      sweep line of +1/−1 deltas, COLLAPSED to one net-delta row per
    //      boundary second BEFORE the running sum — so tie ordering inside
    //      a timestamp cannot exist and every interval is deterministic.
    //      Output is seconds spent at each concurrency level. The global
    //      window runs over the collapsed boundary census (2 rows per
    //      session, then merged) — session-count-sized, ≪ event volume;
    //      at extreme scale the same prefix-sum splits into per-range
    //      partials + broadcast offsets, the q_cumulative_users shape ----
    "q_max_concurrency" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("secs").asc, col("event_id").asc)
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = ev(s, d)
        .withColumn("brk",
          when(col("secs") - lag(col("secs"), 1).over(byUser) > 1800, 1)
            .otherwise(0))
        .withColumn("sess_id", sum(col("brk")).over(run))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(min(col("secs")).as("start_s"), max(col("secs")).as("end_s"))
      // active over [start_s, end_s] inclusive → the −1 lands at end_s+1
      val net = sess.select(col("start_s").as("t"), lit(1L).as("delta"))
        .unionByName(sess.select((col("end_s") + 1).as("t"),
          lit(-1L).as("delta")))
        .groupBy(col("t")).agg(sum(col("delta")).as("net"))
      val wo = Window.orderBy(col("t"))
      net
        .withColumn("level", sum(col("net"))
          .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("dur", lead(col("t"), 1).over(wo) - col("t"))
        .filter(col("dur").isNotNull)
        .groupBy(col("level"))
        .agg(sum(col("dur")).as("seconds"), count(lit(1)).as("n_intervals"))
        .orderBy("level")
    }),

    // ---- population stability index (drift monitoring): the value
    //      distribution of the first 15 days vs the rest, over global
    //      decile bins. Bin edges are DISCRETE quantiles (9-row
    //      broadcast); bin assignment = Σ(value ≥ edge) per row against
    //      the broadcast frame — no range join, no sort. Counts census →
    //      Laplace-smoothed shares (zero-proof), per-bin PSI terms keep
    //      ln inside round(...,6); the total sums 10 rounded terms ----
    "q_psi_drift" -> ((s, d) => {
      val e = ev(s, d)
      val d0row = e.agg(min(col("day")).as("d0"))
      val vals = e.crossJoin(broadcast(d0row))
        .select(col("value"),
          (col("day") - col("d0") < 15).cast("int").as("half"))
      val edgeCols = (1 to 9).map(i =>
        percentile_approx(col("value"), lit(i / 10.0), lit(1000000))
          .as(s"t$i"))
      val edges = vals.agg(edgeCols.head, edgeCols.tail: _*)
      val binned = vals.crossJoin(broadcast(edges))
        .select(col("half"),
          (1 to 9).map(i => (col("value") >= col(s"t$i")).cast("long"))
            .reduce(_ + _).as("bin"))
      val census = binned.groupBy(col("bin"))
        .agg(sum(col("half")).as("c1"),
          sum(lit(1L) - col("half")).as("c2"))
      val tot = census.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val terms = census.crossJoin(broadcast(tot))
        .select(col("bin"), col("c1"), col("c2"),
          ((col("c1") + 0.5) / (col("n1") + 5.0)).as("p1"),
          ((col("c2") + 0.5) / (col("n2") + 5.0)).as("p2"))
        .select(col("bin"), col("c1"), col("c2"),
          round((col("p1") - col("p2")) * log(col("p1") / col("p2")), 6)
            .as("psi_term"))
      val total = terms.agg(round(sum(col("psi_term")), 4).as("psi_total"))
      terms.crossJoin(broadcast(total))
        .orderBy("bin")
    }),

    // ---- day-of-week seasonality profile: per (event_type, dow), event
    //      count and basis-point share within the type, plus the type's
    //      peak day — the weekly-periodicity census capacity planning and
    //      anomaly baselines start from. dow is PURE INTEGER arithmetic,
    //      (day + 4) % 7 with 0 = Monday (1970-01-01 was a Thursday) —
    //      both engines' dayofweek() builtins disagree on the week start,
    //      so neither is used. One map-side-combined fine-key agg; the
    //      per-type total and argmax ride a type-cardinality broadcast ----
    "q_seasonal_profile" -> ((s, d) => {
      val dow = ev(s, d).withColumn("dow", expr("(day + 4) % 7"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n_events"))
      val per = dow.groupBy(col("event_type"))
        .agg(sum(col("n_events")).as("n_type"),
          max_by(col("dow"), struct(col("n_events"), -col("dow")))
            .as("peak_dow"))
      dow.join(broadcast(per), "event_type")
        .select(col("event_type"), col("dow"), col("n_events"),
          expr("(n_events * 10000) div n_type").as("share_bp"),
          col("peak_dow"))
        .orderBy("event_type", "dow")
    }),

    // ---- watermark SIZING (the measure → decide step over
    //      q_lateness_census, the Skew.choose philosophy applied to
    //      streaming config): per event type, the smallest horizon from
    //      {1 m, 5 m, 1 h} whose measured drop rate stays ≤ 1% of events
    //      (late_h·100 ≤ n_events — integer compare, no float rate), else
    //      86400 s as the bounded fallback. The chosen number is exactly
    //      what `withWatermark` takes, derived from batch history instead
    //      of guessed; same running-max window as the census ----
    "q_watermark_sizing" -> ((s, d) => {
      latenessCounts(s, d)
        .select(col("event_type"), col("n_events"),
          when(col("late_1m") * 100 <= col("n_events"), 60L)
            .when(col("late_5m") * 100 <= col("n_events"), 300L)
            .when(col("late_1h") * 100 <= col("n_events"), 3600L)
            .otherwise(86400L).as("horizon_s"),
          when(col("late_1m") * 100 <= col("n_events"),
              col("late_1m") * 10000)
            .when(col("late_5m") * 100 <= col("n_events"),
              col("late_5m") * 10000)
            .when(col("late_1h") * 100 <= col("n_events"),
              col("late_1h") * 10000)
            .otherwise(lit(0L)).as("dropped_x10k"))
        .withColumn("drop_bp", expr("dropped_x10k div n_events"))
        .drop("dropped_x10k")
        .orderBy("event_type")
    }),

    // ---- burstiness census (Fano factor / index of dispersion): per
    //      event type, var(daily n)/mean(daily n) — the overdispersion
    //      number that says whether a stream is Poisson-like (≈1) or
    //      bursty (≫1), which decides provisioning headroom and whether
    //      the 3σ anomaly baseline needs a heavier tail. EXACT integer
    //      moments in decimal(38,0) (Σn² at 100 TB event rates wraps
    //      BIGINT); fano > 1 is decided on pure integers (k·Σn² > (Σn)²
    //      + k·Σn), only the reported ratio is one rounded division ----
    "q_burstiness" -> ((s, d) => {
      val daily = ev(s, d).groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_total"),
          sum(col("n").cast("decimal(38,0)") * col("n")).as("snn"))
        .select(col("event_type"), col("n_days"), col("n_total"),
          round((col("n_days") * col("snn") -
              col("n_total").cast("decimal(38,0)") * col("n_total"))
              .cast("double") /
            (col("n_days").cast("decimal(38,0)") * col("n_total"))
              .cast("double"), 4).as("fano"),
          (col("n_days") * col("snn") >
            col("n_total").cast("decimal(38,0)") * col("n_total") +
              col("n_days").cast("decimal(38,0)") * col("n_total"))
            .cast("int").as("overdispersed"))
        .orderBy("event_type")
    }),

    // ---- watermark-lateness census (the number that SIZES a streaming
    //      watermark): for each event, lateness = running event-time
    //      high-water mark at its ARRIVAL (event_id = ingest order) minus
    //      its own event time; the per-type census of events later than
    //      1 m / 5 m / 1 h says which `withWatermark` horizon would have
    //      dropped how much — measured from batch history instead of
    //      guessed. Integer seconds throughout. The running-max window
    //      partitions by event_type (watermarks are per-stream state);
    //      within a type it is a range-partitioned sort on the monotone
    //      ingest id — the same cost class as any per-key ordered scan ----
    "q_lateness_census" -> ((s, d) =>
      latenessCounts(s, d).orderBy("event_type")),

    // ---- Holt double-exponential smoothing + h-step forecast (the level/
    //      trend twin of q_ewma's level-only smoothing): per event_type,
    //      fold the ordered daily-count series through
    //        l' = ½y + ½(l+b);  b' = ½(l'−l) + ½b   (α=β=½)
    //      seeded l=y₁, b=0, then forecast f₇ = l + 7b. The fold is a
    //      LEFT-TO-RIGHT sequential double chain — both engines execute
    //      the identical IEEE op sequence, so the result is bit-identical
    //      before the output rounding even applies (the q_ewma/trend
    //      determinism discipline). Scale: the per-key state is the
    //      (time-bounded, not corpus-bounded) daily series — the same
    //      bounded collect every calendar rollup here rides on; the daily
    //      census itself is one map-side-combined fine-key agg ----
    // ---- rolling-origin forecast backtest — the evaluation loop
    //      q_holt_forecast itself skips: re-run the SAME Holt fold on the
    //      series truncated at 3 cutoffs (7/14/21 days before each
    //      type's end) and score the 7-day-ahead forecast against the
    //      actual. One daily census (persisted), cutoffs as a 3-row
    //      broadcast (the truncation is a per-row filter, never a new
    //      scan), per-(type, cutoff) fold over the time-bounded series;
    //      the actual lands via a LEFT join back to the census (a silent
    //      day gap scores as 0, not a dropped row). The fold is the
    //      SHARED [[holtFold]] spine, so forecast and backtest can never
    //      disagree on the recurrence ----
    "q_forecast_backtest" -> ((s, d) => {
      val daily = ev(s, d).groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n")).persistTracked()
      val ends = daily.groupBy(col("event_type")).agg(max(col("day")).as("dmax"))
      val folded = daily.join(broadcast(ends), "event_type")
        .crossJoin(broadcast(s.range(1, 4).select((col("id") * 7).as("h_age"))))
        .filter(col("day") <= col("dmax") - col("h_age"))
        .groupBy(col("event_type"), col("h_age"), col("dmax"))
        .agg(count(lit(1)).as("n_days"), expr(holtFold).as("lb"))
      val act = daily.select(col("event_type").as("a_type"),
        col("day").as("a_day"), col("n").as("a_n"))
      folded
        .join(act, col("event_type") === col("a_type") &&
          col("a_day") === col("dmax") - col("h_age") + 7, "left")
        .select(col("event_type"), col("h_age").as("cutoff_age"),
          col("n_days"),
          round(element_at(col("lb"), 1) +
            lit(7.0) * element_at(col("lb"), 2), 4).as("forecast_7"),
          coalesce(col("a_n"), lit(0L)).as("actual"),
          round(abs(element_at(col("lb"), 1) +
            lit(7.0) * element_at(col("lb"), 2) -
            coalesce(col("a_n"), lit(0L))), 4).as("abs_err"))
        .orderBy("event_type", "cutoff_age")
    }),

    "q_holt_forecast" -> ((s, d) => {
      val daily = ev(s, d).groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), expr(holtFold).as("lb"))
        .select(col("event_type"), col("n_days"),
          round(element_at(col("lb"), 1), 4).as("level"),
          round(element_at(col("lb"), 2), 4).as("trend"),
          round(element_at(col("lb"), 1) + lit(7.0) * element_at(col("lb"), 2), 4)
            .as("forecast_7"))
        .orderBy("event_type")
    }),

    // ---- exponentially-weighted moving average (α = ½) of the daily
    //      event counts, evaluated at each series' end: weight 2^(day−dmax)
    //      comes from an INTEGER bit shift (1.0 / (1L << age)) — exact
    //      binary powers where libm pow(0.5, k) has no cross-engine
    //      warranty. One census agg + a broadcast per-type max; ages
    //      beyond 62 underflow the shift and contribute exactly 0 ----
    "q_ewma" -> ((s, d) => {
      val daily = ev(s, d).groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      val ends = daily.groupBy(col("event_type"))
        .agg(max(col("day")).as("dmax"), count(lit(1)).as("n_days"))
      daily.join(broadcast(ends), "event_type")
        .withColumn("age", col("dmax") - col("day"))
        .withColumn("w",
          when(col("age") <= 62,
            lit(1.0) /
              expr("cast(shiftleft(1L, cast(age as int)) as double)"))
            .otherwise(lit(0.0)))
        .groupBy(col("event_type"))
        .agg(max(col("dmax")).as("as_of_day"), max(col("n_days")).as("n_days"),
          round(sum(col("n") * col("w")) / sum(col("w")), 6).as("ewma"))
        .orderBy("event_type")
    }),

    // ---- event-type Markov chain: transition matrix P(next | current)
    //      from per-user lead() pairs (ONE user-ordered window, the
    //      q_event_sequences device), plus a 3-step power-iteration
    //      stationary estimate. The matrix is a |types|² census; every
    //      iteration is a census-sized join + map-side-combined sum with
    //      9-dp rounding (the PageRank drift reset). Output rows are
    //      (from, to) cells with the transition probability (IEEE
    //      division of exact counts) and the from-state's π₃ ----
    "q_markov_chain" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("secs").asc, col("event_id").asc)
      val steps = ev(s, d)
        .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
        .filter(col("next_type").isNotNull)
      val cells = steps.groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n_ab"))
      val fromTot = cells.groupBy(col("from_type"))
        .agg(sum(col("n_ab")).as("n_a"))
      val p = cells.join(broadcast(fromTot), "from_type")
        .select(col("from_type"), col("to_type"), col("n_ab"),
          (col("n_ab").cast("double") / col("n_a")).as("p"))
        .persistTracked()
      // state count rides as a 1-row broadcast — no driver-side action
      // blocks the benched plan (the PageRank nRow device)
      val nRow = p.select(col("from_type")).distinct()
        .agg(count(lit(1)).as("ns"))
      var pi = p.select(col("from_type").as("st")).distinct()
        .crossJoin(broadcast(nRow))
        .select(col("st"), (lit(1.0) / col("ns").cast("double")).as("pi"))
      for (_ <- 1 to 3) {
        pi = p.join(pi, col("from_type") === col("st"))
          .groupBy(col("to_type"))
          .agg(round(sum(col("pi") * col("p")), 9).as("pi"))
          .select(col("to_type").as("st"), col("pi"))
          .localCheckpoint()
      }
      p.join(broadcast(pi), col("from_type") === col("st"))
        .select(col("from_type"), col("to_type"), col("n_ab"),
          round(col("p"), 6).as("p_trans"), col("pi").as("pi_from"))
        .orderBy("from_type", "to_type")
    }),

    // ---- bootstrap confidence interval for the mean purchase value,
    //      WITHOUT resampling data movement: each row generates its own
    //      Poisson(1) weight per replicate from the shared deterministic
    //      LCG (inverse-CDF over hard-coded 9-dp thresholds — pure
    //      branches on an IEEE division, bit-identical everywhere), so
    //      the B=50 replicates are a ×B map-side explode + one census
    //      agg; the CI picks DISCRETE order statistics of the rounded
    //      replicate means (no interpolation parity risk) ----
    "q_bootstrap_ci" -> ((s, d) => {
      val P = 2147483647L
      val purch = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("value"))
      val rep = purch
        .select(col("event_id"), col("value"),
          explode(sequence(lit(0L), lit(49L))).as("b"))
        .withColumn("u",
          pmod(pmod(col("event_id") * 50L + col("b"), lit(P)) *
            1103515245L + 12345L, lit(P)).cast("double") / P.toDouble)
        .withColumn("w",
          when(col("u") < 0.367879441, 0L)
            .when(col("u") < 0.735758882, 1L)
            .when(col("u") < 0.919698603, 2L)
            .when(col("u") < 0.980851198, 3L)
            .when(col("u") < 0.996194998, 4L).otherwise(5L))
      val means = rep.groupBy(col("b"))
        .agg(round(sum(col("w") * col("value")) / sum(col("w")), 6)
          .as("mean_b"))
      val ranked = means.withColumn("rk", row_number().over(
        Window.orderBy(col("mean_b").asc, col("b").asc)))
      val full = purch.agg(count(lit(1)).as("n"),
        round(avg(col("value")), 4).as("mean_full"))
      full.crossJoin(broadcast(
          ranked.filter(col("rk") === 2)
            .select(col("mean_b").as("ci_lo"))))
        .crossJoin(broadcast(
          ranked.filter(col("rk") === 49)
            .select(col("mean_b").as("ci_hi"))))
        .select(col("n"), col("mean_full"), col("ci_lo"), col("ci_hi"))
    }),

    // ---- per-nation monthly revenue trend: closed-form least squares
    //      from EXACT moments. x = months-since-year-0 (integer), y =
    //      monthly revenue in cents (one 2-dp rounding); each per-row
    //      product fits int64, but the Σ accumulate in decimal(38,0)
    //      (DuckDB HUGEINT) — at warehouse scale Σ(m·rev_c) passes 10¹⁹
    //      and sum(BIGINT) would wrap silently (the q_corr_matrix
    //      device). slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) evaluates the
    //      exact decimals with ONE cast + IEEE division — bit-identical
    //      across engines, where regr_slope's streaming co-moments are
    //      not. Two shuffles total: the orders⋈customer join (customer
    //      side broadcast-able per dim-table sizing) and the
    //      (nation, month) census agg ----
    // ---- sample autocorrelation function (lags 1..7) of the per-type
    //      daily event-count series — the seasonality detector that turns
    //      q_seasonal_profile's "is there a weekly cycle?" into a number
    //      per lag. Textbook estimator r_k = Σ(y_t−ȳ)(y_{t+k}−ȳ) / Σ(y−ȳ)²
    //      computed CROSS-ENGINE-EXACTLY: multiply through by n² so every
    //      moment is an integer (ȳ = S/n never materializes as a float) —
    //      r_k = (n²·Σy_t·y_{t+k} − n·S·(A_k+B_k) + (n−k)·S²) / (n·(n·Σy²
    //      − S²)) with A_k/B_k the head/tail partial sums; ONE IEEE
    //      division at the end. Scale: one day-level aggregation (map-side
    //      combined), then the lag windows run inside the per-type
    //      partition of a SINGLE shuffle — series length is |days|,
    //      independent of event volume ----
    "q_autocorr" -> ((s, d) => {
      val daily = ev(s, d)
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("y"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val withLags = (1 to 7).foldLeft(daily) { (df, k) =>
        df.withColumn(s"l$k", lag(col("y"), k).over(w))
      }
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val aggCols =
        count(lit(1)).cast("decimal(38,0)").as("n") ::
          sum(dec(col("y"))).as("s") ::
          sum(dec(col("y") * col("y"))).as("syy") ::
          (1 to 7).flatMap(k => Seq(
            sum(dec(col("y") * col(s"l$k"))).as(s"sxy$k"),
            sum(dec(when(col(s"l$k").isNotNull, col("y")))).as(s"b$k"),
            sum(dec(col(s"l$k"))).as(s"a$k"))).toList
      val agg0 = withLags.groupBy(col("event_type"))
        .agg(aggCols.head, aggCols.tail: _*)
      agg0
        .select(col("event_type"), col("n"), col("s"), col("syy"),
          explode(array((1 to 7).map(k =>
            struct(lit(k).as("lag"), col(s"sxy$k").as("sxy"),
              col(s"a$k").as("ak"), col(s"b$k").as("bk"))): _*)).as("m"))
        .select(col("event_type"), col("m.lag").as("lag"),
          // constant series (or lag ≥ n) → zero variance / no pairs: NULL,
          // not NaN (NaN hashing differs across engines)
          when(col("n") * col("syy") === col("s") * col("s") ||
              col("m.sxy").isNull, lit(null).cast("double"))
            .otherwise(round(
              (col("n") * col("n") * col("m.sxy")
                - col("n") * col("s") * (col("m.ak") + col("m.bk"))
                + (col("n") - col("m.lag")) * col("s") * col("s"))
                .cast("double") /
              (col("n") * (col("n") * col("syy") - col("s") * col("s")))
                .cast("double"), 6)).as("acf"))
        .orderBy("event_type", "lag")
    }),

    // ---- CUSUM changepoint detection on the same per-type daily series:
    //      the day t* maximizing |Σ_{i≤t}(y_i − ȳ)| — where the cumulative
    //      deviation from the global mean peaks is where the level shifts.
    //      All-integer argmax: n·c_t = n·cum_t − t·S never divides, ties
    //      break on earliest day; the reported before/after means are the
    //      only divisions (IEEE, rounded). Same one-shuffle shape as
    //      q_autocorr: day-level series, per-type window partitions ----
    // ---- STL-lite detrended day-of-week seasonality (new in r14): how
    //      much does each weekday deviate from the local trend? Trend is
    //      a centered 7-day moving average over the day census — kept as
    //      the exact RATIONAL (sum7, cnt7) so the deviation stays
    //      integer: dev420 = (n·cnt7 − sum7)·(420/cnt7), where 420 =
    //      lcm(4..7) clears every edge-window denominator exactly.
    //      Per-dow seasonality is then ONE division of exact integers —
    //      vs q_seasonal_profile's raw shares, this subtracts the trend
    //      first, so a ramping series doesn't fake a weekday effect.
    //      All windows ride the horizon-bounded day census; sums in
    //      decimal(38,0) ----
    "q_stl_lite" -> ((s, d) => {
      val daily = ev(s, d).groupBy(col("day")).agg(count(lit(1)).as("n"))
      val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
      daily
        .withColumn("sum7", sum(col("n")).over(w7))
        .withColumn("cnt7", count(lit(1)).over(w7))
        .withColumn("dev420",
          ((col("n") * col("cnt7") - col("sum7")) *
            expr("420 div cnt7")).cast("decimal(38,0)"))
        .withColumn("dow", pmod(col("day") + 4, lit(7)))
        .groupBy(col("dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total_n"),
          sum(col("dev420")).as("s420"))
        .select(col("dow"), col("n_days"), col("total_n"),
          round(col("s420").cast("double") / (col("n_days") * 420.0), 6)
            .as("seasonal"))
        .orderBy("dow")
    }),

    "q_changepoint" -> ((s, d) => {
      val daily = ev(s, d)
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("y"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val full = Window.partitionBy(col("event_type"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val scored = daily
        .withColumn("t", row_number().over(w))
        .withColumn("cum", sum(dec(col("y"))).over(w))
        .withColumn("n", count(lit(1)).over(full))
        .withColumn("s", sum(dec(col("y"))).over(full))
        .withColumn("ndev",
          abs(col("n") * col("cum") - col("t") * col("s")))
      scored
        .withColumn("rk", row_number().over(Window
          .partitionBy(col("event_type"))
          .orderBy(col("ndev").desc, col("day").asc)))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("cp_day"),
          round(col("ndev").cast("double") / col("n").cast("double"), 4)
            .as("max_cusum"),
          round(col("cum").cast("double") / col("t").cast("double"), 4)
            .as("mean_before"),
          // t == n (single-day series) leaves no "after" segment — NULL,
          // not 0/0 (the tie-break's day-asc order makes this reachable
          // only when the series has one row)
          when(col("n") === col("t"), lit(null).cast("double"))
            .otherwise(round((col("s") - col("cum")).cast("double") /
              (col("n") - col("t")).cast("double"), 4)).as("mean_after"))
        .orderBy("event_type")
    }),

    "q_trend" -> ((s, d) => {
      val monthly = Tables(s, d, "orders")
        .join(Tables(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"),
          col("o_totalprice"))
        .groupBy(col("c_nationkey"), col("m"))
        .agg(expr("cast(round(round(sum(o_totalprice), 2) * 100) as bigint)")
          .as("rev_c"))
      monthly.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n_m"),
          sum(col("m").cast("decimal(38,0)")).as("sx"),
          sum(col("rev_c").cast("decimal(38,0)")).as("sy"),
          sum(expr("cast(m * rev_c as decimal(38,0))")).as("sxy"),
          sum(expr("cast(m * m as decimal(38,0))")).as("sxx"))
        .select(col("c_nationkey"), col("n_m").cast("bigint").as("n_months"),
          round((col("n_m") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (col("n_m") * col("sxx") - col("sx") * col("sx"))
              .cast("double") / 100.0, 4).as("slope_per_month"),
          round(col("sy").cast("double") / col("n_m").cast("double") / 100.0,
            2).as("avg_monthly_rev"))
        .orderBy("c_nationkey")
    }),

    // ---- Theil–Sen robust trend (new in r14) — q_trend's outlier-proof
    //      sibling: the median of all pairwise slopes over the month
    //      census. The corpus reduces to the calendar-bounded census
    //      FIRST; the 80²/2 pair slopes are each ONE IEEE division of
    //      exact integers (bit-identical cross-engine), and the exact
    //      median (Spark `percentile` == DuckDB `quantile_cont`, same
    //      interpolation up to a rounded-away ulp) runs over the
    //      pair census only. Monthly cents stay < 2⁵³ far past 100 TB
    //      (10¹⁵ cents/month = $10T/month); the intercept median reuses
    //      the 4-dp-rounded slope so both engines subtract the SAME
    //      number ----
    "q_theilsen" -> ((s, d) => {
      val m = Tables(s, d, "orders")
        .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .as("m"),
          col("o_totalprice"))
        .groupBy(col("m"))
        .agg(expr("cast(round(round(sum(o_totalprice), 2) * 100) as bigint)")
          .as("y"))
        .persistTracked()
      val a = m.select(col("m").as("ma"), col("y").as("ya"))
      val b = m.select(col("m").as("mb"), col("y").as("yb"))
      val med = a.join(broadcast(b), col("ma") < col("mb"))
        .select(expr("cast(yb - ya as double) / cast(mb - ma as double)")
          .as("slope"))
        .agg(count(lit(1)).as("n_pairs"),
          round(expr("percentile(slope, 0.5)"), 4).as("sm"))
      m.crossJoin(broadcast(med))
        .select(col("n_pairs"), col("sm"),
          expr("cast(y as double) - sm * m").as("r"))
        .groupBy(col("n_pairs"), col("sm"))
        .agg(count(lit(1)).as("n_months"),
          expr("percentile(r, 0.5)").as("ic"))
        .select(col("n_months"), col("n_pairs"),
          round(col("sm") / 100.0, 6).as("slope_per_month"),
          round(col("ic") / 100.0, 2).as("intercept"))
    }),

    // ---- Wald–Wolfowitz runs test (new in r14): is the daily-revenue
    //      up/down sequence random? Day census (calendar-bounded) →
    //      lag window OVER THE CENSUS → sign sequence with zero-changes
    //      dropped (the textbook treatment); runs/n_up/n_down are exact
    //      integers, the normal-approximation z is one fixed double
    //      shape. Counts stay < 2⁶³ trivially (days ≤ 10⁴) ----
    "q_runs_test" -> ((s, d) => {
      val wd = Window.orderBy(col("day"))
      val daily = Tables(s, d, "orders")
        .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
        .groupBy(col("day"))
        .agg(expr("cast(round(round(sum(o_totalprice), 2) * 100) as bigint)")
          .as("y"))
      val sgn = daily
        .withColumn("prev", lag(col("y"), 1).over(wd))
        .filter(col("prev").isNotNull && col("y") =!= col("prev"))
        .select(col("day"), (col("y") > col("prev")).cast("long").as("s"))
      sgn
        .withColumn("sp", lag(col("s"), 1).over(wd))
        .select(col("s"),
          when(col("sp").isNull || col("s") =!= col("sp"), 1L)
            .otherwise(0L).as("brk"))
        .agg(sum(col("s")).as("n_up"),
          (count(lit(1)) - sum(col("s"))).as("n_down"),
          sum(col("brk")).as("runs"))
        .select(col("n_up"), col("n_down"), col("runs"),
          round(expr(
            "(runs - (1.0 + 2.0 * n_up * n_down / (n_up + n_down))) / " +
              "sqrt((2.0 * n_up * n_down * " +
              "(2.0 * n_up * n_down - (n_up + n_down))) / " +
              "(1.0 * (n_up + n_down) * (n_up + n_down) * " +
              "(n_up + n_down - 1)))"), 6).as("z"))
    }),

    // ---- Gumbel extreme-value fit over monthly block maxima of daily
    //      revenue (new in r14) — the capacity-planning tail estimator:
    //      method-of-moments (β̂ = s·√6/π, μ̂ = x̄ − γβ̂) with √6/π, the
    //      Euler–Mascheroni γ and the ln(−ln(1−1/T)) return-level
    //      quantiles ALL as Scala-computed double literals embedded in
    //      both engines' SQL (the q_ab_power device — zero in-plan libm
    //      beyond one sqrt). Moments are exact HUGEINT/decimal(38,0)
    //      over the ≤ calendar-bounded month-max census ----
    "q_evt_gumbel" -> ((s, d) => {
      val daily = Tables(s, d, "orders")
        .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .as("m"),
          to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
        .groupBy(col("m"), col("day"))
        .agg(expr("cast(round(round(sum(o_totalprice), 2) * 100) as bigint)")
          .as("y"))
      val mx = daily.groupBy(col("m")).agg(max(col("y")).as("bmax"))
      val mom = mx.agg(count(lit(1)).as("n"),
        sum(col("bmax").cast("decimal(38,0)")).as("s"),
        sum(expr("cast(bmax as decimal(38,0)) * bmax")).as("qq"))
      mom.select(col("n").as("n_blocks"),
        round(expr(s"($gumbelMu) / 100.0"), 2).as("mu"),
        round(expr(s"($gumbelBeta) / 100.0"), 2).as("beta"),
        round(expr(s"(($gumbelMu) - ($gumbelBeta) * $GumbelL10) / 100.0"), 2)
          .as("ret10"),
        round(expr(s"(($gumbelMu) - ($gumbelBeta) * $GumbelL100) / 100.0"), 2)
          .as("ret100"))
    }),

    // ---- OLS regression diagnostics: residual, leverage and Cook's
    //      distance per month (new in r14) — which months DISTORT the
    //      q_trend fit. Slope/intercept come from the exact decimal
    //      moments (one cast each, the q_trend device); leverage is the
    //      exact rational 1/n + (n·m − sx)²/(n·(n·sxx − sx²)) evaluated
    //      in one double shape from integer-exact parts; RSS folds
    //      census-ORDERED (e² ≥ 0 → max(cum) is the ordered total, the
    //      q_anova device). Everything rides the calendar-bounded month
    //      census — the corpus is touched by ONE groupBy ----
    // ---- Durbin–Watson residual-autocorrelation test (new in r14) on
    //      the SAME monthly OLS fit as q_cooks_distance (shared
    //      olsMonthlyFit spine — one residual definition): DW =
    //      Σ(eₜ−eₜ₋₁)²/Σeₜ², both sums census-ORDERED monotone folds
    //      (squares ≥ 0 → max(cum) is the ordered total). DW ≈ 2 means
    //      the trend residuals are white; the q_trend slope's SE is
    //      only honest if they are ----
    "q_durbin_watson" -> ((s, d) => {
      val wd = Window.orderBy(col("m"))
      val wCum = wd.rowsBetween(Long.MinValue, 0)
      val fit = olsMonthlyFit(s, d)
      fit
        .withColumn("e1", lag(col("e"), 1).over(wd))
        .withColumn("dnum",
          when(col("e1").isNotNull,
            (col("e") - col("e1")) * (col("e") - col("e1")))
            .otherwise(lit(0.0)))
        .withColumn("cnum", sum(col("dnum")).over(wCum))
        .withColumn("cden", sum(col("e") * col("e")).over(wCum))
        .agg(count(lit(1)).as("n_months"),
          max(col("cnum")).as("num"), max(col("cden")).as("den"))
        .select(col("n_months"),
          round(expr("num / den"), 4).as("dw"))
    }),

    "q_cooks_distance" -> ((s, d) => {
      val W = Window
      val fit = olsMonthlyFit(s, d).persistTracked()
      val wCum = W.orderBy(col("m")).rowsBetween(Long.MinValue, 0)
      val rss = fit.withColumn("cum", sum(col("e") * col("e")).over(wCum))
        .agg(max(col("cum")).as("rss"))
      fit.crossJoin(broadcast(rss))
        .select(col("m").cast("long").as("m"),
          round(col("y").cast("double") / 100.0, 2).as("monthly_rev"),
          round(expr("e / 100.0"), 2).as("resid"),
          round(col("h"), 6).as("leverage"),
          round(expr("(e * e * h) / " +
            "(2.0 * (rss / (n - 2)) * (1.0 - h) * (1.0 - h))"), 6)
            .as("cooks_d"))
        .orderBy("m")
    }),

    // ---- index-of-dispersion (Poisson overdispersion) test on daily
    //      order counts (new in r14): D = s²/x̄ should be ≈1 under a
    //      Poisson arrival process; χ² = (n−1)·s²/x̄ with n−1 dof. Counts
    //      are integers so the moments are EXACT decimals; D and χ² are
    //      fixed shapes with one division each. One groupBy is the whole
    //      corpus touch ----
    "q_dispersion" -> ((s, d) =>
      dispersionFromDaily(dailyCounts(Tables(s, d, "orders")))),

    // ---- Ljung–Box portmanteau whiteness test (new in r14): are daily
    //      order counts jointly uncorrelated at lags 1..7? Each ρ_k uses
    //      the n²-scaled EXACT integer moment identity (the q_autocorr
    //      device — one decimal expression, one division), and
    //      Q = n(n+2)·Σρ²ₖ/(n−k) is a Scala-GENERATED 7-term expression
    //      whose text is identical in both engines. Day census + one
    //      7-lag window over the census ----
    "q_ljung_box" -> ((s, d) => {
      val wd = Window.orderBy(col("day"))
      var lagged = dailyCounts(Tables(s, d, "orders"))
      for (k <- 1 to 7)
        lagged = lagged.withColumn(s"l$k", lag(col("y"), k).over(wd))
      val momCols =
        Seq(count(lit(1)).as("n"),
          sum(col("y").cast("decimal(38,0)")).as("s"),
          sum(expr("cast(y as decimal(38,0)) * y")).as("syy")) ++
          (1 to 7).flatMap { k =>
            Seq(sum(expr(s"cast(y as decimal(38,0)) * l$k")).as(s"sxy$k"),
              sum(when(col(s"l$k").isNotNull, col(s"l$k"))
                .cast("decimal(38,0)")).as(s"a$k"),
              sum(when(col(s"l$k").isNotNull, col("y"))
                .cast("decimal(38,0)")).as(s"b$k"))
          }
      lagged.agg(momCols.head, momCols.tail: _*)
        .select((col("n").as("n_days") +:
          Seq(1, 4, 7).map(k =>
            round(expr(lbRho(k)), 6).as(s"rho$k")) :+
          round(expr(lbQ), 4).as("q_lb")): _*)
    }),

    // ---- Page–Hinkley sequential drift monitor (new in r14) — the
    //      change-detector q_changepoint's ONLINE sibling: running
    //      deviation m_t = Σ(xᵢ − x̄ᵢ − δ) against its running max, alert
    //      when the gap exceeds λ. Every fold is a window over the
    //      calendar-bounded day census; δ/λ are fixed literals. Output
    //      is the alert census (count, first alert day, max gap) ----
    "q_page_hinkley" -> ((s, d) => {
      val wd = Window.orderBy(col("day"))
      val wCum = wd.rowsBetween(Long.MinValue, 0)
      val daily = dailyCounts(Tables(s, d, "orders"))
      daily
        .withColumn("rn", row_number().over(wd))
        .withColumn("cumx", sum(col("y")).over(wCum))
        .withColumn("dev",
          expr("cast(y as double) - cast(cumx as double) / rn - 0.5"))
        .withColumn("m", sum(col("dev")).over(wCum))
        .withColumn("mx", max(col("m")).over(wCum))
        .withColumn("gap", col("mx") - col("m"))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("gap") > 30.0, 1L).otherwise(0L)).as("n_alerts"),
          min(when(col("gap") > 30.0, col("day").cast("string")))
            .as("first_alert"),
          round(max(col("gap")), 4).as("max_gap"))
    }),

    // ---- Granger-style lagged-predictor F-test (new in r14): do
    //      yesterday's CLICKS predict today's PURCHASES beyond what
    //      yesterday's purchases already do? Restricted (y~y₁) vs
    //      unrestricted (y~y₁+x₁) OLS, both solved CLOSED-FORM from the
    //      same exact decimal(38,0) moment matrix — RSS via the normal
    //      equations (RSS = Syy − Σbᵢ·Sᵢy), so no per-row residual pass
    //      exists at all. Day census + one lag window OVER THE CENSUS;
    //      counts are integers, every centered moment is one fixed
    //      double shape (shared text), F is one division ----
    "q_granger_lite" -> ((s, d) => {
      val daily = ev(s, d)
        .groupBy(col("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      val wd = Window.orderBy(col("day"))
      val lagged = daily
        .withColumn("y1", lag(col("y"), 1).over(wd))
        .withColumn("x1", lag(col("x"), 1).over(wd))
        .filter(col("y1").isNotNull)
      val mom = lagged.agg(count(lit(1)).as("n"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(col("y1").cast("decimal(38,0)")).as("s1"),
        sum(col("x1").cast("decimal(38,0)")).as("sx"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"),
        sum(expr("cast(y1 as decimal(38,0)) * y1")).as("s11"),
        sum(expr("cast(x1 as decimal(38,0)) * x1")).as("sxx"),
        sum(expr("cast(y as decimal(38,0)) * y1")).as("sy1"),
        sum(expr("cast(y as decimal(38,0)) * x1")).as("syx"),
        sum(expr("cast(y1 as decimal(38,0)) * x1")).as("s1x"))
      mom.select(col("n").as("n_days"),
          round(expr(GrangerB2), 6).as("b_clicks"),
          round(expr(s"($GrangerRssR)"), 4).as("rss_restricted"),
          round(expr(s"($GrangerRssU)"), 4).as("rss_unrestricted"),
          round(expr(s"(($GrangerRssR) - ($GrangerRssU)) / " +
            s"(($GrangerRssU) / (n - 3))"), 4).as("f_stat"))
    }),

    // ---- rescaled-range (R/S) Hurst exponent of daily order volume
    //      (new in r14) — the long-memory diagnostic: H ≈ 0.5 for iid,
    //      > 0.5 for persistent series. Within each block of b order-days
    //      the cumulative deviation is held ×b so it stays INTEGER
    //      (b·cum_k − k·S_b), Z_b = 0 is included by construction (k = b
    //      term), R×b = max − min integer, and R/S = (max−min)/√(b·Σy² −
    //      S²) is one fixed shape per block over exact decimals. Block
    //      averages fold census-ORDERED (R/S ≥ 0 → max(cum) is the
    //      ordered total); H = (ln r̄s₆₄ − ln r̄s₁₆)/(2·ln 2) — the
    //      3-point log-log slope with x-side constants Scala-literal
    //      (the middle point drops out of the closed form). Everything
    //      rides the calendar-bounded day census ----
    "q_hurst" -> ((s, d) => {
      val W = Window
      val daily = Tables(s, d, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("y"))
      val rn = daily.withColumn("rn",
        row_number().over(W.orderBy(col("day"))))
      val sizes = s.range(0, 3).select(
        expr("CASE id WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64 END").as("b"))
      val expanded = rn.crossJoin(broadcast(sizes))
        .withColumn("blk", expr("(rn - 1) div b"))
        .withColumn("k", expr("(rn - 1) % b + 1"))
      val wCum = W.partitionBy(col("b"), col("blk")).orderBy(col("rn"))
        .rowsBetween(Long.MinValue, 0)
      val wFull = W.partitionBy(col("b"), col("blk"))
      val blocks = expanded
        .withColumn("cum", sum(col("y")).over(wCum))
        .withColumn("stot", sum(col("y")).over(wFull))
        .withColumn("dev", col("b") * col("cum") - col("k") * col("stot"))
        .groupBy(col("b"), col("blk"))
        .agg(count(lit(1)).as("cnt"),
          max(col("dev")).as("mx"), min(col("dev")).as("mn"),
          sum(col("y").cast("decimal(38,0)")).as("ss"),
          sum(expr("cast(y as decimal(38,0)) * y")).as("qq"))
        .filter(col("cnt") === col("b") &&
          expr("b * qq - ss * ss > 0"))
        .withColumn("rs", expr(
          "cast(mx - mn as double) / sqrt(cast(b * qq - ss * ss as double))"))
      val wRs = W.partitionBy(col("b")).orderBy(col("blk"))
        .rowsBetween(Long.MinValue, 0)
      val avg = blocks
        .withColumn("cumrs", sum(col("rs")).over(wRs))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("n_blocks"), max(col("cumrs")).as("rs_sum"))
        .withColumn("rs_avg", expr("rs_sum / n_blocks"))
      avg.agg(
          max(when(col("b") === 16, col("n_blocks"))).as("nb16"),
          max(when(col("b") === 32, col("n_blocks"))).as("nb32"),
          max(when(col("b") === 64, col("n_blocks"))).as("nb64"),
          max(when(col("b") === 16, col("rs_avg"))).as("r16"),
          max(when(col("b") === 32, col("rs_avg"))).as("r32"),
          max(when(col("b") === 64, col("rs_avg"))).as("r64"))
        .select(col("nb16"), col("nb32"), col("nb64"),
          round(col("r16"), 6).as("rs16"),
          round(col("r32"), 6).as("rs32"),
          round(col("r64"), 6).as("rs64"),
          round(expr(s"(ln(r64) - ln(r16)) / $HurstDen"), 4).as("hurst"))
    })
  )

  /** 2·ln 2 — the q_hurst log-log slope denominator (x-points ln 16 <
    * ln 32 < ln 64 are equally spaced by ln 2, so the 3-point
    * least-squares slope reduces to (y₃ − y₁)/(2·ln 2); Scala-literal
    * like the Gumbel constants).
    */
  private val HurstDen: Double = 2.0 * math.log(2.0)

  /** q_ljung_box ρ_k — the q_autocorr n²-scaled exact-moment identity
    * (columns n, s, syy, sxy_k, a_k, b_k in scope), generated per lag so
    * the text is identical in both engines; and the 7-term Q sum.
    */
  private def lbRho(k: Int): String =
    s"cast(n*n*sxy$k - n*s*(a$k+b$k) + (n-$k)*s*s as double)" +
      " / cast(n*(n*syy - s*s) as double)"
  private def lbQ: String =
    s"cast(n as double) * (n + 2) * (" +
      (1 to 7).map(k => s"((${lbRho(k)}) * (${lbRho(k)})) / (n - $k)")
        .mkString(" + ") + ")"

  /** Shared monthly-OLS fit spine of q_cooks_distance and
    * q_durbin_watson: month census, exact decimal moments, slope/
    * intercept/residual/leverage in the fixed double shapes. Factored
    * so both diagnostics read the IDENTICAL residual definition. Only
    * q_cooks_distance reads the fit twice, so it persists it itself.
    */
  private def olsMonthlyFit(s: SparkSession, d: String): DataFrame = {
    val m = Tables(s, d, "orders")
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .as("m"),
        col("o_totalprice"))
      .groupBy(col("m"))
      .agg(expr("cast(round(round(sum(o_totalprice), 2) * 100) as bigint)")
        .as("y"))
      .persistTracked()
    val mom = m.agg(count(lit(1)).as("n"),
      sum(col("m").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum(expr("cast(m as decimal(38,0)) * y")).as("sxy"),
      sum(expr("cast(m as decimal(38,0)) * m")).as("sxx"))
    m.crossJoin(broadcast(mom))
      .withColumn("bb", expr("cast(n * sxy - sx * sy as double) / " +
        "cast(n * sxx - sx * sx as double)"))
      .withColumn("aa",
        expr("(cast(sy as double) - bb * cast(sx as double)) / n"))
      .withColumn("e", expr("cast(y as double) - (aa + bb * m)"))
      .withColumn("h", expr("1.0 / n + " +
        "cast((n * m - sx) * (n * m - sx) as double) / " +
        "cast(n * (n * sxx - sx * sx) as double)"))
  }

  /** q_ljung_box oracle — generated with the SAME lbRho/lbQ text. */
  private def ljungBoxOracle: String = {
    val lagCols = (1 to 7).map(k => s"lag(y, $k) OVER w AS l$k")
      .mkString(",\n|         ")
    val momCols = (1 to 7).map(k =>
      s"""CAST(sum(y*l$k) AS HUGEINT) AS sxy$k,
         |         CAST(sum(l$k) AS HUGEINT) AS a$k,
         |         CAST(sum(CASE WHEN l$k IS NOT NULL THEN y END)
         |              AS HUGEINT) AS b$k""").mkString(",\n")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS y
       |  FROM orders GROUP BY 1),
       |lagged AS (
       |  SELECT y,
       |         $lagCols
       |  FROM daily WINDOW w AS (ORDER BY day)),
       |mom AS (SELECT CAST(count(*) AS HUGEINT) AS n,
       |         CAST(sum(y) AS HUGEINT) AS s,
       |         CAST(sum(y*y) AS HUGEINT) AS syy,
       |$momCols
       |  FROM lagged)
       |SELECT CAST(n AS BIGINT) AS n_days,
       |       round(${lbRho(1)}, 6) AS rho1,
       |       round(${lbRho(4)}, 6) AS rho4,
       |       round(${lbRho(7)}, 6) AS rho7,
       |       round($lbQ, 4) AS q_lb
       |FROM mom""".stripMargin
  }

  /** q_granger_lite centered moments and closed-form OLS — ONE shared
    * expression text per quantity (columns n, sy, s1, sx, syy, s11,
    * sxx, sy1, syx, s1x in scope). Restricted: y ~ y₁. Unrestricted:
    * y ~ y₁ + x₁ via the 2×2 normal-equation determinant. RSS through
    * the normal equations — no residual pass.
    */
  private val GrCyy = "(cast(syy as double) - cast(sy as double) * " +
    "cast(sy as double) / n)"
  private val GrC11 = "(cast(s11 as double) - cast(s1 as double) * " +
    "cast(s1 as double) / n)"
  private val GrCxx = "(cast(sxx as double) - cast(sx as double) * " +
    "cast(sx as double) / n)"
  private val GrC1y = "(cast(sy1 as double) - cast(s1 as double) * " +
    "cast(sy as double) / n)"
  private val GrCxy = "(cast(syx as double) - cast(sx as double) * " +
    "cast(sy as double) / n)"
  private val GrC1x = "(cast(s1x as double) - cast(s1 as double) * " +
    "cast(sx as double) / n)"
  private val GrangerDet = s"(($GrC11) * ($GrCxx) - ($GrC1x) * ($GrC1x))"
  private val GrangerB1 =
    s"((($GrC1y) * ($GrCxx) - ($GrCxy) * ($GrC1x)) / $GrangerDet)"
  private val GrangerB2 =
    s"((($GrCxy) * ($GrC11) - ($GrC1y) * ($GrC1x)) / $GrangerDet)"
  private val GrangerRssR =
    s"($GrCyy) - (($GrC1y) / ($GrC11)) * ($GrC1y)"
  private val GrangerRssU =
    s"($GrCyy) - $GrangerB1 * ($GrC1y) - $GrangerB2 * ($GrCxy)"

  /** q_dispersion's shared spine: the daily order-count census. COUNT
    * partials are integer and associative, so this aggregation also runs
    * as Structured Streaming state (OrdersStream.dailyCounts) with
    * BIT-EXACT equality to batch — micro-batch cuts cannot move it
    * (unlike a double revenue sum, whose re-associated ulps could).
    */
  private[graft] def dailyCounts(orders: DataFrame): DataFrame =
    orders.groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("y"))

  /** The dispersion read model over the day census (batch or streamed
    * state) — exact decimal moments, fixed double shapes.
    */
  private[graft] def dispersionFromDaily(daily: DataFrame): DataFrame =
    daily.agg(count(lit(1)).as("n"),
        sum(col("y").cast("decimal(38,0)")).as("ss"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("qq"))
      .select(col("n").as("n_days"),
        round(expr("cast(ss as double) / n"), 4).as("mean_per_day"),
        round(expr("(cast(qq as double) - " +
          "cast(ss as double) * cast(ss as double) / n) / (n - 1)"), 4)
          .as("var_per_day"),
        round(expr("((cast(qq as double) - " +
          "cast(ss as double) * cast(ss as double) / n) / (n - 1)) / " +
          "(cast(ss as double) / n)"), 6).as("dispersion"),
        round(expr("(n - 1) * (((cast(qq as double) - " +
          "cast(ss as double) * cast(ss as double) / n) / (n - 1)) / " +
          "(cast(ss as double) / n))"), 4).as("chi2"))

  /** Gumbel method-of-moments shapes shared verbatim by the Spark plan
    * and the DuckDB oracle (columns n, s, qq in scope): β̂ = s·√6/π from
    * the census std-dev, μ̂ = x̄ − γ·β̂. The constants are shortest-
    * round-trip Scala double literals, so both engines evaluate the
    * IDENTICAL expression text — the only in-plan libm is sqrt (correctly
    * rounded per IEEE 754, bit-identical everywhere).
    */
  private val GumbelC1: Double = math.sqrt(6.0) / math.Pi
  private val GumbelGamma: Double = 0.5772156649015329
  /** ln(−ln(1−1/T)) for T = 10, 100 — negative, so ret_T > μ̂. */
  private val GumbelL10: Double = math.log(-math.log(0.9))
  private val GumbelL100: Double = math.log(-math.log(0.99))
  private def gumbelBeta: String =
    "sqrt((CAST(qq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)" +
      s" / (n - 1)) * $GumbelC1"
  private def gumbelMu: String =
    s"CAST(s AS DOUBLE) / n - $GumbelGamma * ($gumbelBeta)"

  /** q_autocorr oracle: the same n²-scaled integer moments, one UNION ALL
    * branch per lag (generated — identical arithmetic text per k). */
  private def autocorrOracle: String = {
    val lags = (1 to 7).map { k =>
      s"""SELECT event_type, $k AS lag,
         |  CASE WHEN n * syy = s * s OR sxy$k IS NULL THEN NULL
         |       ELSE round(CAST(n*n*sxy$k - n*s*(a$k+b$k) + (n-$k)*s*s
         |                       AS DOUBLE)
         |                  / CAST(n*(n*syy - s*s) AS DOUBLE), 6)
         |  END AS acf
         |FROM m""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\n")
    val lagCols = (1 to 7).map(k =>
      s"lag(y, $k) OVER w AS l$k").mkString(",\n|         ")
    val momCols = (1 to 7).map(k =>
      s"""CAST(sum(y*l$k) AS HUGEINT) AS sxy$k,
         |         CAST(sum(CASE WHEN l$k IS NOT NULL THEN y END) AS HUGEINT)
         |           AS b$k,
         |         CAST(sum(l$k) AS HUGEINT) AS a$k""").mkString(",\n")
    s"""WITH daily AS MATERIALIZED (
       |  SELECT event_type,
       |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
       |         count(*) AS y
       |  FROM events GROUP BY 1, 2),
       |lagged AS MATERIALIZED (
       |  SELECT event_type, y,
       |         $lagCols
       |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
       |m AS MATERIALIZED (
       |  SELECT event_type,
       |         CAST(count(*) AS HUGEINT) AS n,
       |         CAST(sum(y) AS HUGEINT) AS s,
       |         CAST(sum(y*y) AS HUGEINT) AS syy,
       |         $momCols
       |  FROM lagged GROUP BY 1)
       |$lags
       |ORDER BY event_type, lag""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_autocorr" -> autocorrOracle,

    // same all-integer CUSUM argmax, same earliest-day tie-break
    // identical day census, the same exact-rational trend device
    "q_stl_lite" ->
      """WITH daily AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |         count(*) AS n
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, n,
        |         CAST(sum(n) OVER w7 AS BIGINT) AS sum7,
        |         CAST(count(*) OVER w7 AS BIGINT) AS cnt7
        |  FROM daily
        |  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
        |                AND 3 FOLLOWING)),
        |d2 AS (
        |  SELECT (day + 4) % 7 AS dow, n,
        |         CAST((n * cnt7 - sum7) * (420 // cnt7) AS HUGEINT)
        |           AS dev420
        |  FROM t)
        |SELECT dow, count(*) AS n_days, CAST(sum(n) AS BIGINT) AS total_n,
        |       round(CAST(sum(dev420) AS DOUBLE) /
        |             (count(*) * 420.0), 6) AS seasonal
        |FROM d2 GROUP BY dow ORDER BY dow""".stripMargin,

    "q_changepoint" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |         count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |scored AS MATERIALIZED (
        |  SELECT event_type, day,
        |         row_number() OVER w AS t,
        |         CAST(sum(y) OVER (PARTITION BY event_type ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS HUGEINT) AS cum,
        |         CAST(count(*) OVER p AS HUGEINT) AS n,
        |         CAST(sum(y) OVER p AS HUGEINT) AS s
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day),
        |         p AS (PARTITION BY event_type)),
        |r AS (
        |  SELECT event_type, day, t, cum, n, s,
        |         abs(n*cum - t*s) AS ndev,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY abs(n*cum - t*s) DESC, day ASC) AS rk
        |  FROM scored)
        |SELECT event_type, day AS cp_day,
        |       round(CAST(ndev AS DOUBLE) / CAST(n AS DOUBLE), 4)
        |         AS max_cusum,
        |       round(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE), 4)
        |         AS mean_before,
        |       CASE WHEN n = t THEN NULL
        |            ELSE round(CAST(s - cum AS DOUBLE)
        |                       / CAST(n - t AS DOUBLE), 4)
        |       END AS mean_after
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,

    // same census, same integer ≤1% decision ladder
    "q_watermark_sizing" ->
      """WITH e AS (
        |  SELECT event_type, event_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS secs
        |  FROM events),
        |l AS (
        |  SELECT event_type,
        |         max(secs) OVER (PARTITION BY event_type ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - secs AS late_s
        |  FROM e),
        |c AS (
        |  SELECT event_type, count(*) AS n_events,
        |         CAST(sum(CASE WHEN late_s > 60 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS l1,
        |         CAST(sum(CASE WHEN late_s > 300 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS l5,
        |         CAST(sum(CASE WHEN late_s > 3600 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS lh
        |  FROM l GROUP BY event_type)
        |SELECT event_type, n_events,
        |       CASE WHEN l1 * 100 <= n_events THEN 60
        |            WHEN l5 * 100 <= n_events THEN 300
        |            WHEN lh * 100 <= n_events THEN 3600
        |            ELSE 86400 END AS horizon_s,
        |       CASE WHEN l1 * 100 <= n_events THEN (l1 * 10000) // n_events
        |            WHEN l5 * 100 <= n_events THEN (l5 * 10000) // n_events
        |            WHEN lh * 100 <= n_events THEN (lh * 10000) // n_events
        |            ELSE 0 END AS drop_bp
        |FROM c ORDER BY event_type""".stripMargin,

    // identical integer moments (HUGEINT = the decimal(38,0) twin); the
    // overdispersion flag decided on integers, the ratio one division
    "q_burstiness" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(n) AS BIGINT) AS n_total,
        |         sum(CAST(n AS HUGEINT) * n) AS snn
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days, n_total,
        |       round(CAST(n_days * snn -
        |                  CAST(n_total AS HUGEINT) * n_total AS DOUBLE) /
        |             CAST(CAST(n_days AS HUGEINT) * n_total AS DOUBLE), 4)
        |         AS fano,
        |       CAST(CASE WHEN n_days * snn >
        |                      CAST(n_total AS HUGEINT) * n_total +
        |                      CAST(n_days AS HUGEINT) * n_total
        |                 THEN 1 ELSE 0 END AS INTEGER) AS overdispersed
        |FROM m ORDER BY event_type""".stripMargin,

    // same integer dow ((day + 4) % 7, 0 = Monday); peak via row_number
    // on the identical (n desc, dow asc) total order
    "q_seasonal_profile" ->
      """WITH dw AS (
        |  SELECT event_type,
        |         ((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7
        |           AS dow,
        |         count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |per AS (
        |  SELECT event_type, CAST(sum(n_events) AS BIGINT) AS n_type
        |  FROM dw GROUP BY 1),
        |pk AS (
        |  SELECT event_type, dow AS peak_dow FROM (
        |    SELECT event_type, dow,
        |           row_number() OVER (PARTITION BY event_type
        |             ORDER BY n_events DESC, dow ASC) AS rn
        |    FROM dw) WHERE rn = 1)
        |SELECT dw.event_type, dow, n_events,
        |       (n_events * 10000) // n_type AS share_bp, peak_dow
        |FROM dw JOIN per ON dw.event_type = per.event_type
        |        JOIN pk ON dw.event_type = pk.event_type
        |ORDER BY dw.event_type, dow""".stripMargin,

    "q_resample_ffill" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS secs,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
        |grid AS (
        |  SELECT u.user_id, unnest(range(b.d0, b.d1 + 1)) AS day
        |  FROM (SELECT DISTINCT user_id FROM e) u CROSS JOIN b),
        |daily AS (
        |  SELECT user_id, day, value AS last_val FROM (
        |    SELECT user_id, day, value,
        |           row_number() OVER (PARTITION BY user_id, day
        |             ORDER BY secs DESC, event_id DESC) AS rn
        |    FROM e) WHERE rn = 1)
        |SELECT g.user_id AS user_id, g.day AS day,
        |       round(last_value(dd.last_val IGNORE NULLS) OVER (
        |         PARTITION BY g.user_id ORDER BY g.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |         AS val_ffill,
        |       CASE WHEN dd.last_val IS NOT NULL THEN 1 ELSE 0 END AS observed
        |FROM grid g LEFT JOIN daily dd
        |  ON g.user_id = dd.user_id AND g.day = dd.day
        |ORDER BY user_id, day""".stripMargin,

    "q_rolling_stats" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |         count(*) AS n,
        |         CAST(round(round(sum(value), 2) * 100) AS BIGINT) AS val_c
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n,
        |       CAST(sum(n) OVER w AS BIGINT) AS n_7d,
        |       round(avg(n) OVER w, 4) AS avg_n_7d,
        |       round(CAST(sum(val_c) OVER w AS BIGINT) / 100.0, 2) AS val_7d,
        |       count(*) OVER w AS days_present_7d
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,

    // the 3σ comparison runs on the UNROUNDED moments (the output rounds
    // for display only), mirroring the Spark column shadowing exactly
    "q_rolling_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |win AS (
        |  SELECT event_type, day, n,
        |         CAST(sum(n) OVER w AS BIGINT) AS sn,
        |         CAST(sum(n * n) OVER w AS BIGINT) AS snn,
        |         count(*) OVER w AS k
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |mom AS (
        |  SELECT event_type, day, n,
        |         CAST(sn AS DOUBLE) / k AS mean7,
        |         sqrt(CAST(k * snn - sn * sn AS DOUBLE) /
        |              CAST(k * k AS DOUBLE)) AS sd7
        |  FROM win WHERE k >= 4)
        |SELECT event_type, day, n,
        |       round(mean7, 4) AS mean7, round(sd7, 4) AS sd7,
        |       CASE WHEN n > mean7 + 3.0 * sd7 THEN 1 ELSE 0 END
        |         AS is_anomaly
        |FROM mom ORDER BY event_type, day""".stripMargin,

    "q_max_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS secs
        |  FROM events),
        |brk AS (
        |  SELECT *, CASE WHEN secs - lag(secs) OVER w > 1800
        |                 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |                      ORDER BY secs ASC, event_id ASC)),
        |sess AS (
        |  SELECT user_id, sess_id, min(secs) AS start_s, max(secs) AS end_s
        |  FROM (SELECT *, CAST(sum(brk) OVER (
        |          PARTITION BY user_id ORDER BY secs ASC, event_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS sess_id FROM brk)
        |  GROUP BY user_id, sess_id),
        |net AS (
        |  SELECT t, CAST(sum(delta) AS BIGINT) AS net FROM (
        |    SELECT start_s AS t, 1 AS delta FROM sess
        |    UNION ALL
        |    SELECT end_s + 1 AS t, -1 AS delta FROM sess)
        |  GROUP BY t),
        |lvl AS (
        |  SELECT CAST(sum(net) OVER (ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS level,
        |         lead(t) OVER (ORDER BY t) - t AS dur
        |  FROM net)
        |SELECT level, CAST(sum(dur) AS BIGINT) AS seconds,
        |       count(*) AS n_intervals
        |FROM lvl WHERE dur IS NOT NULL
        |GROUP BY level ORDER BY level""".stripMargin,

    // Laplace smoothing forced into DOUBLE arithmetic: DuckDB would run
    // (c+0.5)/(n+5.0) in DECIMAL, a different number than the IEEE path
    "q_psi_drift" ->
      """WITH e AS (
        |  SELECT value,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |d0 AS (SELECT min(day) AS d0 FROM e),
        |vals AS (
        |  SELECT value,
        |         CASE WHEN day - d0 < 15 THEN 1 ELSE 0 END AS half
        |  FROM e CROSS JOIN d0),
        |edges AS (
        |  SELECT quantile_disc(value, 0.1) AS t1, quantile_disc(value, 0.2) AS t2,
        |         quantile_disc(value, 0.3) AS t3, quantile_disc(value, 0.4) AS t4,
        |         quantile_disc(value, 0.5) AS t5, quantile_disc(value, 0.6) AS t6,
        |         quantile_disc(value, 0.7) AS t7, quantile_disc(value, 0.8) AS t8,
        |         quantile_disc(value, 0.9) AS t9
        |  FROM vals),
        |binned AS (
        |  SELECT half,
        |         CAST(value >= t1 AS BIGINT) + CAST(value >= t2 AS BIGINT) +
        |         CAST(value >= t3 AS BIGINT) + CAST(value >= t4 AS BIGINT) +
        |         CAST(value >= t5 AS BIGINT) + CAST(value >= t6 AS BIGINT) +
        |         CAST(value >= t7 AS BIGINT) + CAST(value >= t8 AS BIGINT) +
        |         CAST(value >= t9 AS BIGINT) AS bin
        |  FROM vals CROSS JOIN edges),
        |census AS (
        |  SELECT bin, CAST(sum(half) AS BIGINT) AS c1,
        |         CAST(sum(1 - half) AS BIGINT) AS c2
        |  FROM binned GROUP BY bin),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |               CAST(sum(c2) AS BIGINT) AS n2 FROM census),
        |terms AS (
        |  SELECT bin, c1, c2,
        |         round((p1 - p2) * ln(p1 / p2), 6) AS psi_term
        |  FROM (SELECT bin, c1, c2,
        |          (CAST(c1 AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |          (CAST(n1 AS DOUBLE) + CAST(5.0 AS DOUBLE)) AS p1,
        |          (CAST(c2 AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |          (CAST(n2 AS DOUBLE) + CAST(5.0 AS DOUBLE)) AS p2
        |        FROM census CROSS JOIN tot)),
        |total AS (SELECT round(sum(psi_term), 4) AS psi_total FROM terms)
        |SELECT bin, c1, c2, psi_term, psi_total
        |FROM terms CROSS JOIN total ORDER BY bin""".stripMargin,

    // DuckDB `<<` on BIGINT mirrors Spark's shiftleft: both produce the
    // exact integer 2^age, and 1/2^age is an exact double for age ≤ 62
    "q_lateness_census" ->
      """WITH e AS (
        |  SELECT event_type, event_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS secs
        |  FROM events),
        |l AS (
        |  SELECT event_type,
        |         max(secs) OVER (PARTITION BY event_type ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - secs AS late_s
        |  FROM e)
        |SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CASE WHEN late_s > 60 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS late_1m,
        |       CAST(sum(CASE WHEN late_s > 300 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS late_5m,
        |       CAST(sum(CASE WHEN late_s > 3600 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS late_1h,
        |       max(late_s) AS max_late_s
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same fold, DuckDB dialect: list_reduce needs acc type == element
    // type, so elements are 1-elem DOUBLE[] and the state a 2-elem one —
    // the arithmetic sequence is identical op for op
    "q_holt_forecast" ->
      s"""WITH daily AS (
         |  SELECT event_type,
         |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         |         count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |folded AS (
         |  SELECT event_type, count(*) AS n_days,
         |    $holtFoldSql AS lb
         |  FROM daily GROUP BY event_type)
         |SELECT event_type, n_days,
         |       round(lb[1], 4) AS level,
         |       round(lb[2], 4) AS trend,
         |       round(lb[1] + 7.0 * lb[2], 4) AS forecast_7
         |FROM folded ORDER BY event_type""".stripMargin,

    // same fold on the truncated series; actual via LEFT join, gap = 0
    "q_forecast_backtest" ->
      s"""WITH daily AS MATERIALIZED (
         |  SELECT event_type,
         |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         |         count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |ends AS (SELECT event_type, max(day) AS dmax
         |         FROM daily GROUP BY 1),
         |folded AS (
         |  SELECT event_type, h_age, dmax, count(*) AS n_days,
         |    $holtFoldSql AS lb
         |  FROM (SELECT d.event_type, d.day, d.n, e.dmax,
         |               CAST(a.h_age AS BIGINT) AS h_age
         |        FROM daily d
         |        JOIN ends e ON d.event_type = e.event_type,
         |             (VALUES (7), (14), (21)) a(h_age)
         |        WHERE d.day <= e.dmax - a.h_age)
         |  GROUP BY event_type, h_age, dmax)
         |SELECT f.event_type, h_age AS cutoff_age, n_days,
         |       round(lb[1] + 7.0 * lb[2], 4) AS forecast_7,
         |       CAST(COALESCE(a.n, 0) AS BIGINT) AS actual,
         |       round(abs(lb[1] + 7.0 * lb[2] - COALESCE(a.n, 0)), 4)
         |         AS abs_err
         |FROM folded f LEFT JOIN daily a
         |  ON f.event_type = a.event_type
         | AND a.day = f.dmax - f.h_age + 7
         |ORDER BY f.event_type, cutoff_age""".stripMargin,

    "q_ewma" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |ends AS (
        |  SELECT event_type, max(day) AS dmax, count(*) AS n_days
        |  FROM daily GROUP BY 1),
        |wts AS (
        |  SELECT daily.event_type, n, dmax, n_days,
        |         CASE WHEN dmax - day <= 62
        |              THEN CAST(1 AS DOUBLE) /
        |                   CAST(CAST(1 AS BIGINT) <<
        |                        CAST(dmax - day AS INTEGER) AS DOUBLE)
        |              ELSE CAST(0 AS DOUBLE) END AS w
        |  FROM daily JOIN ends ON daily.event_type = ends.event_type)
        |SELECT event_type, max(dmax) AS as_of_day, max(n_days) AS n_days,
        |       round(sum(n * w) / sum(w), 6) AS ewma
        |FROM wts GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_markov_chain" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS secs
        |  FROM events),
        |steps AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY secs ASC, event_id ASC) AS to_type
        |  FROM e),
        |cells AS (
        |  SELECT from_type, to_type, count(*) AS n_ab FROM steps
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |ft AS (SELECT from_type, CAST(sum(n_ab) AS BIGINT) AS n_a
        |       FROM cells GROUP BY 1),
        |p AS (
        |  SELECT cells.from_type, to_type, n_ab,
        |         CAST(n_ab AS DOUBLE) / n_a AS p
        |  FROM cells JOIN ft ON cells.from_type = ft.from_type),
        |ns AS (SELECT count(DISTINCT from_type) AS ns FROM p),
        |pi0 AS (SELECT DISTINCT from_type AS st,
        |               CAST(1.0 AS DOUBLE) / (SELECT ns FROM ns) AS pi
        |        FROM p),
        |pi1 AS (SELECT to_type AS st, round(sum(pi * p), 9) AS pi
        |        FROM p JOIN pi0 ON p.from_type = pi0.st GROUP BY to_type),
        |pi2 AS (SELECT to_type AS st, round(sum(pi * p), 9) AS pi
        |        FROM p JOIN pi1 ON p.from_type = pi1.st GROUP BY to_type),
        |pi3 AS (SELECT to_type AS st, round(sum(pi * p), 9) AS pi
        |        FROM p JOIN pi2 ON p.from_type = pi2.st GROUP BY to_type)
        |SELECT p.from_type AS from_type, p.to_type AS to_type, n_ab,
        |       round(p, 6) AS p_trans, pi AS pi_from
        |FROM p JOIN pi3 ON p.from_type = pi3.st
        |ORDER BY from_type, to_type""".stripMargin,

    // identical LCG + inverse-CDF thresholds; CI = discrete order
    // statistics (ranks 2 and 49 of 50) of the 6-dp-rounded means
    "q_bootstrap_ci" ->
      """WITH purch AS (
        |  SELECT event_id, value FROM events
        |  WHERE event_type = 'purchase'),
        |rep AS (
        |  SELECT event_id, value, unnest(range(0, 50)) AS b FROM purch),
        |uw AS (
        |  SELECT value, b,
        |         CAST(((event_id * 50 + b) % 2147483647) * 1103515245
        |              + 12345 AS BIGINT) % 2147483647 AS lcg
        |  FROM rep),
        |w AS (
        |  SELECT value, b,
        |         CASE WHEN u < 0.367879441 THEN 0
        |              WHEN u < 0.735758882 THEN 1
        |              WHEN u < 0.919698603 THEN 2
        |              WHEN u < 0.980851198 THEN 3
        |              WHEN u < 0.996194998 THEN 4
        |              ELSE 5 END AS w
        |  FROM (SELECT value, b,
        |          CAST(lcg AS DOUBLE) / CAST(2147483647 AS DOUBLE) AS u
        |        FROM uw)),
        |means AS (
        |  SELECT b, round(sum(w * value) / sum(w), 6) AS mean_b
        |  FROM w GROUP BY b),
        |ranked AS (
        |  SELECT mean_b, row_number() OVER
        |    (ORDER BY mean_b ASC, b ASC) AS rk FROM means),
        |whole AS (
        |  SELECT count(*) AS n, round(avg(value), 4) AS mean_full
        |  FROM purch)
        |SELECT n, mean_full,
        |       (SELECT mean_b FROM ranked WHERE rk = 2) AS ci_lo,
        |       (SELECT mean_b FROM ranked WHERE rk = 49) AS ci_hi
        |FROM whole""".stripMargin,

    "q_trend" ->
      """WITH monthly AS (
        |  SELECT c_nationkey,
        |         year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |         CAST(round(round(sum(o_totalprice), 2) * 100) AS BIGINT)
        |           AS rev_c
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |mom AS (
        |  SELECT c_nationkey, CAST(count(*) AS HUGEINT) AS n_m,
        |         sum(CAST(m AS HUGEINT)) AS sx,
        |         sum(CAST(rev_c AS HUGEINT)) AS sy,
        |         sum(CAST(m * rev_c AS HUGEINT)) AS sxy,
        |         sum(CAST(m * m AS HUGEINT)) AS sxx
        |  FROM monthly GROUP BY 1)
        |SELECT c_nationkey, CAST(n_m AS BIGINT) AS n_months,
        |       round(CAST(n_m * sxy - sx * sy AS DOUBLE) /
        |             CAST(n_m * sxx - sx * sx AS DOUBLE) / 100.0, 4)
        |         AS slope_per_month,
        |       round(CAST(sy AS DOUBLE) / CAST(n_m AS DOUBLE) / 100.0, 2)
        |         AS avg_monthly_rev
        |FROM mom ORDER BY c_nationkey""".stripMargin,

    // the same month census, the same single-division pair slopes,
    // quantile_cont == Spark percentile (interpolation ulp rounded away);
    // the intercept median subtracts the SAME 4-dp-rounded slope
    "q_theilsen" ->
      """WITH m AS (
        |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |         CAST(round(round(sum(o_totalprice), 2) * 100) AS BIGINT)
        |           AS y
        |  FROM orders GROUP BY 1),
        |sl AS (
        |  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.m - a.m AS DOUBLE)
        |           AS slope
        |  FROM m a JOIN m b ON a.m < b.m),
        |med AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |               round(quantile_cont(slope, 0.5), 4) AS sm FROM sl),
        |r AS (SELECT n_pairs, sm, CAST(y AS DOUBLE) - sm * m AS r
        |      FROM m, med)
        |SELECT CAST(count(*) AS BIGINT) AS n_months, n_pairs,
        |       round(sm / 100.0, 6) AS slope_per_month,
        |       round(quantile_cont(r, 0.5) / 100.0, 2) AS intercept
        |FROM r GROUP BY n_pairs, sm""".stripMargin,

    // identical day census, identical zero-change drop, integer runs,
    // one fixed-shape z
    "q_runs_test" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(round(round(sum(o_totalprice), 2) * 100) AS BIGINT)
        |           AS y
        |  FROM orders GROUP BY 1),
        |sgn AS (
        |  SELECT day, CASE WHEN y > prev THEN 1 ELSE 0 END AS s
        |  FROM (SELECT day, y, lag(y, 1) OVER (ORDER BY day) AS prev
        |        FROM daily)
        |  WHERE prev IS NOT NULL AND y <> prev),
        |r AS (
        |  SELECT s, CASE WHEN sp IS NULL OR s <> sp THEN 1 ELSE 0 END
        |           AS brk
        |  FROM (SELECT s, lag(s, 1) OVER (ORDER BY day) AS sp FROM sgn)),
        |agg AS (SELECT CAST(sum(s) AS BIGINT) AS n_up,
        |               CAST(count(*) - sum(s) AS BIGINT) AS n_down,
        |               CAST(sum(brk) AS BIGINT) AS runs FROM r)
        |SELECT n_up, n_down, runs,
        |       round((runs - (1.0 + 2.0 * n_up * n_down / (n_up + n_down)))
        |             / sqrt((2.0 * n_up * n_down *
        |             (2.0 * n_up * n_down - (n_up + n_down))) /
        |             (1.0 * (n_up + n_down) * (n_up + n_down) *
        |             (n_up + n_down - 1))), 6) AS z
        |FROM agg""".stripMargin,

    // the same month-max census, exact HUGEINT moments, the identical
    // Scala-literal constants and expression text
    "q_evt_gumbel" ->
      s"""WITH daily AS (
         |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
         |         CAST(o_orderdate AS DATE) AS day,
         |         CAST(round(round(sum(o_totalprice), 2) * 100) AS BIGINT)
         |           AS y
         |  FROM orders GROUP BY 1, 2),
         |mx AS (SELECT m, max(y) AS bmax FROM daily GROUP BY 1),
         |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |               sum(CAST(bmax AS HUGEINT)) AS s,
         |               sum(CAST(bmax AS HUGEINT) * bmax) AS qq FROM mx)
         |SELECT n AS n_blocks,
         |       round(($gumbelMu) / 100.0, 2) AS mu,
         |       round(($gumbelBeta) / 100.0, 2) AS beta,
         |       round((($gumbelMu) - ($gumbelBeta) * $GumbelL10) / 100.0, 2)
         |         AS ret10,
         |       round((($gumbelMu) - ($gumbelBeta) * $GumbelL100) / 100.0,
         |             2) AS ret100
         |FROM mom""".stripMargin,

    // the same exact-moment slope/intercept (named once, so the double
    // steps bb → aa → e run in the identical sequence), integer-exact
    // leverage parts, census-ordered RSS fold
    "q_cooks_distance" ->
      """WITH m AS MATERIALIZED (
        |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |         CAST(round(round(sum(o_totalprice), 2) * 100) AS BIGINT)
        |           AS y
        |  FROM orders GROUP BY 1),
        |mom AS (SELECT count(*) AS n, sum(CAST(m AS HUGEINT)) AS sx,
        |               sum(CAST(y AS HUGEINT)) AS sy,
        |               sum(CAST(m AS HUGEINT) * y) AS sxy,
        |               sum(CAST(m AS HUGEINT) * m) AS sxx FROM m),
        |co AS (SELECT *, CAST(n * sxy - sx * sy AS DOUBLE) /
        |                 CAST(n * sxx - sx * sx AS DOUBLE) AS bb FROM mom),
        |co2 AS (SELECT *, (CAST(sy AS DOUBLE) - bb * CAST(sx AS DOUBLE))
        |                  / n AS aa FROM co),
        |fit AS MATERIALIZED (
        |  SELECT m, y, n, sx, sxx,
        |         CAST(y AS DOUBLE) - (aa + bb * m) AS e,
        |         1.0 / n + CAST((n * m - sx) * (n * m - sx) AS DOUBLE) /
        |           CAST(n * (n * sxx - sx * sx) AS DOUBLE) AS h
        |  FROM m, co2),
        |rss AS (SELECT max(cum) AS rss FROM (
        |  SELECT sum(e * e) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED
        |         PRECEDING AND CURRENT ROW) AS cum FROM fit))
        |SELECT CAST(m AS BIGINT) AS m,
        |       round(CAST(y AS DOUBLE) / 100.0, 2) AS monthly_rev,
        |       round(e / 100.0, 2) AS resid,
        |       round(h, 6) AS leverage,
        |       round((e * e * h) / (2.0 * (rss / (n - 2)) * (1.0 - h) *
        |             (1.0 - h)), 6) AS cooks_d
        |FROM fit, rss ORDER BY m""".stripMargin,

    // the q_cooks_distance fit CTEs verbatim; both DW sums as ordered
    // monotone folds
    "q_durbin_watson" ->
      """WITH m AS MATERIALIZED (
        |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |         CAST(round(round(sum(o_totalprice), 2) * 100) AS BIGINT)
        |           AS y
        |  FROM orders GROUP BY 1),
        |mom AS (SELECT count(*) AS n, sum(CAST(m AS HUGEINT)) AS sx,
        |               sum(CAST(y AS HUGEINT)) AS sy,
        |               sum(CAST(m AS HUGEINT) * y) AS sxy,
        |               sum(CAST(m AS HUGEINT) * m) AS sxx FROM m),
        |co AS (SELECT *, CAST(n * sxy - sx * sy AS DOUBLE) /
        |                 CAST(n * sxx - sx * sx AS DOUBLE) AS bb FROM mom),
        |co2 AS (SELECT *, (CAST(sy AS DOUBLE) - bb * CAST(sx AS DOUBLE))
        |                  / n AS aa FROM co),
        |fit AS MATERIALIZED (
        |  SELECT m, CAST(y AS DOUBLE) - (aa + bb * m) AS e
        |  FROM m, co2),
        |lg AS (SELECT m, e, lag(e, 1) OVER (ORDER BY m) AS e1 FROM fit),
        |dn AS (SELECT m, e,
        |              CASE WHEN e1 IS NOT NULL
        |                   THEN (e - e1) * (e - e1) ELSE 0.0 END AS dnum
        |       FROM lg),
        |cums AS (SELECT sum(dnum) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED
        |                PRECEDING AND CURRENT ROW) AS cnum,
        |                sum(e * e) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED
        |                PRECEDING AND CURRENT ROW) AS cden
        |         FROM dn)
        |SELECT CAST(count(*) AS BIGINT) AS n_months,
        |       round(max(cnum) / max(cden), 4) AS dw
        |FROM cums""".stripMargin,

    // the q_autocorr moment identity on the order-day census, the same
    // generated ρ/Q expression text
    "q_ljung_box" -> ljungBoxOracle,

    // identical day census and window folds; the windowed-sum pairwise
    // ulps sit against literal thresholds (measure-zero boundary)
    "q_page_hinkley" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS y
        |  FROM orders GROUP BY 1),
        |ph AS (
        |  SELECT day, y, row_number() OVER w AS rn,
        |         sum(y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |           PRECEDING AND CURRENT ROW) AS cumx
        |  FROM daily WINDOW w AS (ORDER BY day)),
        |ph2 AS (SELECT day,
        |               CAST(y AS DOUBLE) - CAST(cumx AS DOUBLE) / rn - 0.5
        |                 AS dev
        |        FROM ph),
        |ph3 AS (SELECT day, sum(dev) OVER (ORDER BY day ROWS BETWEEN
        |          UNBOUNDED PRECEDING AND CURRENT ROW) AS m FROM ph2),
        |ph4 AS (SELECT day, m, max(m) OVER (ORDER BY day ROWS BETWEEN
        |          UNBOUNDED PRECEDING AND CURRENT ROW) AS mx FROM ph3)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(CASE WHEN mx - m > 30.0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_alerts,
        |       min(CASE WHEN mx - m > 30.0 THEN CAST(day AS VARCHAR) END)
        |         AS first_alert,
        |       round(max(mx - m), 4) AS max_gap
        |FROM ph4""".stripMargin,

    // identical day census + lag, exact HUGEINT moments, the SAME
    // shared centered-moment / closed-form-OLS expression text
    "q_granger_lite" ->
      s"""WITH daily AS (
         |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |           AS x,
         |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |           AS y
         |  FROM events GROUP BY 1),
         |lagged AS (
         |  SELECT y, y1, x1 FROM (
         |    SELECT y, lag(y, 1) OVER (ORDER BY day) AS y1,
         |           lag(x, 1) OVER (ORDER BY day) AS x1
         |    FROM daily)
         |  WHERE y1 IS NOT NULL),
         |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |               sum(CAST(y AS HUGEINT)) AS sy,
         |               sum(CAST(y1 AS HUGEINT)) AS s1,
         |               sum(CAST(x1 AS HUGEINT)) AS sx,
         |               sum(CAST(y AS HUGEINT) * y) AS syy,
         |               sum(CAST(y1 AS HUGEINT) * y1) AS s11,
         |               sum(CAST(x1 AS HUGEINT) * x1) AS sxx,
         |               sum(CAST(y AS HUGEINT) * y1) AS sy1,
         |               sum(CAST(y AS HUGEINT) * x1) AS syx,
         |               sum(CAST(y1 AS HUGEINT) * x1) AS s1x
         |        FROM lagged)
         |SELECT n AS n_days,
         |       round($GrangerB2, 6) AS b_clicks,
         |       round(($GrangerRssR), 4) AS rss_restricted,
         |       round(($GrangerRssU), 4) AS rss_unrestricted,
         |       round((($GrangerRssR) - ($GrangerRssU)) /
         |             (($GrangerRssU) / (n - 3)), 4) AS f_stat
         |FROM mom""".stripMargin,

    // identical integer day-count census and exact HUGEINT moments
    "q_dispersion" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS y
        |  FROM orders GROUP BY 1),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |               sum(CAST(y AS HUGEINT)) AS ss,
        |               sum(CAST(y AS HUGEINT) * y) AS qq FROM daily)
        |SELECT n AS n_days,
        |       round(CAST(ss AS DOUBLE) / n, 4) AS mean_per_day,
        |       round((CAST(qq AS DOUBLE) -
        |              CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / n)
        |             / (n - 1), 4) AS var_per_day,
        |       round(((CAST(qq AS DOUBLE) -
        |               CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / n)
        |              / (n - 1)) / (CAST(ss AS DOUBLE) / n), 6)
        |         AS dispersion,
        |       round((n - 1) * (((CAST(qq AS DOUBLE) -
        |               CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / n)
        |              / (n - 1)) / (CAST(ss AS DOUBLE) / n)), 4) AS chi2
        |FROM mom""".stripMargin,

    // identical ×b integer deviations, per-block fixed R/S shape,
    // block-ordered folds, the same 2·ln2 Scala-literal denominator
    "q_hurst" ->
      s"""WITH daily AS MATERIALIZED (
         |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS y
         |  FROM orders GROUP BY 1),
         |rn AS (SELECT y, row_number() OVER (ORDER BY day) AS rn
         |       FROM daily),
         |ex AS MATERIALIZED (
         |  SELECT b, y, rn, (rn - 1) // b AS blk, (rn - 1) % b + 1 AS k
         |  FROM rn, (SELECT unnest([16, 32, 64]) AS b)),
         |wc AS (SELECT b, blk, k, y,
         |              sum(y) OVER (PARTITION BY b, blk ORDER BY rn
         |                           ROWS BETWEEN UNBOUNDED PRECEDING AND
         |                           CURRENT ROW) AS cum,
         |              sum(y) OVER (PARTITION BY b, blk) AS stot
         |       FROM ex),
         |blocks AS (
         |  SELECT b, blk, count(*) AS cnt,
         |         max(b * cum - k * stot) AS mx,
         |         min(b * cum - k * stot) AS mn,
         |         sum(CAST(y AS HUGEINT)) AS ss,
         |         sum(CAST(y AS HUGEINT) * y) AS qq
         |  FROM wc GROUP BY 1, 2),
         |rs AS (SELECT b, blk,
         |              CAST(mx - mn AS DOUBLE) /
         |              sqrt(CAST(b * qq - ss * ss AS DOUBLE)) AS rs
         |       FROM blocks WHERE cnt = b AND b * qq - ss * ss > 0),
         |avgrs AS (
         |  SELECT b, count(*) AS n_blocks, max(cumrs) AS rs_sum
         |  FROM (SELECT b, sum(rs) OVER (PARTITION BY b ORDER BY blk
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |                AS cumrs
         |        FROM rs) GROUP BY b),
         |piv AS (
         |  SELECT max(CASE WHEN b = 16 THEN n_blocks END) AS nb16,
         |         max(CASE WHEN b = 32 THEN n_blocks END) AS nb32,
         |         max(CASE WHEN b = 64 THEN n_blocks END) AS nb64,
         |         max(CASE WHEN b = 16 THEN rs_sum / n_blocks END) AS r16,
         |         max(CASE WHEN b = 32 THEN rs_sum / n_blocks END) AS r32,
         |         max(CASE WHEN b = 64 THEN rs_sum / n_blocks END) AS r64
         |  FROM avgrs)
         |SELECT CAST(nb16 AS BIGINT) AS nb16, CAST(nb32 AS BIGINT) AS nb32,
         |       CAST(nb64 AS BIGINT) AS nb64,
         |       round(r16, 6) AS rs16, round(r32, 6) AS rs32,
         |       round(r64, 6) AS rs64,
         |       round((ln(r64) - ln(r16)) / $HurstDen, 4) AS hurst
         |FROM piv""".stripMargin
  )
}
