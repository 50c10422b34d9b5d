package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling join patterns for 100 TB-scale shuffles.
  *
  * A plain shuffled hash/sort-merge join sends every row of a hot key to ONE
  * reducer; at cluster scale a single key holding 1% of a 100 TB fact table
  * is a 1 TB partition — a guaranteed straggler or OOM. Salting splits each
  * fact key across `salts` sub-partitions and replicates the (much smaller)
  * build side once per salt, bounding any reducer's share of a hot key at
  * 1/salts. AQE's skew-join handles moderate skew automatically; explicit
  * salting is the deterministic heavy-hammer for known-pathological keys.
  *
  * The result set is IDENTICAL to the unsalted join (verified by the
  * q_join_salted oracle, which is a plain JOIN), so the pattern is a pure
  * physical rewrite — semantics never change.
  */
object Skew {

  /** Inner-join `fact` to `build` on `factKey == buildKey`, salted.
    *
    * @param spread deterministic per-row column spreading a fact key's rows
    *               across salts (e.g. a line number or any hash of non-key
    *               columns). Using the KEY itself would defeat the salting —
    *               same key, same salt.
    */
  def saltedJoin(fact: DataFrame, build: DataFrame, factKey: String,
      buildKey: String, spread: Column, salts: Int): DataFrame = {
    // NULL spread must not drop the row (pmod(NULL) = NULL would never
    // match any build salt) — any constant salt keeps join semantics
    val saltedFact = fact.withColumn("_salt",
      pmod(coalesce(spread, lit(0)), lit(salts)).cast("int"))
    val saltedBuild = build.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(saltedBuild,
      saltedFact(factKey) === saltedBuild(buildKey) &&
        saltedFact("_salt") === saltedBuild("_salt"))
      .drop("_salt")
  }

  /** Fact-side key profile, the q_skew_report numbers [[choose]] consumes:
    * (max key frequency, mean key frequency). One map-side-combined shuffle
    * reduced to a single driver row — the same cheap pre-pass AQE's own
    * runtime statistics represent, paid once before committing to a layout.
    */
  def profile(df: DataFrame, key: String): (Long, Double) = {
    val r = df.groupBy(col(key)).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx"), avg(col("c")).as("av")).head()
    // an EMPTY fact side aggregates to (NULL, NULL) — degrade to the
    // no-skew profile so choose() picks "plain" instead of NPE-ing
    if (r.isNullAt(0)) (0L, 0.0) else (r.getLong(0), r.getDouble(1))
  }

  /** Join-strategy decision from a skew profile — the piece that turns
    * q_skew_report from a report nobody consumes into an operator:
    *
    *  - `"plain"`  — skew ratio under `skewRatio`, or the hottest key too
    *                 small to hurt (`maxC < minHot`): one reducer handles it.
    *  - `"aqe"`    — real but moderate skew: AQE's runtime skew-join split
    *                 (post-shuffle partition splitting) absorbs it with no
    *                 layout change; keep the plain declarative join.
    *  - `"salted"` — pathological skew (ratio ≥ `saltRatio`): a single
    *                 key's mass dwarfs a splittable partition, so the
    *                 deterministic pre-shuffle rewrite is worth its
    *                 build-side replication.
    *
    * Thresholds are deliberately coarse — the decision only has three
    * outcomes and all three yield identical results (SkewSpec proves the
    * choice flips with the data; the q_join_auto oracle proves result
    * equality with a plain join).
    */
  def choose(maxC: Long, avgC: Double, skewRatio: Double = 4.0,
      saltRatio: Double = 32.0, minHot: Long = 256): String = {
    val skew = if (avgC > 0) maxC / avgC else 0.0
    if (skew < skewRatio || maxC < minHot) "plain"
    else if (skew < saltRatio) "aqe"
    else "salted"
  }

  /** The count-then-choose broadcast gate of the triangle closing-edge
    * probe: broadcast `build` iff a MEASURED row count is within
    * `maxRows`; otherwise pin an explicit shuffle_hash hint so the planner
    * can never re-broadcast an over-threshold relation off a stale size
    * estimate. Both branches are result-identical — only the exchange
    * strategy moves. A site needs it only where AQE's default threshold
    * would not broadcast a side measured to be safe; elsewhere AQE chooses.
    *
    * @param rows a count already paid by the caller (usually on a frame
    *             that is persisted anyway); passing it in keeps the gate
    *             from forcing a second action on an unpersisted plan
    */
  def sizeGatedBroadcast(build: DataFrame, rows: Long, maxRows: Long): DataFrame =
    if (rows <= maxRows) broadcast(build) else build.hint("shuffle_hash")

  /** Profile-then-join: [[profile]] the fact side's key, [[choose]] a
    * strategy, build that join. Results are identical in every branch —
    * the chooser only moves physical cost.
    */
  def autoJoin(fact: DataFrame, build: DataFrame, factKey: String,
      buildKey: String, spread: Column, salts: Int = 8): DataFrame = {
    val (maxC, avgC) = profile(fact, factKey)
    choose(maxC, avgC) match {
      case "salted" => saltedJoin(fact, build, factKey, buildKey, spread, salts)
      case _ => // "plain" and "aqe": the declarative join IS the AQE shape —
                // the runtime split happens inside AQE when enabled
        fact.join(build, fact(factKey) === build(buildKey))
    }
  }
}
