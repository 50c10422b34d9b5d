package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, Coalesce, Divide, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Aggregate navigation: rewrite a coarse aggregate over a FACT scan to
  * re-aggregate a registered fine-grain ROLLUP instead (the classic
  * materialized-view rewrite — Calcite's "aggregate navigation", Oracle's
  * query rewrite). At 100 TB this is the difference between re-scanning the
  * fact table for every dashboard grain and answering from a census-sized
  * materialization: `register` once per session, and EVERY later aggregate
  * whose group keys are a subset of the rollup grain and whose aggregates
  * are re-aggregable (SUM → SUM of partial sums, COUNT → SUM of partial
  * counts, MIN/MAX → MIN/MAX of partial extrema) is navigated to the rollup
  * automatically — the query text still targets the fact (DataFrame or
  * `spark.sql` alike: views resolve to the same scan). AVG over an
  * exact-sum (integer) child navigates as SUM-of-sums / SUM-of-non-null-
  * counts, which is the identical double — a NULLABLE child requires a
  * registered count(col) partial (Average divides by the non-null count,
  * not the row count) and blocks otherwise; AVG over a double child never
  * navigates (re-associating an FP sum is not bit-invariant).
  *
  * Safety properties, enforced structurally:
  *  - the rewrite fires only when EVERY output expression translates: any
  *    aggregate the rollup can't answer (a different SUM child, AVG, a
  *    DISTINCT, a filter clause, a non-attribute group key) leaves the plan
  *    untouched — partial matches never produce half-navigated plans;
  *  - the fact is matched by its scan path (the registered parquet leaf),
  *    never by table name heuristics; a Filter between the aggregate and
  *    the scan navigates ONLY when every column it references is a grain
  *    key (such a predicate selects whole rollup groups, so it is
  *    remapped onto the rollup — the WHERE key = … GROUP BY … dashboard
  *    shape); any other referenced column blocks the rewrite, because the
  *    rollup pre-aggregated those rows away;
  *  - output attribute names, order, and exprIds are preserved, so parent
  *    operators (sorts, projects) remain valid untouched;
  *  - the registry is per-SparkSession (same WeakHashMap discipline as the
  *    persist ledger), so a multi-session JVM can't cross-navigate. As
  *    with the ledger, the weak key only collects once the entry is
  *    DRAINED — a registered Rollup.mv plan can reference its session, a
  *    value→key strong reference that pins a non-empty entry — so the
  *    lifecycle guarantee comes from the runner contract: every runner
  *    calls [[clear]] after every query (`graft.Harness.release`), exactly
  *    like `Persisted.releaseAll`, never from GC.
  *
  * SUM children are matched by their canonical SQL text (backticks
  * stripped): registration declares e.g. `"CAST(l_quantity AS BIGINT)" ->
  * "sum_qty"`, and only a Sum over that exact expression navigates. Exact
  * is the point — a near-miss silently answering from the wrong partial
  * would be a correctness bug, not a missed optimization.
  */
object RollupRewrite extends Rule[LogicalPlan] {

  /** One registered rollup: the fact's parquet path suffix, the rollup's
    * grain keys, SUM-child SQL → rollup partial-sum column, the partial
    * count column (a count(1) — ALL rows per grain), MIN/MAX-child SQL →
    * partial extremum column, child SQL → partial NON-NULL count column
    * (a count(col) per grain — what AVG and COUNT(col) navigation need
    * when the child is nullable), and the rollup's OPTIMIZED plan
    * (cache-substituted, so a persisted rollup is answered from memory,
    * the fact untouched).
    */
  final case class Rollup(
      factPath: String,
      keys: Set[String],
      sums: Map[String, String],
      countCol: String,
      mins: Map[String, String],
      maxs: Map[String, String],
      counts: Map[String, String],
      mv: LogicalPlan)

  private val registry =
    new mutable.WeakHashMap[SparkSession, mutable.ArrayBuffer[Rollup]]

  /** Register a rollup for `factPath` (suffix-matched against the scan's
    * root path). Registration is data only: the rule itself is installed
    * on every session by `graft.Context.install` and does nothing while
    * the session's registry is empty. The rollup DataFrame should already
    * be persisted + materialized if navigation is to read memory rather
    * than re-derive.
    */
  def register(spark: SparkSession, factPath: String, keys: Set[String],
      sums: Map[String, String], countCol: String, mv: DataFrame,
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty,
      counts: Map[String, String] = Map.empty): Unit = synchronized {
    val buf = registry.getOrElseUpdate(spark, mutable.ArrayBuffer.empty)
    // re-registration REPLACES: a runner calling the same pipeline twice
    // must navigate to the fresh (persisted) rollup, not a stale plan
    // whose cache a ledger drain already released
    buf.filterInPlace(r => !(r.factPath == factPath && r.keys == keys &&
      r.sums == sums && r.countCol == countCol &&
      r.mins == mins && r.maxs == maxs && r.counts == counts))
    buf += Rollup(factPath, keys, sums, countCol, mins, maxs, counts,
      mv.queryExecution.optimizedPlan)
  }

  /** Drop this session's rollups (specs; a production session would
    * re-register after a rollup refresh instead). */
  def clear(spark: SparkSession): Unit =
    synchronized { registry.remove(spark); () }

  /** Rollups registered for `spark` (a spec asserts a release empties it). */
  def registered(spark: SparkSession): Int =
    synchronized { registry.get(spark).map(_.size).getOrElse(0) }

  private def sessionRollups: Seq[Rollup] = synchronized {
    SparkSession.getActiveSession.toSeq
      .flatMap(s => registry.getOrElse(s, Seq.empty).toSeq)
  }

  /** The scan path under `plan` — plus any Filter conditions met on the
    * way — if it is EXACTLY a chain of attribute-only Projects and
    * Filters over a file scan. A Join, Window, or computed Project
    * anywhere below the aggregate returns None and blocks the rewrite.
    * Filters are allowed here and vetted by the CALLER: a condition
    * touching only grain-key columns selects whole rollup groups, so it
    * navigates (remapped onto the rollup); any other column reference
    * blocks navigation — the rollup pre-aggregated those away. */
  private def unwrapFact(plan: LogicalPlan,
      cond: Option[Expression] = None): Option[(Option[Expression], String)] =
    plan match {
      case Project(ps, child)
          if ps.forall(_.isInstanceOf[AttributeReference]) =>
        unwrapFact(child, cond)
      case Filter(f, child) =>
        unwrapFact(child, cond.map(And(_, f)).orElse(Some(f)))
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.headOption.map(p => (cond, p.toString))
        case _ => None
      }
      case _ => None
    }

  /** Canonical text of an aggregate child for matching against the
    * registered maps: qualifiers stripped (the SQL path prints
    * `view.col`, the DataFrame path bare `col` — same expression),
    * backticks stripped. */
  private def sqlOf(e: Expression): String =
    e.transform {
      case a: AttributeReference => a.withQualifier(Seq.empty)
    }.sql.replace("`", "")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val mvs = sessionRollups
    if (mvs.isEmpty) plan
    else plan.transformUp {
      case agg @ Aggregate(groupExprs, _, child, _)
          if groupExprs.forall(_.isInstanceOf[AttributeReference]) =>
        // try every candidate rollup until one translates COMPLETELY —
        // two rollups can share a grain but carry different partials.
        // Filter guards: the condition must be DETERMINISTIC (a rand()
        // filter on fact ROWS is not a rand() filter on rollup GROUPS)
        // and reference only grain keys. Self-reference guard: never
        // rewrite an aggregate that IS a registered rollup's own
        // definition — with an unpersisted rollup the inserted plan
        // contains that very aggregate, and rewriting it again each
        // fixed-point iteration would grow the plan without bound.
        val hit = unwrapFact(child).flatMap { case (cond, path) =>
          mvs.iterator
            .filter(m => path.endsWith(m.factPath) &&
              agg.canonicalized != m.mv.canonicalized &&
              groupExprs.forall { case a: AttributeReference =>
                m.keys.contains(a.name)
              } &&
              cond.forall(c => c.deterministic &&
                c.references.forall(a => m.keys.contains(a.name))))
            .map(m => navigate(agg, m, cond))
            .collectFirst { case Some(r) => r }
        }
        hit.getOrElse(agg)
    }
  }

  /** Translate every output expression of `agg` — and the optional
    * grain-key filter — onto the rollup, or None if ANY fails. */
  private def navigate(agg: Aggregate, r: Rollup,
      cond: Option[Expression]): Option[Aggregate] = {
    val byName: Map[String, Attribute] =
      r.mv.output.map(a => a.name -> a).toMap
    def reAgg(f: Expression => Expression, col: String,
        name: String, id: NamedExpression): Option[NamedExpression] =
      byName.get(col).map { a =>
        Alias(AggregateExpression(
          f(a).asInstanceOf[
            org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction],
          Complete, isDistinct = false), name)(exprId = id.exprId)
      }
    // Sum-of-partial-counts, coalesced to 0L — Count's never-null,
    // zero-on-empty contract, which bare Sum does not have
    def cntOf(a: Attribute, name: String,
        id: NamedExpression): NamedExpression =
      Alias(Coalesce(Seq(
        AggregateExpression(Sum(a), Complete, isDistinct = false),
        Literal(0L))), name)(exprId = id.exprId)

    val translated: Seq[Option[NamedExpression]] =
      agg.aggregateExpressions.map {
        // group-key passthrough: re-point at the rollup's attribute,
        // keeping the original name + exprId
        case a: AttributeReference =>
          byName.get(a.name).map(m => Alias(m, a.name)(exprId = a.exprId))
        case al @ Alias(
            AggregateExpression(Sum(c, _), _, false, None, _), name) =>
          r.sums.get(sqlOf(c))
            .flatMap(reAgg(e => Sum(e), _, name, al))
        // COUNT navigates as Sum of the partial counts, COALESCED to 0:
        // Sum over ZERO rollup rows (a global aggregate whose grain-key
        // filter selected no groups) is NULL, where raw COUNT is 0 — the
        // coalesce restores Count's never-null contract (and is a no-op
        // for any non-empty group)
        case al @ Alias(
            AggregateExpression(Count(Seq(Literal(1, _))), _, false, None, _),
            name) =>
          byName.get(r.countCol).map(cntOf(_, name, al))
        // COUNT(col) — the NON-NULL count — navigates only via an
        // explicitly registered count(col) partial; count(1) can't answer
        // it for a nullable child
        case al @ Alias(
            AggregateExpression(Count(Seq(c)), _, false, None, _), name)
            if !c.isInstanceOf[Literal] =>
          r.counts.get(sqlOf(c)).flatMap(byName.get).map(cntOf(_, name, al))
        case al @ Alias(
            AggregateExpression(Min(c), _, false, None, _), name) =>
          r.mins.get(sqlOf(c)).flatMap(reAgg(e => Min(e), _, name, al))
        case al @ Alias(
            AggregateExpression(Max(c), _, false, None, _), name) =>
          r.maxs.get(sqlOf(c)).flatMap(reAgg(e => Max(e), _, name, al))
        // AVG over an exact-sum (long) child decomposes value-exactly:
        // sum of partial sums is the integer total, so total/count is the
        // same double Average itself computes. FP-sum children (double)
        // are NOT navigated — re-associating a double sum can change the
        // last ulp, and navigation must be bit-invariant. The divisor must
        // be Average's divisor — the NON-NULL count of the child — so a
        // NULLABLE child navigates only through a registered count(col)
        // partial; a provably non-nullable child may divide by the
        // count(1) partial (equal by construction). Dividing a nullable
        // child's sum by count(1) would silently dilute the average.
        case al @ Alias(
            AggregateExpression(Average(c, _), _, false, None, _), name)
            if c.dataType == LongType =>
          for {
            sumCol <- r.sums.get(sqlOf(c))
            sumAttr <- byName.get(sumCol)
            cntCol <- r.counts.get(sqlOf(c))
              .orElse(if (c.nullable) None else Some(r.countCol))
            cntAttr <- byName.get(cntCol)
          } yield Alias(
            Divide(
              Cast(AggregateExpression(Sum(sumAttr), Complete,
                isDistinct = false), DoubleType),
              Cast(AggregateExpression(Sum(cntAttr), Complete,
                isDistinct = false), DoubleType)),
            name)(exprId = al.exprId)
        case _ => None
      }

    if (translated.exists(_.isEmpty)) None
    else {
      val newGroup = agg.groupingExpressions.map {
        case a: AttributeReference => byName(a.name)
      }
      // a grain-key filter selects whole rollup groups: remap its
      // attributes onto the rollup and filter the rollup instead
      val source = cond.fold(r.mv) { c =>
        Filter(c.transform {
          case a: AttributeReference => byName(a.name)
        }, r.mv)
      }
      Some(Aggregate(newGroup, translated.map(_.get), source))
    }
  }
}
