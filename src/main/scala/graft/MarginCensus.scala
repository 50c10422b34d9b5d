package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Average, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{col, max => smax, min => smin}
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Rounding-margin census (r15 verdict item 3): turns PLANS.md §7u's
  * class-3/4 magnitude ARGUMENT into a per-round MEASUREMENT.
  *
  * The q_heaps_law bug class fires when a gated `round(x, k)` sits over an
  * unordered double aggregate whose true value lies ON (or within
  * reassociation drift of) a rounding decision boundary — either the
  * half-grain boundary (value flips by one grain with summation order) or
  * zero (the rounded result's SIGN flips, ±0.0, which the oracle
  * hash-distinguishes). §7u bounds the drift analytically for the 101
  * remaining plain-double-sum sites; this main measures the actual margin
  * on the gate fixtures, so a future fixture drifting toward a boundary
  * trips a committed tripwire instead of a driver-gate surprise.
  *
  * Method: for every gated query, take the ANALYZED logical plan, descend
  * through output-transparent wrappers (Sort/Limit/Filter/alias/rename
  * projections) to the root-most Project/Aggregate — the node computing
  * the gate-visible output — and for each `Round(child: Double, k)` site
  * in its output expressions append measurement columns computed from the
  * SAME child expression in the same node:
  *
  *   scaled = child · 10^k           (the value in grain units)
  *   margin = | (|scaled| mod 1) − 0.5 |   ∈ [0, 0.5]
  *             distance of the pre-rounded value to the nearest HALF_UP
  *             decision boundary, in grains (0.5 = value exactly on-grid,
  *             the safest point; 0 = exactly on a boundary)
  *   |scaled| itself (min → the zero-sign hazard; max → the ulp scale
  *             that converts margins into drift multiples)
  *
  * Rounds inside aggregate-function arguments (e.g. sum(round(x, 2)))
  * are folded with Min/Max aggregates in place; everything reduces to one
  * global (min margin, min |scaled|, max |scaled|) triple per site.
  *
  * Site classification — `risky` = the Round's child expands (through
  * alias lineage across the whole subplan) to an unordered Sum/Average
  * over a Double/Float child, i.e. the pre-rounded value is
  * summation-order-dependent (the PlanCensus `double_aggs` criterion at
  * expression level). Exact-decimal moments and per-row rounds are
  * order-free: their margins are recorded but cannot flip, so they carry
  * no flag. `normalized` = the site is wrapped in `round(...) + 0.0`, the
  * repo's signed-zero normalization — immune to the zero hazard.
  *
  * Flags (exit 1):
  *  - ON_BOUNDARY: a risky site's min margin < 1e4 ulps of its own scale —
  *    the true value is structurally on/at a boundary and only summation
  *    order decides the rounded grain.
  *  - ZERO_SIGN: a risky, un-normalized site has a pre-rounded value
  *    within 1e4 ulps-of-grain of zero — the rounded ±0.0's sign is
  *    summation-order noise (exactly q_heaps_law r14).
  * Warnings (recorded, non-fatal): risky sites whose margin is under the
  * VERDICT's conservative 10³·n·eps·|scaled| drift ceiling at n = 1e6 —
  * the "revisit before a 100× gate" list, measured instead of argued.
  *
  * Coverage is explicit: sites outside the root output (per-row rounds in
  * subplans — order-free by construction — and window-fold rounds, which
  * are census-ORDERED per §7u class 2) are counted as unmeasured, so the
  * JSON states exactly what the census does and does not see.
  *
  * `runMain graft.MarginCensus [sfDir] [outPath]` → MARGIN_CENSUS.json.
  */
object MarginCensus {

  /** One measurement site: a Round-on-double in the root output. */
  final case class Site(label: String, risky: Boolean, normalized: Boolean,
                        inAggArg: Boolean)

  private def isFp(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == DoubleType || dt == FloatType

  /** margin + |scaled| expressions for one Round site's child. */
  private def measureExprs(child: Expression, k: Int)
      : (Expression, Expression) = {
    val factor = Literal(math.pow(10.0, k))
    val scaled = new Multiply(Cast(child, DoubleType), factor)
    val absScaled = new Abs(scaled)
    val frac = new Remainder(absScaled, Literal(1.0))
    val margin = new Abs(new Subtract(frac, Literal(0.5)))
    (margin, absScaled)
  }

  /** All alias definitions in the subtree: ExprId → defining expression
    * (for lineage expansion of attribute references). */
  private def aliasDefs(plan: LogicalPlan): Map[Long, Expression] = {
    val m = scala.collection.mutable.Map.empty[Long, Expression]
    plan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case a: Alias => m(a.exprId.id) = a.child
        case _ => ()
      })
    }
    m.toMap
  }

  /** Does `e`, with attribute references expanded through alias lineage,
    * contain an unordered Sum/Average over a Double/Float child — i.e. is
    * the value summation-order-DEPENDENT? Three laundering boundaries stop
    * the walk, mirroring §7u's sanctioned classes:
    *  - an inner Round: quantization collapses upstream drift to the grain
    *    (the inner round is its OWN census site carrying that question);
    *  - a WindowExpression: window folds are ordered by construction
    *    (class 2 — PlanSpec separately pins the census-window invariant);
    *  - a Sum/Average whose fp child is a CAST FROM AN INTEGRAL type:
    *    integer-valued double summands accumulate exactly, so the result
    *    is order-free while totals stay under 2^53 (amply true at gate
    *    scale; a 100-TB deployment of such a site should still convert to
    *    decimal — the census records the site either way).
    */
  private def orderDependent(e: Expression, defs: Map[Long, Expression],
                             depth: Int = 0,
                             seen: Set[Long] = Set.empty): Boolean = {
    if (depth > 24) return true // unresolvably deep lineage: conservative
    def integralFed(c: Expression): Boolean = c match {
      case Cast(inner, dt, _, _) if isFp(dt) =>
        inner.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.BooleanType => true
          case _ => false
        }
      case _ => !isFp(c.dataType)
    }
    def walk(x: Expression): Boolean = x match {
      case _: Round => false
      case _: WindowExpression => false
      case ae: AggregateExpression => ae.aggregateFunction match {
        case s: Sum => isFp(s.child.dataType) && !integralFed(s.child)
        case v: Average => isFp(v.child.dataType) && !integralFed(v.child)
        case f => f.children.exists(walk)
      }
      case ar: AttributeReference if !seen(ar.exprId.id) =>
        defs.get(ar.exprId.id)
          .exists(orderDependent(_, defs, depth + 1, seen + ar.exprId.id))
      case other => other.children.exists(walk)
    }
    walk(e)
  }

  /** Round sites in one output expression, with position classification.
    * `normalizedSet` holds the Rounds wrapped in `+ 0.0` (by identity). */
  private def collectSites(root: Expression,
      normalizedSet: java.util.IdentityHashMap[Expression, java.lang.Boolean])
      : Seq[(Round, Boolean)] = {
    def walk(e: Expression, inAgg: Boolean): Seq[(Round, Boolean)] = e match {
      case ae: AggregateExpression =>
        ae.children.flatMap(walk(_, inAgg = true))
      case r: Round if isFp(r.child.dataType) =>
        (r, inAgg) +: r.children.flatMap(walk(_, inAgg))
      case other => other.children.flatMap(walk(_, inAgg))
    }
    // mark sign-normalized rounds: Add(round(..), 0.0) / Add(0.0, round(..))
    root.foreach {
      case Add(r: Round, Literal(0.0d, DoubleType), _) =>
        normalizedSet.put(r, java.lang.Boolean.TRUE)
      case Add(Literal(0.0d, DoubleType), r: Round, _) =>
        normalizedSet.put(r, java.lang.Boolean.TRUE)
      case _ => ()
    }
    walk(root, inAgg = false)
  }

  /** Count every Round-on-fp site anywhere in the plan (coverage
    * denominator). */
  def totalSites(plan: LogicalPlan): Int = {
    var n = 0
    plan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case r: Round if isFp(r.child.dataType) => n += 1
        case _ => ()
      })
    }
    n
  }

  private def literalScale(e: Expression): Option[Int] = e match {
    case Literal(i: Int, _) => Some(i)
    case Literal(s: Short, _) => Some(s.toInt)
    case _ if e.foldable => e.eval() match {
      case i: Int => Some(i)
      case _ => None
    }
    case _ => None
  }

  /** Is this projection a pure pass-through (renames/reorders only)? */
  private def passThrough(p: Project): Boolean =
    p.projectList.forall {
      case _: AttributeReference => true
      case Alias(_: AttributeReference, _) => true
      case _ => false
    }

  final case class Measured(site: Site, mCol: String, sMinCol: String,
                            sMaxCol: String)

  /** Extend `plan` with measurement columns for root-output Round sites.
    * Returns the extended plan, the measured sites, and a counter of
    * sites seen at the base (measured). New columns propagate up through
    * transparent wrappers untouched (their output = child output). */
  private def extend(plan: LogicalPlan, defs: Map[Long, Expression],
                     counter: java.util.concurrent.atomic.AtomicInteger)
      : (LogicalPlan, Seq[Measured]) = plan match {
    case s: Sort =>
      val (c, ms) = extend(s.child, defs, counter); (s.copy(child = c), ms)
    case l: GlobalLimit =>
      val (c, ms) = extend(l.child, defs, counter); (l.copy(child = c), ms)
    case l: LocalLimit =>
      val (c, ms) = extend(l.child, defs, counter); (l.copy(child = c), ms)
    case sa: SubqueryAlias =>
      val (c, ms) = extend(sa.child, defs, counter); (sa.copy(child = c), ms)
    case f: Filter =>
      val (c, ms) = extend(f.child, defs, counter); (f.copy(child = c), ms)
    case p: Project if passThrough(p) =>
      val (c, ms) = extend(p.child, defs, counter)
      val extraAttrs = ms.flatMap(m => Seq(m.mCol, m.sMinCol, m.sMaxCol))
        .flatMap(n => c.output.filter(_.name == n))
      (p.copy(projectList = p.projectList ++ extraAttrs, child = c), ms)
    case p: Project =>
      val normalized = new java.util.IdentityHashMap[Expression, java.lang.Boolean]
      val sites = p.projectList.flatMap { ne =>
        collectSites(ne, normalized).map { case (r, inAgg) => (ne.name, r, inAgg) }
      }
      val (extras, measured) = sites.flatMap { case (colName, r, _) =>
        literalScale(r.scale).map { k =>
          val i = counter.incrementAndGet()
          val (margin, absScaled) = measureExprs(r.child, k)
          val site = Site(s"$colName@round$k",
            orderDependent(r.child, defs), normalized.containsKey(r),
            inAggArg = false)
          (Seq(Alias(margin, s"__m$i")(), Alias(absScaled, s"__sn$i")(),
            Alias(absScaled, s"__sx$i")()),
            Measured(site, s"__m$i", s"__sn$i", s"__sx$i"))
        }
      }.unzip
      (p.copy(projectList = p.projectList ++ extras.flatten), measured)
    case a: Aggregate =>
      val normalized = new java.util.IdentityHashMap[Expression, java.lang.Boolean]
      val sites = a.aggregateExpressions.flatMap { ne =>
        collectSites(ne, normalized).map { case (r, inAgg) => (ne.name, r, inAgg) }
      }
      val (extras, measured) = sites.flatMap { case (colName, r, inAgg) =>
        literalScale(r.scale).map { k =>
          val i = counter.incrementAndGet()
          val (margin, absScaled) = measureExprs(r.child, k)
          def agg(f: aggregate.AggregateFunction): Expression =
            AggregateExpression(f, aggregate.Complete, isDistinct = false)
          val (mE, snE, sxE) =
            if (inAgg) (agg(Min(margin)), agg(Min(absScaled)), agg(Max(absScaled)))
            else (margin, absScaled, absScaled)
          val site = Site(s"$colName@round$k",
            orderDependent(r.child, defs), normalized.containsKey(r), inAgg)
          (Seq(Alias(mE, s"__m$i")(), Alias(snE, s"__sn$i")(),
            Alias(sxE, s"__sx$i")()),
            Measured(site, s"__m$i", s"__sn$i", s"__sx$i"))
        }
      }.unzip
      (a.copy(aggregateExpressions = a.aggregateExpressions ++ extras.flatten),
        measured)
    case other => (other, Nil)
  }

  final case class SiteResult(site: Site, minMargin: Double,
                              minAbs: Double, maxAbs: Double) {
    def ulp: Double = math.ulp(math.max(maxAbs, 1e-300))
    // structural hazard: value on/at a boundary within 1e4 ulps of scale
    def onBoundary: Boolean = site.risky && minMargin < 1e4 * ulp
    // signed-zero hazard: a risky un-normalized pre-rounded value within
    // 1e4 ulps-of-grain of 0 rounds to ±0.0 with order-dependent sign.
    // An EXACTLY-zero value is excluded: same-signed summands reach +0.0
    // under every order (q_ndcg's all-zero-relevance groups); a NEAR-zero
    // nonzero residue is the q_heaps_law signature and does flag.
    def zeroSign: Boolean =
      site.risky && !site.normalized &&
        minAbs > 0.0 && minAbs < 1e4 * math.max(ulp, 1e-300)
    // the VERDICT's conservative ceiling: 10³ headroom × n·eps·|scaled|
    // worst-case sequential reassociation drift at n = 1e6
    def warnDrift: Boolean =
      site.risky && minMargin < 1e3 * 1e6 * 1.12e-16 * math.max(maxAbs, 1.0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "MARGIN_CENSUS.json"
    val spark = Harness.session(Harness.cores)

    var totalAll = 0; var totalMeasured = 0; var totalRisky = 0
    val flags = scala.collection.mutable.ArrayBuffer.empty[String]
    val warns = scala.collection.mutable.ArrayBuffer.empty[String]
    def fmt(d: Double): String =
      if (d.isNaN) "null" else f"$d%.6e"
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val cell = try {
        val analyzed = fn(spark, sfDir).queryExecution.analyzed
        val all = totalSites(analyzed)
        val defs = aliasDefs(analyzed)
        val counter = new java.util.concurrent.atomic.AtomicInteger(0)
        val (extended, measured) = extend(analyzed, defs, counter)
        val results: Seq[SiteResult] =
          if (measured.isEmpty) Nil
          else {
            val mdf = org.apache.spark.sql.graftx.Bridge.ofRows(spark, extended)
            val aggs = measured.flatMap(m => Seq(
              smin(col(m.mCol)), smin(col(m.sMinCol)), smax(col(m.sMaxCol))))
            val row: Row = mdf.agg(aggs.head, aggs.tail: _*).head()
            measured.zipWithIndex.map { case (m, i) =>
              def d(j: Int): Double =
                if (row.isNullAt(j)) Double.NaN
                else row.get(j) match {
                  case x: Double => x
                  case x: Float => x.toDouble
                  case x: Number => x.doubleValue()
                }
              SiteResult(m.site, d(3 * i), d(3 * i + 1), d(3 * i + 2))
            }
          }
        totalAll += all; totalMeasured += results.size
        totalRisky += results.count(_.site.risky)
        results.foreach { r =>
          if (r.onBoundary)
            flags += s"$name ${r.site.label}: ON_BOUNDARY margin=${r.minMargin}"
          if (r.zeroSign)
            flags += s"$name ${r.site.label}: ZERO_SIGN min|scaled|=${r.minAbs}"
          if (r.warnDrift && !r.onBoundary)
            warns += s"$name ${r.site.label}: margin=${r.minMargin} < 1e3*n*eps*scale"
        }
        val siteJson = results.map { r =>
          s"""{"label":"${r.site.label}","risky":${r.site.risky},""" +
            s""""normalized":${r.site.normalized},""" +
            s""""min_margin":${fmt(r.minMargin)},"min_abs":${fmt(r.minAbs)},""" +
            s""""max_abs":${fmt(r.maxAbs)},""" +
            s""""margin_ulps":${fmt(r.minMargin / r.ulp)}}"""
        }.mkString("[", ",", "]")
        s"""{"sites_total":$all,"sites_measured":${results.size},""" +
          s""""sites":$siteJson}"""
      } catch {
        case e: Throwable =>
          s"""{"error":"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").take(120)
              .replace("\\", "\\\\").replace("\"", "'").replace("\n", " ")}"}"""
      } finally Harness.release(spark)
      s"""  "$name": $cell"""
    }
    def arr(xs: Seq[String]): String =
      xs.map(s => "\"" + s.replace("\\", "\\\\").replace("\"", "'") + "\"")
        .mkString("[", ",", "]")
    val summary =
      s"""  "summary": {"sf_dir":"$sfDir","sites_total":$totalAll,""" +
        s""""sites_measured":$totalMeasured,"sites_risky":$totalRisky,""" +
        s""""flags":${arr(flags.toSeq)},"warns":${arr(warns.toSeq)}}"""
    val json = "{\n" + (summary +: rows).mkString(",\n") + "\n}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(s"[margin-census] ${rows.size} queries, $totalMeasured/$totalAll " +
      s"sites measured ($totalRisky risky), ${flags.size} flags, " +
      s"${warns.size} warns -> $out")
    flags.foreach(f => println(s"[margin-census] FLAG $f"))
    spark.stop()
    if (flags.nonEmpty) sys.exit(1)
  }
}
