package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._

/** Overflow-safe exact integer sum with an all-LONG hot path — the
  * "two-phase partial-long" device PLANS.md §7v priced: summing exact
  * money cents as decimal(38,0) is order-free at any scale but pays a
  * per-row Decimal add AND (measured r16) kicks HashAggregate off its
  * generated row-based fast hash map, because a decimal(38,0) buffer
  * field is not a primitive slot. This aggregate keeps the whole buffer
  * in longs:
  *
  *   total = hi · 2⁵⁹ + lo,   |lo| ≤ 2⁵⁹
  *
  * Per row: one long add plus one well-predicted branch (|lo| crosses
  * 2⁵⁹ once per ~5.8e17 of accumulated magnitude — effectively never);
  * on overflow the quotient moves into `hi`. Merge does the same in
  * long space. Only `evaluate` touches decimal: hi·2⁵⁹ + lo computed in
  * decimal(38,0), once per group. All three buffer fields are LongType,
  * so groupBy aggregation runs on the codegen fast hash map exactly like
  * a plain `sum(long)` (sf0.1 probe, 6M rows × 3 groups, min of 5:
  * plain-double 0.250 s, double→decimal 0.578 s, long→decimal 0.406 s,
  * plain-long 0.241 s, this 0.26 s).
  *
  * Exactness domain (the one contract; [[SumCents.sum]] repeats it for
  * callers): per-row |value| ≤ 2⁴⁷ (the 2-dp money grid gives ≤ ~1.3e9
  * ≈ 2³¹ for price×(100−disc) products), |total| < 2⁶³·2⁵⁹ ≈ 5.3e36 (a
  * 100 TB corpus money sum is ~1e22 — fourteen orders of headroom).
  * Within it the result is the EXACT integer sum at any partitioning,
  * any merge order: bit-identical to
  * `sum(cents.cast("decimal(38,0)"))`, so every ExactMoney DuckDB twin
  * (textual `sum(CAST(round(x*100) AS BIGINT))` oracles) remains valid
  * unchanged.
  *
  * Null semantics match SQL SUM: null rows are skipped; an all-null or
  * empty group evaluates to NULL (cnt tracks non-null rows).
  */
case class SumCents(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def nullable: Boolean = true
  override def dataType: DataType = DecimalType(38, 0)
  override def prettyName: String = "sum_cents"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sum_cents needs a BIGINT child, got ${child.dataType.catalogString}")

  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val cnt = AttributeReference("cnt", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(lo, hi, cnt)

  /** Quantum: |lo| is kept ≤ 2⁵⁹, far above any row value (≤ 2⁴⁷) and far
    * below long wrap (2⁶³) even after a merge of two full halves. */
  private val Q = 1L << 59

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L))

  /** (lo', hi') after a long add `t` that cannot itself have wrapped:
    * truncated div/rem pair moves whole quanta into hi, exactly. */
  private def carry(t: Expression, h: Expression): (Expression, Expression) = {
    val over = GreaterThan(Abs(t, failOnError = false), Literal(Q))
    (If(over, Remainder(t, Literal(Q), EvalMode.LEGACY), t),
      If(over,
        Add(h, IntegralDivide(t, Literal(Q), EvalMode.LEGACY),
          EvalMode.LEGACY), h))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val v = If(IsNull(child), Literal(0L), child)
    val (lo2, hi2) = carry(Add(lo, v, EvalMode.LEGACY), hi)
    Seq(lo2, hi2,
      Add(cnt, If(IsNull(child), Literal(0L), Literal(1L)), EvalMode.LEGACY))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val (lo2, hi2) = carry(
      Add(lo.left, lo.right, EvalMode.LEGACY),
      Add(hi.left, hi.right, EvalMode.LEGACY))
    Seq(lo2, hi2, Add(cnt.left, cnt.right, EvalMode.LEGACY))
  }

  private def dec(e: Expression): Expression = Cast(e, DecimalType(38, 0))

  override lazy val evaluateExpression: Expression =
    If(EqualTo(cnt, Literal(0L)), Literal(null, DecimalType(38, 0)),
      Add(
        Multiply(dec(hi), Literal(Decimal(Q, 38, 0), DecimalType(38, 0)),
          EvalMode.LEGACY),
        dec(lo), EvalMode.LEGACY))

  override protected def withNewChildInternal(newChild: Expression): SumCents =
    copy(child = newChild)
}

object SumCents {
  /** Column form: exact decimal(38,0) sum of a BIGINT integer-units
    * column, long-fast-path per row.
    *
    * EXACTNESS DOMAIN (callers must hold it; unchecked for speed): per-row
    * |value| ≤ 2⁴⁷, the same contract as the class doc — every in-repo
    * site (cents, basis-point products, mod-P row hashes, squared cents)
    * stays there. The hard wrap limit is 2⁶³ − 2⁵⁹ (`lo + v` must not wrap
    * before the carry check), so 2⁴⁷ leaves ≥ 15 bits of headroom. A site
    * beyond 2⁴⁷ per row needs the plain decimal(38,0) sum instead (see
    * q_cms_join_est / q_gini, which keep it for exactly that reason). */
  def sum(c: Column): Column =
    Bridge.column(SumCents(Bridge.expression(c)).toAggregateExpression())

  /** Integer division Column helper (`a DIV b`): the Column API has no
    * DIV, and the exact-HALF_UP devices ((sum + half) DIV grain) need it
    * over the aggregate above. */
  def intDiv(a: Column, b: Column): Column =
    Bridge.column(IntegralDivide(
      Bridge.expression(a), Bridge.expression(b), EvalMode.LEGACY))
}
