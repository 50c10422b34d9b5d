package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** Native per-key top-k — the whole-operator extension point (SURVEY
  * §7.3(c)): a custom LogicalPlan + SparkStrategy + physical SparkPlan.
  *
  * Spark expresses "top k rows per key" as row_number() over a
  * (partitionBy key, orderBy o) window + filter — WindowExec SORTS every
  * key's full row set even though only k rows survive. This operator keeps
  * a bounded heap of k rows per key instead: a PARTIAL pass trims every
  * input partition to ≤k rows per key map-side, the exchange then moves
  * only surviving rows, and the FINAL pass merges per key — the
  * partial-aggregation shape applied to ranking. The q_topk_native oracle
  * (a row_number window in DuckDB) proves result equality with the window
  * formulation.
  *
  * Memory safety (both passes hold O(bounded) task memory at ANY key
  * cardinality — the property a 100 TB input demands):
  *
  *  - PARTIAL: the per-key heap map is capped at
  *    `spark.graft.topk.partialMaxKeys` keys (default 65536 → ≤ cap·k rows
  *    in flight). On overflow the pass EMITS its current heaps downstream
  *    and resets — map-side trimming is only an optimization, so spilling
  *    untrimmed rows to the exchange is always correct. A partition whose
  *    keys are all distinct (every key holds < k rows, the adversarial
  *    case) degrades gracefully to a pass-through instead of copying the
  *    partition into an unbounded map.
  *  - FINAL: requires its child SORTED on the keys, so Spark plans a
  *    spillable SortExec after the key exchange and the pass streams one
  *    key group at a time holding a single k-row heap — O(k) memory,
  *    never |keys in partition|·k. Group boundaries are detected with the
  *    same SortOrder comparator the sort used (not binary row equality),
  *    so the grouping agrees bit-for-bit with the inserted sort.
  *
  * Reference analog: the reference's TakeOrdered-style limit
  * (/root/reference/src/execution/limit.rs) generalized per key — the
  * reference never holds more than a batch, and now neither pass here
  * holds more than its cap.
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    partial: Boolean, child: SparkPlan) extends UnaryExecNode {
  import org.apache.spark.sql.execution.metric.SQLMetrics

  override def output: Seq[Attribute] = child.output
  // numFlushes (partial pass only) is the overflow observable: 0 means the
  // key set fit the cap; a large count means the pass degraded toward a
  // pass-through — the signal to raise partialMaxKeys or skip the partial
  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "numFlushes" -> SQLMetrics.createMetric(sparkContext,
      "partial heap-map flushes"))
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    // the planner inserts the key exchange before the FINAL pass only;
    // the partial pass runs wherever the child's rows already are
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    // the FINAL pass streams sorted key groups (O(k) memory) — the sort
    // Spark inserts here is the spillable one (UnsafeExternalSorter), so
    // no amount of key cardinality can OOM the merge
    if (partial) Seq(Nil) else Seq(keys.map(SortOrder(_, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    // hoist everything the task needs: the closure must not capture
    // `this` (a SparkPlan tree is not serializable)
    val localKeys = keys
    val localOrder = order
    val localK = k
    val childOutput = child.output
    val isPartial = partial
    val maxKeys = math.max(1,
      conf.getConfString("spark.graft.topk.partialMaxKeys", "65536").toInt)
    val outRows = longMetric("numOutputRows")
    val flushes = longMetric("numFlushes")
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(localKeys, childOutput)
      val ord = new LazilyGeneratedOrdering(localOrder, childOutput)
      val base =
        if (isPartial) partialPass(it, keyProj, ord, localK, maxKeys, flushes)
        else finalPass(it, keyProj,
          new LazilyGeneratedOrdering(
            localKeys.map(SortOrder(_, Ascending)), childOutput),
          ord, localK)
      base.map { r => outRows += 1; r }
    }
  }

  /** Map-side trim: per key a bounded max-heap under `order` — the head is
    * the WORST kept row (scala.PriorityQueue dequeues the ordering's
    * maximum), so a candidate only displaces it when strictly better. The
    * map itself is capped at `maxKeys` keys: on overflow the current heaps
    * are emitted and the map reset, bounding task memory at maxKeys·k rows
    * regardless of key cardinality (emitting extra rows is always safe —
    * the final pass does the authoritative selection).
    */
  private def partialPass(it: Iterator[InternalRow], keyProj: UnsafeProjection,
      ord: Ordering[InternalRow], k: Int, maxKeys: Int,
      flushes: org.apache.spark.sql.execution.metric.SQLMetric): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val heaps = mutable.HashMap.empty[UnsafeRow,
        mutable.PriorityQueue[InternalRow]]
      private var cur: Iterator[InternalRow] = Iterator.empty
      private var exhausted = false

      private def drain(): Iterator[InternalRow] = {
        val vs = heaps.values.toArray
        heaps.clear()
        vs.iterator.flatMap(_.iterator)
      }

      override def hasNext: Boolean = {
        while (!cur.hasNext && !exhausted) {
          var flushed = false
          while (!flushed && it.hasNext) {
            val row = it.next()
            val key = keyProj(row)
            // look up with the projection's REUSED row (UnsafeRow equality
            // is byte-wise, so a transient key is a valid map probe) and
            // copy only on first sight: getOrElseUpdate(key.copy(), ...)
            // evaluated the copy eagerly, allocating per INPUT ROW instead
            // of per distinct key
            val heap = heaps.get(key) match {
              case Some(h) => h
              case None =>
                val h = mutable.PriorityQueue.empty[InternalRow](ord)
                heaps.put(key.copy(), h)
                h
            }
            if (heap.size < k) heap.enqueue(row.copy())
            else if (ord.compare(row, heap.head) < 0) {
              heap.dequeue(); heap.enqueue(row.copy())
            }
            if (heaps.size > maxKeys) {
              cur = drain(); flushed = true; flushes += 1
            }
          }
          if (!flushed) { cur = drain(); exhausted = true }
        }
        cur.hasNext
      }

      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("empty iterator")
        cur.next()
      }
    }

  /** Reduce-side merge over a KEY-SORTED stream: one k-row heap at a time.
    * `grpOrd` is the comparator of the sort this pass required, so a group
    * ends exactly where the sort says the key changes — never splitting or
    * merging groups the sort wouldn't.
    */
  private def finalPass(it: Iterator[InternalRow], keyProj: UnsafeProjection,
      grpOrd: Ordering[InternalRow], ord: Ordering[InternalRow],
      k: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var cur: Iterator[InternalRow] = Iterator.empty
      // first row of the NEXT group, already copied (sorter rows are reused)
      private var pending: InternalRow = if (it.hasNext) it.next().copy() else null

      override def hasNext: Boolean = cur.hasNext || pending != null

      override def next(): InternalRow = {
        if (!cur.hasNext) {
          if (pending == null) throw new NoSuchElementException("empty iterator")
          val groupRep = pending
          val heap = mutable.PriorityQueue.empty[InternalRow](ord)
          heap.enqueue(groupRep)
          pending = null
          var done = false
          while (!done && it.hasNext) {
            val row = it.next()
            if (grpOrd.compare(row, groupRep) == 0) {
              if (heap.size < k) heap.enqueue(row.copy())
              else if (ord.compare(row, heap.head) < 0) {
                heap.dequeue(); heap.enqueue(row.copy())
              }
            } else { pending = row.copy(); done = true }
          }
          cur = heap.iterator
        }
        cur.next()
      }
    }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Optimizer rule (the Rule[LogicalPlan] extension point): rewrites the
  * canonical window top-k pattern
  *   Project(Filter(rn ≤ k, Window(row_number AS rn, part, order, child)))
  * into Project(TopKPerKey(part, order, k, child)) whenever the rank
  * column is DISCARDED by the projection — the window sort (and Spark's
  * own WindowGroupLimit pre-pass, which still sorts) disappear in favor
  * of the bounded-heap operator.
  *
  * TIE SAFETY — the one semantic caveat, stated structurally: row_number
  * breaks order ties ARBITRARILY, so when `orderSpec` is not a total
  * order the window plan and the heap plan may keep different (equally
  * valid) rows; what IS invariant under ties is the multiset of order-
  * column values selected per key. Either choice is a valid row_number
  * answer, so the rewrite is always on: `graft.Context.install` puts it
  * on every session before its first query, and every session plans the
  * same query the same way. Queries here follow the repo-wide total-order
  * convention (orderSpec ends in a unique tie-break column — anything
  * else could not pass a cross-engine oracle either), and the
  * AnalyticsSpec ties fixture pins the invariant down.
  */
object TopKRewrite extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CurrentRow, LessThan, LessThanOrEqual, Literal, NamedExpression, RowFrame, RowNumber, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, Window => LWindow, WindowGroupLimit}

  private def stripGroupLimit(plan: LogicalPlan): LogicalPlan = plan match {
    // our partial pass subsumes the pre-limit — keep the plan beneath it
    case WindowGroupLimit(_, _, _, _, child) => child
    case other => other
  }

  private def asRowNumberWindow(w: LWindow, rn: Attribute): Boolean =
    w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(_, _, SpecifiedWindowFrame(RowFrame,
            UnboundedPreceding, CurrentRow))), _)) => a.exprId == rn.exprId
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case p @ Project(projList, Filter(cond, w: LWindow)) =>
        val bound = cond match {
          case LessThanOrEqual(a: Attribute, Literal(k: Int, _)) => Some(a -> k)
          case LessThan(a: Attribute, Literal(k: Int, _)) => Some(a -> (k - 1))
          case _ => None
        }
        bound match {
          case Some((rn, k)) if k >= 1 && asRowNumberWindow(w, rn) &&
              !projList.exists(_.references.exists(_.exprId == rn.exprId)) &&
              w.partitionSpec.nonEmpty &&
              w.partitionSpec.forall(_.isInstanceOf[Attribute]) =>
            Project(projList.asInstanceOf[Seq[NamedExpression]],
              TopKPerKey(w.partitionSpec, w.orderSpec, k,
                stripGroupLimit(w.child)))
          case _ => p
        }
    }
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

/** User-facing construction. The planner strategy (and the rewrite that
  * reaches the same operator from a window) is installed on every session
  * by `graft.Context.install`.
  */
object TopK {
  /** Top `k` rows per distinct value of `keys`, best-first under `order`
    * — (column name, ascending?) pairs that must form a TOTAL order
    * (include a tie-break column) or the boundary rows are
    * nondeterministic, same as any ranking query. Attributes are resolved
    * HERE against the analyzed child: Spark 4's Column is a lazy node
    * adapter that the analyzer only unwraps inside operators it knows,
    * and it reaches codegen unresolved inside a foreign node.
    */
  def perKey(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Descending
    import org.apache.spark.sql.graftx.Bridge
    // k = 0 would surface later as an opaque NoSuchElementException on an
    // empty heap inside a task; fail fast at plan build (the rewrite path
    // already guards k >= 1 structurally)
    require(k >= 1, s"top-k requires k >= 1, got $k")
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Expression = analyzed.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${analyzed.output.map(_.name)}"))
    val sortOrders = order.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    Bridge.ofRows(spark, TopKPerKey(keys.map(attr), sortOrders, k, analyzed))
  }
}
