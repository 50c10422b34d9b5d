package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

/** Scoped persist lifecycle for query bodies — the single owner of every
  * cache a query creates.
  *
  * A query body persists an intermediate only when its RESULT plan reads it
  * through more than one exchange (a self-join of one aggregate shares the
  * aggregate's shuffle through AQE's exchange reuse) and recomputing costs
  * more than the cache: an LSH pair chain probed by three configs, an edge
  * set walked by a CC loop. Never persist a cheap projection of a scan. The
  * result is returned LAZILY, so the body itself can never unpersist: the
  * cache must outlive plan construction, until whatever action the CALLER
  * runs has materialized the plan. The lifecycle therefore has two halves
  * with two owners:
  *
  *  - the BODY registers: [[TrackedPersist.persistTracked]] persists the
  *    frame and records it in a ledger keyed by the frame's OWN
  *    SparkSession (a one-token swap for the bare `.persist()` it
  *    replaces);
  *  - the RUNNER releases: [[releaseAll]] unpersists exactly the frames its
  *    session registered — `Verify.main` after each per-query parquet dump,
  *    `Harness.timedPass` after every timed pass, `SparkSpec` between suites.
  *    (`spark.catalog.clearCache()` would also evict them, but it nukes
  *    every cached relation in the session — including test fixtures and
  *    cross-query static tables — so the ledger releases only what query
  *    bodies actually took.)
  *
  * Ledgers are PER-SESSION (a synchronized WeakHashMap keyed on the
  * SparkSession): two concurrent evaluations in one JVM — an embedder
  * running queries on `spark.newSession()` isolates next to a batch runner —
  * release only their own caches, never each other's mid-query. The weak
  * key collects ONLY once its ledger is drained: a ledgered Dataset
  * strongly references its own SparkSession, a value→key reference that
  * pins a NON-EMPTY entry (and its session) regardless of the weak key —
  * so cleanup is the runner contract ([[releaseAll]] after every query),
  * not GC; the weak key merely lets the drained, empty deque of a
  * stopped session disappear instead of accumulating per session.
  *
  * At 100 TB the same discipline is what keeps a long-lived driver from
  * pinning executor storage memory across queries: every persist a query
  * takes is enumerable, scoped to its session, and returned — not leaked
  * until session death.
  */
object Persisted {

  private val ledgers =
    new java.util.WeakHashMap[
      SparkSession, java.util.ArrayDeque[Dataset[_]]]()

  private def ledgerFor(s: SparkSession): java.util.ArrayDeque[Dataset[_]] =
    ledgers.synchronized {
      var q = ledgers.get(s)
      if (q == null) { q = new java.util.ArrayDeque[Dataset[_]](); ledgers.put(s, q) }
      q
    }

  implicit class TrackedPersist[T](private val ds: Dataset[T]) extends AnyVal {
    /** `persist()` + register in the owning session's ledger. Same storage
      * level, same laziness, same return value as the bare call — only the
      * RELEASE side changes (owned by the runner via [[releaseAll]]). */
    def persistTracked(): Dataset[T] = {
      ds.persist()
      val q = ledgerFor(ds.sparkSession)
      q.synchronized { q.add(ds) }
      ds
    }
  }

  /** Unpersist every frame ledgered under `session` (non-blocking) and
    * REMOVE that ledger entry — after a drain the map holds nothing for
    * the session at all, so the value→key pinning documented above has
    * a one-query lifetime under the runner contract. Idempotent;
    * unpersisting a frame a body already dropped is a no-op; a body
    * registering concurrently with a drain lands in a fresh ledger that
    * the next drain releases. Other sessions' ledgers are untouched. */
  def releaseAll(session: SparkSession): Unit = {
    val q = ledgers.synchronized { ledgers.remove(session) }
    if (q != null) {
      var f = q.synchronized { q.poll() }
      while (f != null) {
        f.unpersist(blocking = false)
        f = q.synchronized { q.poll() }
      }
    }
  }

  /** Whole-JVM drain: every ledger of every live session. For single-
    * session runners this equals the scoped call; a concurrent embedder
    * must use the per-session overload. */
  def releaseAll(): Unit = {
    val sessions = ledgers.synchronized {
      val it = ledgers.keySet().iterator()
      val b = scala.collection.mutable.ArrayBuffer.empty[SparkSession]
      while (it.hasNext) b += it.next()
      b.toSeq
    }
    sessions.foreach(releaseAll)
  }

  /** Outstanding registered frames for `session` — a spec asserts this
    * returns to zero after a runner-shaped release so the balance is
    * machine-checked. */
  def pending(session: SparkSession): Int = {
    val q = ledgers.synchronized { ledgers.get(session) }
    if (q == null) 0 else q.synchronized { q.size }
  }

  /** Outstanding frames across ALL sessions (JVM-wide balance). */
  def pending: Int = ledgers.synchronized {
    var n = 0
    val it = ledgers.values().iterator()
    while (it.hasNext) { val q = it.next(); n += q.synchronized { q.size } }
    n
  }
}
