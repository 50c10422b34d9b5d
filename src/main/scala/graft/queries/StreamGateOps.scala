package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Oracle-gated STREAMING twins (r15 verdict item 5): until r16 the
  * streaming layer's correctness rested only on StreamingSpec's
  * stream==batch equivalences — never on the DuckDB oracle. These two
  * queries replay a real Structured Streaming pipeline deterministically
  * inside the gate: the sf table is fed through a MemoryStream in fixed
  * doc_id-ordered micro-batches, the stream runs to completion
  * (processAllAvailable per batch, real state store, real watermarks), and
  * the FINAL STATE is the gated result compared against ANSI SQL.
  *
  * Determinism contract (why these two are gateable at all):
  *  - q_stream_dedup_inc gates the FINGERPRINT SET — which representative
  *    doc survives `dropDuplicatesWithinWatermark` depends on intra-batch
  *    arrival order (real in a stream, not a function of the data), but
  *    the surviving fp set is a pure function of the row set (DocsStream
  *    Scaladoc). DISTINCT fp is therefore bit-stable across parallelism,
  *    AQE, and micro-batch cuts.
  *  - q_stream_corpus_checksum gates VALUES: both channels are commutative
  *    modular integer sums, so the streamed complete-mode state is
  *    BIT-IDENTICAL to the batch aggregate whatever the cut points — the
  *    same claim StreamingSpec pins, now hash-checked against DuckDB.
  *
  * Scale notes: the MemoryStream + driver-side collect here is the REPLAY
  * HARNESS, not the operator — production ingest is a file/Kafka source
  * and the operators themselves (stage-1 watermarked dedup state, stage-2
  * stream-static anti join, per-source modular sums) are the bounded-state
  * designs documented in [[graft.streaming.DocsStream]]. The collect is
  * bounded by the gate fixture (≤5k docs at sf0.1) and exists so the
  * micro-batch cut points are a deterministic function of the data.
  */
object StreamGateOps {
  type Q = (SparkSession, String) => DataFrame

  /** Unique memory-sink names across repeated invocations (Bench passes). */
  private val sinkId = new java.util.concurrent.atomic.AtomicLong(0)

  case class DedupDoc(doc_id: Long, text: String)
  case class CkDoc(doc_id: Long, text: String, source: String, n_chars: Long)

  private val ReplayShufflePartitions = 4

  /** Feed `rows` through `pipeline` in `nBatches` doc_id-ordered
    * micro-batches; return the memory sink's final table, materialized
    * locally so the sink view can be dropped before returning.
    *
    * r16 opt (guide §2.4/§6): a stateful operator shards its state store
    * into `spark.sql.shuffle.partitions` pieces FIXED at stream start —
    * the session default (= cores) means a ≤5k-doc gate replay pays
    * 32 state-store task commits per stateful stage per micro-batch,
    * almost all of them empty. The replay pins the stream's shuffle
    * partitioning to [[ReplayShufflePartitions]] (production ingest
    * uses the session default) and restores the session conf after.
    * Gated RESULTS are partitioning-invariant by construction — the fp
    * DISTINCT set and commutative modular sums — which the determinism
    * matrix (8↔32 cores × AQE on/off) re-checks every round. Measured
    * at sf0.1/local[32], together with the history persist below:
    * dedup replay 15.1 → 4.3 s warm, checksum 3.0 → 1.6 s.
    */
  private def replay[T: org.apache.spark.sql.Encoder](
      s: SparkSession, rows: Array[T], nBatches: Int, mode: String,
      pipeline: DataFrame => DataFrame): Array[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // SINGLE-THREADED-RUNNER ASSUMPTION: the two confs below are
    // session-global; a query planned CONCURRENTLY on this session during
    // a replay would silently pick up 4 shuffle partitions. Every in-repo
    // runner (Bench/Verify/Explain/PlanCensus) executes queries strictly
    // sequentially; a parallel harness must clone the session (or scope
    // the confs per-thread) before interleaving work with a replay.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevRetain = s.conf.getOption("spark.sql.streaming.minBatchesToRetain")
    s.conf.set("spark.sql.shuffle.partitions", ReplayShufflePartitions.toString)
    // a replay never recovers from a checkpoint (the temp checkpoint is
    // deleted on stop), so retaining the default 100 state versions per
    // shard only grows provider memory across benched passes
    s.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    try {
      val ms = MemoryStream[T](s)
      val qn = s"graft_stream_gate_${sinkId.incrementAndGet()}"
      val q = pipeline(ms.toDF()).writeStream
        .format("memory").queryName(qn).outputMode(mode).start()
      try {
        val per = math.max(1, (rows.length + nBatches - 1) / nBatches)
        rows.grouped(per).foreach { b =>
          ms.addData(b.toSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      val out = s.table(qn).collect()
      s.catalog.dropTempView(qn)
      out
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevRetain match {
        case Some(v) => s.conf.set("spark.sql.streaming.minBatchesToRetain", v)
        case None => s.conf.unset("spark.sql.streaming.minBatchesToRetain")
      }
    }
  }

  val queries: Map[String, Q] = Map(
    // ---- streaming incremental-ingest dedup, gated on the surviving
    //      fingerprint set: history = docs with doc_id % 7 == 0 (the
    //      already-ingested corpus), the rest arrive as a 5-micro-batch
    //      stream through DocsStream.incrementalDedup (watermarked
    //      in-stream dedup + stream-static anti join) ----
    "q_stream_dedup_inc" -> ((s, d) => {
      import s.implicits._
      import graft.operators.Persisted._
      val docs = Tables(s, d, "documents")
      // the static side of the stream-static anti join is re-planned and
      // re-executed EVERY micro-batch (IncrementalExecution re-runs the
      // scan → md5 → distinct → broadcast-build subtree per trigger);
      // persist it once so five triggers hit the cached fp set instead
      // of five parquet scans (guide §5 — reused AND recomputed) — this
      // is exactly what a production ingest does with its historical
      // fingerprint table
      val history = docs.filter(col("doc_id") % 7 === 0)
        .select(md5(col("text")).as("fp")).distinct()
        .persistTracked()
      val arriving = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("text")).as[DedupDoc]
        .collect().sortBy(_.doc_id)
      val fps = replay(s, arriving, nBatches = 5, mode = "append",
        stream => graft.streaming.DocsStream.incrementalDedup(stream, history))
        .map(_.getAs[String]("fp")).distinct.sorted
      fps.toSeq.toDF("fp").orderBy("fp")
    }),

    // ---- streaming per-source corpus checksum, gated on VALUES: all of
    //      documents arrives as a 3-micro-batch stream through
    //      DocsStream.corpusChecksum (complete-mode running aggregate);
    //      the final state must hash-match the batch q_corpus_checksum
    //      oracle bit for bit ----
    "q_stream_corpus_checksum" -> ((s, d) => {
      import s.implicits._
      val all = Tables(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
        .as[CkDoc].collect().sortBy(_.doc_id)
      val rows = replay(s, all, nBatches = 3, mode = "complete",
        stream => graft.streaming.DocsStream.corpusChecksum(stream))
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("checksum"), r.getAs[Long]("checksum2"),
          r.getAs[Long]("total_chars")))
      rows.toSeq
        .toDF("source", "n_docs", "checksum", "checksum2", "total_chars")
        .orderBy("source")
    }))

  val oracles: Map[String, String] = Map(
    // fp set of the arriving docs minus the historical fp set — stage-1
    // in-stream dedup only collapses duplicates (never removes an fp),
    // stage-2 is exactly the anti join; NOT EXISTS instead of NOT IN so a
    // NULL text cannot poison the set semantics
    "q_stream_dedup_inc" ->
      """SELECT DISTINCT md5(d.text) AS fp
        |FROM documents d
        |WHERE d.doc_id % 7 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM documents h
        |                  WHERE h.doc_id % 7 = 0
        |                    AND md5(h.text) = md5(d.text))
        |ORDER BY fp""".stripMargin,

    // identical to q_corpus_checksum's oracle: the streamed final state
    // must equal the batch aggregate bit for bit
    "q_stream_corpus_checksum" ->
      """WITH h AS (
        |  SELECT source, n_chars,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
        |            for c in string_split(substr(md5(text), 1, 15), '')]),
        |           (acc, d) -> acc * 16 + d) % 2147483647 AS hm
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(hm) % 2147483647 AS BIGINT) AS checksum,
        |       CAST(sum((hm * hm) % 2147483647) % 2147483647 AS BIGINT)
        |         AS checksum2,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM h GROUP BY source ORDER BY source""".stripMargin)
}
