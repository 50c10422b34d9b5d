package graft.queries

import graft.operators.Persisted._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.Multimodal
import graft.functions.Vectors

/** Multimodal-column queries: metadata projection (oracle-able), frame
  * sampling (oracle on counts/sizes — the frame bytes themselves are opaque),
  * and the stub-decode → feature → similarity pipeline (rows-only: the
  * decoder is engine-side).
  */
object MultimodalOps {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  /** q_binary_source's blobs (body and oracle), in this checkout's target/. */
  private val BlobDir = new java.io.File("target/graft_blobs").getAbsolutePath

  val queries: Map[String, Q] = Map(
    // ---- REAL binary-file ingestion (spark.read.format("binaryFile") —
    //      the media-lake scan path, complementing the synthesized blob
    //      columns below): three deterministic ASCII blobs are
    //      materialized under target/ and read back as (name, length,
    //      md5). Blob bytes stay ASCII so the DuckDB oracle's
    //      md5(decode(read_blob(...))) hashes the identical byte string.
    //      At scale this source partitions by file and prunes on path —
    //      the binary twin of the parquet scan ----
    "q_binary_source" -> ((s, d) => {
      val dir = new java.io.File(BlobDir)
      dir.mkdirs()
      Seq(256, 1024, 4096).zipWithIndex.foreach { case (n, i) =>
        val bytes = Array.tabulate(n)(j => (((j * 7 + 13 + i) % 26) + 'a')
          .toByte)
        java.nio.file.Files.write(
          new java.io.File(dir, s"blob_$i.bin").toPath, bytes)
      }
      s.read.format("binaryFile").load(dir.getAbsolutePath)
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
          col("length"), md5(col("content")).as("content_md5"))
        .orderBy("fname")
    }),
    // ---- blob + metadata projection ----
    "q_media_meta" -> ((s, d) =>
      Multimodal.mediaFromDocuments(docs(s, d))
        .select(col("media_id"), col("kind"),
          octet_length(col("bytes")).as("n_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy("media_id")),

    // ---- exact blob dedup census (the multimodal twin of q_dedup_exact:
    //      media lakes duplicate aggressively — re-crawled images, mirror
    //      hosts, re-encoded containers with identical payloads — and
    //      blob dedup is pure content-hash arithmetic on the BINARY
    //      column, no decode needed). Per kind: distinct blobs, total
    //      blobs, and the bytes a content-addressed store saves by
    //      keeping one copy per hash. Map-side-combined (kind, md5)
    //      agg → kind census; nothing corpus-sized moves ----
    "q_media_dedup" -> ((s, d) => {
      val m = Multimodal.mediaFromDocuments(docs(s, d))
        .select(col("kind"), md5(col("bytes")).as("h"),
          octet_length(col("bytes")).cast("long").as("nb"))
      m.groupBy(col("kind"), col("h"))
        .agg(count(lit(1)).as("n"), max(col("nb")).as("nb"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("n")).as("n_blobs"),
          sum((col("n") - 1) * col("nb")).as("dup_bytes"))
        .orderBy("kind")
    }),

    // ---- frame sampling over binary columns (stride 4, 256-byte frames) ----
    "q_media_frames" -> ((s, d) =>
      Multimodal.mediaFromDocuments(docs(s, d))
        .select(col("media_id"),
          Multimodal.sampleFrames(col("bytes"), 256, 4).as("frames"),
          octet_length(col("bytes")).as("n_bytes"))
        .select(col("media_id"), col("n_bytes"),
          size(col("frames")).as("n_sampled"),
          octet_length(element_at(col("frames"), 1).getField("frame")).as("first_frame_bytes"))
        .orderBy("media_id")),

    // ---- stub decode → features → per-kind nearest neighbor (rows-only) ----
    "q_media_ann" -> ((s, d) => {
      val feats = Multimodal.featuresFromDocuments(s, docs(s, d)).persistTracked()
      val probes = feats.filter(col("media_id") < 5)
        .select(col("media_id").as("probe_id"), col("features").as("pf"))
      val corpus = feats.select(col("media_id").as("neighbor_id"), col("features").as("nf"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      corpus.join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          round(graft.functions.VectorExprs.cosine(col("pf"), col("nf")), 6).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("probe_id"), col("rn"), col("neighbor_id"), col("cos"))
        .orderBy("probe_id", "rn")
    })
  )

  val oracles: Map[String, String] = Map(
    // runs AFTER Verify has materialized the blobs (the q_layout_read
    // sequencing precedent); decode() is safe because the bytes are ASCII
    "q_binary_source" ->
      s"""SELECT parse_filename(filename) AS fname,
        |       CAST(size AS BIGINT) AS length,
        |       md5(decode(content)) AS content_md5
        |FROM read_blob('$BlobDir/*.bin')
        |ORDER BY fname""".stripMargin,
    "q_media_meta" ->
      """SELECT doc_id AS media_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |       octet_length(CAST(text AS BLOB)) AS n_bytes,
        |       CAST(doc_id % 8 * 64 + 256 AS INTEGER) AS width,
        |       CAST(doc_id % 6 * 64 + 256 AS INTEGER) AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    "q_media_dedup" ->
      """WITH m AS (
        |  SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |              ELSE 'video' END AS kind,
        |         md5(text) AS h,
        |         octet_length(CAST(text AS BLOB)) AS nb
        |  FROM documents),
        |g AS (SELECT kind, h, count(*) AS n, max(nb) AS nb
        |      FROM m GROUP BY kind, h)
        |SELECT kind, count(*) AS n_distinct,
        |       CAST(sum(n) AS BIGINT) AS n_blobs,
        |       CAST(sum((n - 1) * nb) AS BIGINT) AS dup_bytes
        |FROM g GROUP BY kind ORDER BY kind""".stripMargin,

    "q_media_frames" ->
      """SELECT doc_id AS media_id,
        |       octet_length(CAST(text AS BLOB)) AS n_bytes,
        |       CAST(ceil(greatest(ceil(octet_length(CAST(text AS BLOB)) / 256.0), 1) / 4.0)
        |            AS INTEGER) AS n_sampled,
        |       least(octet_length(CAST(text AS BLOB)), 256) AS first_frame_bytes
        |FROM documents ORDER BY media_id""".stripMargin,

    // full replication of the stub decode: poly-131 block hashes → float32
    // raw values → float32 unit-normalization → double cosine. DuckDB REAL
    // division/multiplication is true binary32, so values are bit-identical.
    // Parity scope: the engine folds UTF-8 BYTES, the oracle folds
    // codepoints over character-indexed blocks — equal for ASCII text
    // (all of the synthetic corpus); a real binary corpus would be compared
    // by a byte-level oracle instead.
    "q_media_ann" -> {
      import graft.functions.{TextExprs, VectorExprs}
      val poly = TextExprs.charPolySql("substr(text, i*blk + 1, blk)", 131)
      s"""WITH b AS (SELECT doc_id AS media_id, text,
         |                  greatest(length(text) // 64, 1) AS blk
         |           FROM documents),
         |f0 AS (SELECT media_id,
         |         list_transform(range(0, 64), i ->
         |           CAST((CASE WHEN length(substr(text, i*blk + 1, blk)) = 0
         |                 THEN CAST(0 AS BIGINT) ELSE $poly END) % 1000003 AS REAL)
         |           / CAST(1000003 AS REAL)) AS raw
         |       FROM b),
         |nrm AS (SELECT media_id, raw,
         |          CAST(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |            list_transform(raw, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |            (acc, v) -> acc + v)) AS REAL) AS n
         |        FROM f0),
         |f AS (SELECT media_id, list_transform(raw, x -> x / n) AS features FROM nrm),
         |pairs AS (
         |  SELECT p.media_id AS probe_id, c.media_id AS neighbor_id,
         |         round(${VectorExprs.cosineSql("p.features", "c.features")}, 6) AS cos
         |  FROM f p, f c WHERE p.media_id < 5 AND c.media_id <> p.media_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
         |              ORDER BY cos DESC, neighbor_id ASC) AS rn
         |      FROM pairs)
         |SELECT probe_id, rn, neighbor_id, cos FROM r
         |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin
    }
  )
}
