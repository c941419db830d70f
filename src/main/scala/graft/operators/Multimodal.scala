package graft.operators

import graft.functions.VectorKernels
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, decoded/feature-extracted inside a partition-batched kernel.
  *
  * The decode step is a STUB by design — no image/audio codecs exist in
  * this container — but everything Spark-side is real and tested: the
  * binary column, the typed output schema, the `mapPartitions` batch shape
  * (the JVM analog of `mapInPandas`: one iterator per partition, rows
  * streamed, nothing collected), and the per-kind metadata contract. The
  * stub is a pure function of the leading payload bytes, so the whole
  * query has an exact DuckDB oracle: both engines address the SAME UTF-8
  * byte stream (payload byte k = hex pair 2k+1..2k+2 of `hex(encode
  * (text))` on the DuckDB side), so no ASCII assumption exists anywhere —
  * and the corpus deliberately plants multibyte payloads ([[Utf8Suffix]])
  * to prove it.
  *
  * Swap [[MediaDecoder.decode]] for a real codec and nothing else changes.
  */
object Multimodal {

  /** Typed metadata a real decoder would emit. */
  final case class MediaMeta(
      doc_id: Long, byte_len: Long, fmt: String,
      width: Long, height: Long, n_frames: Long)

  object MediaDecoder {
    /** STUB decode: deterministic fake parse of the payload header. A real
      * implementation would hand `bytes` to a codec; the signature and the
      * batch shape are the contract. */
    def decode(docId: Long, bytes: Array[Byte]): MediaMeta = {
      def b(i: Int): Long = if (i < bytes.length) bytes(i) & 0xFFL else 0L
      val fmt = (b(0) % 3) match {
        case 0 => "image"
        case 1 => "audio"
        case _ => "video"
      }
      val width  = (b(0) * 256 + b(1)) % 1024 + 16
      val height = (b(1) * 256 + b(2)) % 1024 + 16
      val frames = fmt match {
        case "image" => 1L
        case "audio" => b(3) % 64 + 1
        case _       => b(3) % 240 + 1
      }
      MediaMeta(docId, bytes.length.toLong, fmt, width, height, frames)
    }

    /** STUB feature extraction: a deterministic 16-dim embedding of the
      * payload header bytes (a real pipeline runs a vision/audio encoder
      * here; the contract — bytes in, fixed-dim vector out, batched per
      * partition — is what the downstream ANN consumes). */
    val EmbedDims = 16
    def embed(bytes: Array[Byte]): Seq[Double] =
      (0 until EmbedDims).map { i =>
        val b = if (2 * i < bytes.length) bytes(2 * i) & 0xFF else 0
        (b - 96) / 16.0
      }
  }

  /** Planted multibyte content: every 10th payload gains this suffix —
    * 2-byte (ü/ï/ø/é), 3-byte (–) and 4-byte (𝄞) UTF-8 sequences — so the
    * byte-addressed decode/embed/hash paths run on REAL multibyte bytes in
    * every mm query, and the oracle must agree at byte level (no ASCII
    * fast path can fake a pass). */
  private val Utf8Suffix = " ünïcødé–𝄞"

  /** The documents table with the multibyte plant applied — the text every
    * mm query (and its oracle's `pl` CTE) starts from. */
  private def texts(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 3, concat(col("text"), lit(Utf8Suffix)))
          .otherwise(col("text")).as("text"))

  /** Binary payload column: the UTF-8 bytes of [[texts]]. The DuckDB
    * oracles address the same byte stream via hex(encode(text)) pairs, so
    * payload semantics hold for ANY unicode corpus — a non-ASCII payload
    * is exercised, not asserted away. */
  private def payloads(s: SparkSession, dir: String): DataFrame =
    texts(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // binary ingest → partition-batched decode → typed metadata table
    "mm_decode_meta" -> ((s, dir) => {
      import s.implicits._
      payloads(s, dir)
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) => MediaDecoder.decode(id, bytes) })
        .toDF()
    }),

    // feature-extraction fan-out: frame sampling plan per media row — one
    // output row per sampled frame (every 10th frame, capped at 4), the
    // UDTF/explode shape a video pipeline needs. Pure column ops.
    "mm_frame_sample" -> ((s, dir) => {
      import s.implicits._
      val meta = payloads(s, dir)
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) => MediaDecoder.decode(id, bytes) })
        .toDF()
      meta.filter(col("fmt") === "video")
        .withColumn("frame_idx",
          explode(sequence(lit(0L), least(floor((col("n_frames") - 1) / 10).cast("long"), lit(3L)))))
        .select(col("doc_id"), (col("frame_idx") * 10).as("frame_no"), col("width"), col("height"))
    }),

    // NEAR-dup media detection — the perceptual-hash pass that catches
    // what mm_dedup_bytes cannot (re-encoded/re-compressed copies are
    // byte-different but perceptually identical): a 64-bit simhash over
    // overlapping byte 4-grams of the payload (the stub stands in for a
    // DCT pHash; the pipeline — fixed-width code, banded hamming search,
    // exact verify — is the real contract), searched with the catalog's
    // 4×16-bit band pigeonhole (hamming ≤ 3 ⇒ some band equal, zero
    // recall loss) and verified by exact bit_count. Corpus plants
    // re-encodes: every 7th payload re-ingested under doc_id + 3·10⁶
    // with ONE byte changed — most gram votes survive, so codes land
    // within the hamming budget. Scale shape: votes collapse map-side to
    // 64 counters per doc; the pair search shuffles (band, 16-bit key,
    // id, two longs) — payloads never move; shared machinery with
    // dedup_simhash_pairs (Dedup.simhash64From / simhashPairsFrom).
    "mm_phash_hamming" -> ((s, dir) => {
      // char-addressed (substring/length count code points identically in
      // both engines) and hashed via md5-of-UTF-8 — multibyte-safe by
      // construction, and exercised on the planted Utf8Suffix payloads
      val t = texts(s, dir)
      val planted = t.unionByName(
        t.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            expr("""concat(substring(text, 1, cast(doc_id % 8 as int)), '~',
                   |substring(text, cast(doc_id % 8 + 2 as int), length(text)))""".stripMargin)
              .as("text")))
      val grams = Par.fanOut(planted).select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, greatest(1, length(text) - 3)), i -> substring(text, i, 4))"))
          .as("tok"))
      Dedup.simhashPairsFrom(Dedup.simhash64From(grams))
    }),

    // Exact media dedup by content hash — the first dedup a multimodal
    // corpus runs (the same image re-crawled from N mirrors is byte-
    // identical; at 100 TB media bytes dominate storage, so this is the
    // highest-leverage dedup in the pipeline). Hash is computed ON the
    // binary payload — no decode needed — and the corpus plants mirror
    // copies (every 5th payload re-ingested under doc_id + 10^6) so the
    // dup groups are real. Scale shape: the catalog's exact-dedup shape
    // (Dedup.dedup_exact) applied to bytes — md5 computed in the scan,
    // groupBy(hash) with map-side partial agg, shuffles carry (hash,
    // id, count) only, payload bytes never leave their partition; the
    // keeper anti-join back against the media store is the production
    // next step (corpus_curate stage 2's shape).
    "mm_dedup_bytes" -> ((s, dir) => {
      val p = payloads(s, dir)
      val planted = p.unionByName(
        p.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("payload")))
      planted
        .select(md5(col("payload")).as("media_hash"), col("doc_id"))
        .groupBy(col("media_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .withColumn("dup", col("n_copies") >= 2L)
    }),

    // the full media pipeline: bytes → partition-batched feature
    // extraction (stub encoder) → cosine top-3 media search. The shape a
    // multimodal training-data pipeline needs end-to-end.
    "mm_embed_ann" -> ((s, dir) => {
      import s.implicits._
      val emb = payloads(s, dir)
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) => (id, MediaDecoder.embed(bytes)) })
        .toDF("doc_id", "v")
        .withColumn("nrm", VectorKernels.norm(col("v")))
      val q = emb.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      Similarity.topk(emb.join(broadcast(q), col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id").as("neighbor_id"), Similarity.qcos.as("cos")), 3)
    }))

  // --- DuckDB oracles (payload byte k == hex pair 2k+1..2k+2) -------------
  // Byte-exact for ANY unicode corpus: the payload is encode(text) (UTF-8
  // bytes), byte k (0-based) is the k-th hex pair of hex(encode(text)), and
  // byte_len is strlen(text) (DuckDB's byte length). No ASCII assumption
  // anywhere — the Spark side plants multibyte suffixes precisely so a
  // char-for-byte confusion would hash-mismatch.

  /** Payload byte k (0-based), 0 past end — the oracle twin of
    * MediaDecoder.decode's `b(i)`. */
  private def b(k: Int) =
    s"(CASE WHEN strlen(text) >= ${k + 1} THEN ('0x' || substr(hex(encode(text)), ${2 * k + 1}, 2))::BIGINT ELSE 0 END)"

  /** The documents table with the multibyte plant — twin of [[texts]]. */
  private val dkPl =
    s"""pl AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 3 THEN text || '$Utf8Suffix' ELSE text END AS text
       |  FROM documents)""".stripMargin

  private val dkMeta =
    s"""$dkPl,
       |meta AS (
       |  SELECT doc_id,
       |    strlen(text)::BIGINT AS byte_len,
       |    (CASE ${b(0)} % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END) AS fmt,
       |    ((${b(0)} * 256 + ${b(1)}) % 1024 + 16)::BIGINT AS width,
       |    ((${b(1)} * 256 + ${b(2)}) % 1024 + 16)::BIGINT AS height,
       |    (CASE ${b(0)} % 3 WHEN 0 THEN 1 WHEN 1 THEN ${b(3)} % 64 + 1 ELSE ${b(3)} % 240 + 1 END)::BIGINT AS n_frames
       |  FROM pl)""".stripMargin

  val oracles: Map[String, String] = Map(
    "mm_decode_meta" ->
      s"""WITH $dkMeta
         |SELECT doc_id, byte_len, fmt, width, height, n_frames FROM meta""".stripMargin,
    "mm_frame_sample" ->
      s"""WITH $dkMeta
         |SELECT doc_id, frame_idx * 10 AS frame_no, width, height
         |FROM meta, generate_series(0, 3) AS t(frame_idx)
         |WHERE fmt = 'video' AND frame_idx <= least((n_frames - 1) // 10, 3)""".stripMargin,
    "mm_phash_hamming" ->
      s"""WITH $dkPl,
         |pl2 AS (
         |  SELECT doc_id, text FROM pl
         |  UNION ALL
         |  SELECT doc_id + 3000000,
         |    substr(text, 1, (doc_id % 8)::INT) || '~' ||
         |      substr(text, (doc_id % 8 + 2)::INT, length(text))
         |  FROM pl WHERE doc_id % 7 = 0),
         |${Dedup.dkSimhashFrom(
           "SELECT doc_id, unnest([substr(text, i, 4) " +
             "for i in generate_series(1, greatest(1, length(text) - 3))]) AS tok FROM pl2")},
         |${Dedup.dkSimhashPairs}
         |SELECT doc_a, doc_b, hamming FROM ph WHERE hamming <= 3""".stripMargin,

    "mm_dedup_bytes" ->
      s"""WITH $dkPl,
         |pl2 AS (
         |  SELECT doc_id, text FROM pl
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM pl WHERE doc_id % 5 = 0)
         |SELECT md5(text) AS media_hash, count(*)::BIGINT AS n_copies,
         |  min(doc_id)::BIGINT AS keeper, count(*) >= 2 AS dup
         |FROM pl2 GROUP BY 1""".stripMargin,

    "mm_embed_ann" -> {
      val dims = MediaDecoder.EmbedDims
      val cos  = VectorKernels.Dk.cosine("q.v", "c.v", dims)
      s"""WITH $dkPl,
         |emb AS (
         |  SELECT doc_id,
         |    [((CASE WHEN strlen(text) >= 2 * i + 1 THEN ('0x' || substr(hex(encode(text)), 4 * i + 1, 2))::BIGINT ELSE 0 END) - 96)::DOUBLE / 16.0
         |     for i in generate_series(0, ${dims - 1})] AS v
         |  FROM pl),
         |pairs AS (
         |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id, $cos AS cos
         |  FROM emb q JOIN emb c ON q.doc_id < 3 AND c.doc_id <> q.doc_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM pairs)
         |SELECT query_id, neighbor_id, rank, round(cos, 4) AS cos
         |FROM ranked WHERE rank <= 3""".stripMargin
    })
}
