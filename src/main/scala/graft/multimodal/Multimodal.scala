package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support: image/audio/video as opaque `binary`
  * columns with typed metadata (builder brief — the reference pipeline is
  * text-only; this is the engine capability a 100 TB training-data
  * pipeline needs for mixed corpora).
  *
  * What is REAL here and designed for scale:
  *   - the batch shape: per-PARTITION processing via `mapPartitions`
  *     with one-time "codec/model" init amortized across the partition
  *     (the JVM analogue of Python's `mapInPandas` batching),
  *   - the column-level decode path (a deterministic header parse that
  *     whole-stage codegen treats like any other expression).
  *
  * What is a STUB: the codec itself. This container has no image/audio
  * libraries, so decode parses GRAFT's own deterministic fake header and
  * the "embedding" is a seeded hash projection — swap `decodeStub` /
  * `embedStub` for javax.imageio / a real model runtime in deployment.
  * Every stub is marked `STUB:` below.
  */
object Multimodal {

  val FeatureDim = 16

  /** STUB: fake 12-byte header `GRF!` + width:int32 + height:int32 (LE).
    * A real build replaces this with an actual codec probe. */
  def decodeStub(bytes: Array[Byte]): Option[(Int, Int)] =
    if (bytes == null || bytes.length < 12 ||
      !(bytes(0) == 'G' && bytes(1) == 'R' && bytes(2) == 'F' && bytes(3) == '!')) None
    else {
      val bb = ByteBuffer.wrap(bytes, 4, 8).order(ByteOrder.LITTLE_ENDIAN)
      Some((bb.getInt, bb.getInt))
    }

  /** STUB: deterministic pseudo-embedding — a seeded byte-hash projection
    * standing in for a real vision/audio model. Stable across runs. */
  def embedStub(bytes: Array[Byte]): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    if (bytes == null) return out
    var k = 0
    while (k < FeatureDim) {
      var h = 1125899906842597L + k
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      out(k) = ((h % 2000003L).toFloat / 1000001.5f) - 1.0f
      k += 1
    }
    out
  }

  /** Decoded dimensions as columns. The decode is a deterministic scalar
    * function, so Catalyst prunes/pushes around it like any projection. */
  def withDecodedMeta(media: DataFrame): DataFrame = {
    val dec = udf((b: Array[Byte]) => decodeStub(b))
    media.withColumn("decoded", dec(col("content")))
      .withColumn("dec_width", col("decoded._1"))
      .withColumn("dec_height", col("decoded._2"))
      .drop("decoded")
  }

  /** Feature extraction with per-partition init: the expensive "model
    * load" happens once per partition, rows then stream through it —
    * the batch shape that keeps 1000-executor decode jobs model-bound,
    * not init-bound. `Dataset.mapPartitions` (not `.rdd`) keeps the
    * operator inside the encoder framework, so Tungsten row format,
    * column pruning below, and codegen above all survive. Input:
    * (media_id, content). */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // STUB: stands in for `val model = loadModel()` — once per partition
        val model: Array[Byte] => Array[Float] = embedStub
        it.map { case (id, content) => (id, model(content)) }
      }
      .toDF("media_id", "features")
  }

  /** Frame sampling: every `stride`-th fixed-size chunk of the payload
    * (STUB for real video frame extraction; the array-of-binary output
    * shape and the exploded downstream form are the real contract). */
  def sampleFrames(media: DataFrame, frameSize: Int = 8, stride: Int = 4): DataFrame = {
    val sample = udf { (b: Array[Byte]) =>
      if (b == null) Array.empty[Array[Byte]]
      else (0 until (b.length / frameSize) by stride)
        .map(i => b.slice(i * frameSize, (i + 1) * frameSize)).toArray
    }
    media.withColumn("frames", sample(col("content")))
      .withColumn("n_frames", size(col("frames")))
  }

  /** Longest output side after resize. */
  val ResizeMax = 256

  /** Resize: scale media so the longest side fits [[ResizeMax]] (STUB:
    * integer k-fold decimation — header dimensions divide by k =
    * ceil(max/[[ResizeMax]]) and the body keeps every k-th byte; a real
    * build swaps in an interpolating codec. The real contract is the
    * shape: a narrow binary-in/binary-out projection whose output
    * payload shrinks BEFORE any shuffle/sink — at 100 TB, resizing in
    * the scan stage is the difference between shuffling thumbnails and
    * shuffling originals). */
  def resize(media: DataFrame, maxSide: Int = ResizeMax): DataFrame = {
    val rz = udf { (b: Array[Byte]) =>
      decodeStub(b) match {
        case None => None
        case Some((w, h)) =>
          val k = (math.max(w, h) + maxSide - 1) / maxSide
          val nw = (w + k - 1) / k
          val nh = (h + k - 1) / k
          val body = b.length - 12
          val outBytes = 12 + (body + k - 1) / k
          Some((nw, nh, outBytes))
      }
    }
    media.withColumn("rz", rz(col("content")))
      .withColumn("new_width", col("rz._1"))
      .withColumn("new_height", col("rz._2"))
      .withColumn("out_bytes", col("rz._3"))
      .drop("rz")
  }

  // -----------------------------------------------------------------------
  // Correctness-gate queries
  // -----------------------------------------------------------------------

  /** Deterministic media fixture derived from the `documents` table: each
    * doc becomes one payload — the GRF! stub header carrying
    * (doc_id % 640 + 1, doc_id % 480 + 1) as width/height, followed by
    * the UTF-8 text bytes. Stands in for a binary-file scan; everything
    * downstream (decode, frame sampling, feature batching) is the real
    * engine path over a genuine BinaryType column. */
  def fixtureFromDocs(docs: DataFrame): DataFrame = {
    val mkContent = udf { (id: Long, text: String) =>
      val tb = (if (text == null) "" else text)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = ByteBuffer.allocate(12 + tb.length).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("GRF!".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      bb.putInt((id % 640 + 1).toInt)
      bb.putInt((id % 480 + 1).toInt)
      bb.put(tb)
      bb.array
    }
    docs.select(
      col("doc_id").as("media_id"),
      expr("CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END")
        .as("kind"),
      mkContent(col("doc_id"), col("text")).as("content"))
  }

  /** Oracle-checked decode query: header parse + frame sampling over the
    * binary fixture. DuckDB re-derives width/height/frame-count from the
    * same arithmetic over `documents`, so the whole binary round-trip
    * (encode header → BinaryType column → decode) is hash-verified. */
  def decodeQuery(docs: DataFrame): DataFrame =
    sampleFrames(withDecodedMeta(fixtureFromDocs(docs)))
      .select(col("media_id"), col("kind"), col("dec_width"), col("dec_height"),
        col("n_frames"))

  /** Oracle-checked features query: per-media feature vector summarized
    * to dimension + left-fold checksum. The stub embedding's 64-bit
    * wrapping byte-hash IS SQL-derivable: the fold `h -> 31h + b` is
    * affine, so `h_k = 31^n * seed_k + S (mod 2^64)` where `S` is ONE
    * byte-fold from seed 0 and `n` the byte count — the oracle does the
    * mod-2^64 ring in HUGEINT, converts to the signed two's-complement
    * value, and reproduces the JVM float ops in REAL (verified
    * bit-exact). Byte values come from the same header arithmetic as
    * `mm_media_decode` plus `unicode()` per character of `text` — valid
    * because the driver corpus is pure ASCII (UTF-8 byte == code point;
    * verified octet_length(encode(text)) = length(text) for every row at
    * sf0.01 and sf0.1). */
  def featuresQuery(docs: DataFrame): DataFrame =
    extractFeatures(fixtureFromDocs(docs))
      .select(col("media_id"), size(col("features")).as("feat_dim"),
        expr("aggregate(features, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
          .as("feat_checksum"))

  /** Oracle-checked resize query over the binary fixture. */
  def resizeQuery(docs: DataFrame): DataFrame =
    resize(fixtureFromDocs(docs))
      .select(col("media_id"), col("kind"), col("new_width"), col("new_height"),
        col("out_bytes"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_media_decode" -> ((s, d) => decodeQuery(graft.Tables.documents(s, d))),
    "mm_media_resize" -> ((s, d) => resizeQuery(graft.Tables.documents(s, d))),
    "mm_media_features" -> ((s, d) => featuresQuery(graft.Tables.documents(s, d))))

  def oracles: Map[String, String] = Map(
    "mm_media_decode" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(doc_id % 640 + 1 AS INT) AS dec_width,
        |  CAST(doc_id % 480 + 1 AS INT) AS dec_height,
        |  CAST((((12 + octet_length(CAST(text AS BLOB))) // 8) + 3) // 4 AS INT) AS n_frames
        |FROM documents""".stripMargin,
    "mm_media_resize" ->
      s"""WITH d AS (
         |  SELECT doc_id AS media_id,
         |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    doc_id % 640 + 1 AS w, doc_id % 480 + 1 AS h,
         |    octet_length(CAST(text AS BLOB)) AS body
         |  FROM documents),
         |k AS (SELECT *, (greatest(w, h) + ${ResizeMax - 1}) // $ResizeMax AS k FROM d)
         |SELECT media_id, kind,
         |  CAST((w + k - 1) // k AS INT) AS new_width,
         |  CAST((h + k - 1) // k AS INT) AS new_height,
         |  CAST(12 + (body + k - 1) // k AS INT) AS out_bytes
         |FROM k""".stripMargin,
    "mm_media_features" -> {
      val M = "18446744073709551616" // 2^64
      s"""WITH b AS (
         |  SELECT doc_id AS media_id,
         |    [CAST(71 AS BIGINT), 82, 70, 33,
         |     CASE WHEN (doc_id % 640 + 1) % 256 >= 128 THEN (doc_id % 640 + 1) % 256 - 256 ELSE (doc_id % 640 + 1) % 256 END,
         |     (doc_id % 640 + 1) // 256, 0, 0,
         |     CASE WHEN (doc_id % 480 + 1) % 256 >= 128 THEN (doc_id % 480 + 1) % 256 - 256 ELSE (doc_id % 480 + 1) % 256 END,
         |     (doc_id % 480 + 1) // 256, 0, 0]
         |    || list_transform(range(1, length(text) + 1), i -> CAST(unicode(text[i]) AS BIGINT)) AS bs
         |  FROM documents),
         |f AS (
         |  SELECT media_id,
         |    list_reduce(list_prepend(CAST(0 AS HUGEINT), list_transform(bs, v -> CAST(v AS HUGEINT))),
         |      (s, v) -> (31 * s + v + $M) % $M) AS sfold,
         |    list_reduce(list_prepend(CAST(1 AS HUGEINT), list_transform(bs, v -> CAST(31 AS HUGEINT))),
         |      (s, v) -> (s * v) % $M) AS p
         |  FROM b),
         |feats AS (
         |  SELECT media_id,
         |    list_transform(range(0, $FeatureDim), k ->
         |      CAST(CAST(CASE WHEN (p * (1125899906842597 + k) + sfold) % $M >= 9223372036854775808
         |                     THEN (p * (1125899906842597 + k) + sfold) % $M - $M
         |                     ELSE (p * (1125899906842597 + k) + sfold) % $M END AS BIGINT) % 2000003 AS REAL)
         |        / CAST(1000001.5 AS REAL) - CAST(1.0 AS REAL)) AS fs
         |  FROM f)
         |SELECT media_id, CAST(len(fs) AS INT) AS feat_dim,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(fs, x -> CAST(x AS DOUBLE))), (s, v) -> s + v) AS feat_checksum
         |FROM feats""".stripMargin
    })
}
