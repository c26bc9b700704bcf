package graft

import java.nio.{ByteBuffer, ByteOrder}

import graft.multimodal.Multimodal
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  /** The media row contract the fixtures below are built in: binary
    * payload + typed metadata struct. */
  private val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("format", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("duration_ms", IntegerType, nullable = true))), nullable = true)))

  private def fakeImage(w: Int, h: Int, payload: Int = 64): Array[Byte] = {
    val bb = ByteBuffer.allocate(12 + payload).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("GRF!".getBytes("ASCII")).putInt(w).putInt(h)
    (0 until payload).foreach(i => bb.put((i % 251).toByte))
    bb.array()
  }

  private def mediaDf = {
    val rows = Seq(
      Row(1L, "image", fakeImage(640, 480), Row("grf", 640, 480, null, null)),
      Row(2L, "image", fakeImage(64, 64), Row("grf", 64, 64, null, null)),
      Row(3L, "audio", Array.fill[Byte](100)(7), Row("pcm", null, null, 16000, 250)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), mediaSchema)
  }

  test("schema contract: binary payload + typed metadata struct") {
    assert(mediaDf.count() == 3)
    // the registered mm_* queries' fixture carries the contract's payload columns
    val fixture = Multimodal.fixtureFromDocs(Seq((3L, "abc")).toDF("doc_id", "text"))
    assert(fixture.schema.map(f => f.name -> f.dataType) ==
      mediaSchema.take(3).map(f => f.name -> f.dataType))
  }

  test("decode stub extracts dimensions from the header; non-image yields nulls") {
    val out = Multimodal.withDecodedMeta(mediaDf)
      .select("media_id", "dec_width", "dec_height")
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(1L) == (Some(640), Some(480)))
    assert(out(2L) == (Some(64), Some(64)))
    assert(out(3L) == (None, None))
  }

  test("feature extraction: fixed dim, deterministic, distinct payloads differ") {
    val f1 = Multimodal.extractFeatures(mediaDf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val f2 = Multimodal.extractFeatures(mediaDf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f1.values.forall(_.length == Multimodal.FeatureDim))
    assert(f1 == f2) // deterministic across runs
    assert(f1(1L) != f1(3L))
  }

  test("frame sampling: stride chunks with count column") {
    val out = Multimodal.sampleFrames(mediaDf, frameSize = 8, stride = 4)
      .select("media_id", "n_frames").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // doc1: 76 bytes -> 9 full frames -> indices 0,4,8 -> 3 sampled
    assert(out(1L) == 3)
    assert(out(3L) == (100 / 8 + 3) / 4) // 12 frames -> 0,4,8 -> 3
  }

  test("resize: k-fold decimation fits the longest side; small media untouched; non-media null") {
    val m = Multimodal.resize(mediaDf).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(4)), Option(r.get(5)), Option(r.get(6))))).toMap
    // 640x480: k = ceil(640/256) = 3 -> 214x160; body 64 -> 12 + ceil(64/3) = 34
    assert(m(1L) === ((Some(214), Some(160), Some(34))))
    // 64x64: k = 1 -> unchanged, body kept whole
    assert(m(2L) === ((Some(64), Some(64), Some(12 + 64))))
    // audio payload without the GRF! header: decode fails -> nulls
    assert(m(3L) === ((None, None, None)))
  }
}
