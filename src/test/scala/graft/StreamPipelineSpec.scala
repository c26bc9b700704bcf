package graft

import java.nio.file.{Files, Path}

import graft.streaming.StreamPipeline
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper

/** D6: streaming clean+quality+exact-dedup over a file source. */
class StreamPipelineSpec extends SparkSpec {

  private def jsonLine(id: Long, text: String): String = {
    val esc = text.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"doc_id": $id, "text": "$esc", "lang": "en", "source": "s", "n_chars": ${text.length}}"""
  }

  private val longText =
    "The history of science is the study of how natural knowledge was developed " +
      "and refined over many years by people in many parts of the world and it " +
      "is a field that draws on the work of many scholars over time and it " +
      "was shaped by the tools and ideas that were available at each point."

  test("the streaming clean site cleans each row once: no clean kernel in a Filter") {
    val dir = Files.createTempDirectory("stream-plan")
    Files.writeString(dir.resolve("b1.json"),
      jsonLine(1, longText).replace("{", "{\"ts\": \"2026-01-01T00:00:00Z\", ") + "\n")
    val docs = spark.readStream
      .schema("doc_id BIGINT, ts TIMESTAMP, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .json(dir.toString)
    val q = StreamPipeline.toMemorySink(StreamPipeline.cleanedDeduped(docs), "stream_plan").start()
    val plan = try {
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
    } finally q.stop()
    assert(PipelineSpec.cleaningFilters(plan).isEmpty, s"clean chain copied into a Filter:\n$plan")
  }

  test("streaming micro-batches are cleaned and deduplicated across batches") {
    val dir: Path = Files.createTempDirectory("stream-in")
    val stream = StreamPipeline.cleanedDeduped(
      StreamPipeline.readDocs(spark, dir.toString),
      cfg = graft.pipeline.Quality.Config.reference)
    val q = StreamPipeline.toMemorySink(stream, "stream_out").start()
    try {
      // batch 1: two distinct docs
      Files.writeString(dir.resolve("b1.json"),
        jsonLine(1, longText) + "\n" + jsonLine(2, longText + " Extra tail sentence here.") + "\n")
      q.processAllAvailable()
      // batch 2: an exact dup of doc 1 (case/edge variants) + one new doc
      Files.writeString(dir.resolve("b2.json"),
        jsonLine(3, longText.toUpperCase) + "\n" +
          jsonLine(4, longText.replace("science", "art")) + "\n")
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id, reason FROM stream_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // doc 3 is a dup of doc 1 (hash is case-insensitive) and must not appear
      assert(out.keySet == Set(1L, 2L, 4L))
      assert(out(1L) == "passed")
    } finally q.stop()
  }

  test("streaming decontamination tags overlap with a static benchmark, stays stateless") {
    import spark.implicits._
    val dir: Path = Files.createTempDirectory("stream-decon")
    val leaked = "the quick brown fox jumps over the lazy dog near the river bank today"
    val benchmark = Seq((100L, leaked)).toDF("doc_id", "text")
    val stream = StreamPipeline.decontaminatedStream(
      StreamPipeline.readDocs(spark, dir.toString), benchmark)
    val q = StreamPipeline.toMemorySink(stream, "stream_decon").start()
    try {
      Files.writeString(dir.resolve("b1.json"),
        jsonLine(1, "completely clean training text about something else entirely " +
          "with many original words") + "\n" +
          jsonLine(2, "prefix words then " + leaked + " then suffix words") + "\n")
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id, n_contaminated_grams FROM stream_decon")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(out(1L) == 0)
      assert(out(2L) > 5, s"leaked doc under-flagged: ${out(2L)}")
      // drop mode removes the contaminated doc outright
      val dropped = StreamPipeline.decontaminatedStream(
        StreamPipeline.readDocs(spark, dir.toString), benchmark, dropContaminated = true)
      val q2 = StreamPipeline.toMemorySink(dropped, "stream_decon_drop").start()
      try {
        q2.processAllAvailable()
        val kept = spark.sql("SELECT doc_id FROM stream_decon_drop")
          .collect().map(_.getLong(0)).toSet
        assert(kept == Set(1L))
      } finally q2.stop()
    } finally q.stop()
  }
}
