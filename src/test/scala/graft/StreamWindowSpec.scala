package graft

import java.nio.file.Files

import graft.streaming.StreamPipeline

/** Watermarked windowed aggregation + flatMapGroupsWithState dedup. */
class StreamWindowSpec extends SparkSpec {

  test("watermarked hourly windows finalize once the watermark passes") {
    val dir = Files.createTempDirectory("swin")
    val events = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, event_type STRING")
      .json(dir.toString)
    val q = StreamPipeline.toMemorySink(
      StreamPipeline.windowedEventCounts(events), "win_out").start()
    try {
      Files.writeString(dir.resolve("b1.json"),
        """{"event_id":1,"ts":"2024-01-01T10:05:00Z","event_type":"click"}
          |{"event_id":2,"ts":"2024-01-01T10:20:00Z","event_type":"click"}
          |{"event_id":3,"ts":"2024-01-01T10:40:00Z","event_type":"view"}
          |""".stripMargin)
      q.processAllAvailable()
      // advance event time far enough to close the 10:00 window (+2h watermark)
      Files.writeString(dir.resolve("b2.json"),
        """{"event_id":9,"ts":"2024-01-01T14:00:00Z","event_type":"click"}
          |""".stripMargin)
      q.processAllAvailable()
      val rows = spark.sql(
          "SELECT event_type, n_events FROM win_out WHERE window_start = TIMESTAMP '2024-01-01 10:00:00'")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("session_window sessionization merges within gap and splits across it") {
    val dir = Files.createTempDirectory("ssess")
    val events = spark.readStream
      .schema("event_id BIGINT, user_id BIGINT, ts TIMESTAMP")
      .json(dir.toString)
    val q = StreamPipeline.toMemorySink(
      StreamPipeline.sessionizedEvents(events), "sess_out").start()
    try {
      // user 1: two events 10 min apart (one session), then one 80 min
      // later (second session); user 2: one event.
      Files.writeString(dir.resolve("b1.json"),
        """{"event_id":1,"user_id":1,"ts":"2024-01-01T10:00:00Z"}
          |{"event_id":2,"user_id":1,"ts":"2024-01-01T10:10:00Z"}
          |{"event_id":3,"user_id":2,"ts":"2024-01-01T10:05:00Z"}
          |{"event_id":4,"user_id":1,"ts":"2024-01-01T11:30:00Z"}
          |""".stripMargin)
      q.processAllAvailable()
      // advance the watermark (1h) past every session end (+30m gap)
      Files.writeString(dir.resolve("b2.json"),
        """{"event_id":9,"user_id":3,"ts":"2024-01-01T14:00:00Z"}
          |""".stripMargin)
      q.processAllAvailable()
      val rows = spark.sql(
          "SELECT user_id, session_start, session_end, n_events FROM sess_out")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toInstant.toString,
          r.getTimestamp(2).toInstant.toString, r.getLong(3))).toSet
      assert(rows == Set(
        (1L, "2024-01-01T10:00:00Z", "2024-01-01T10:40:00Z", 2L),
        (1L, "2024-01-01T11:30:00Z", "2024-01-01T12:00:00Z", 1L),
        (2L, "2024-01-01T10:05:00Z", "2024-01-01T10:35:00Z", 1L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState dedup attributes duplicates across batches") {
    val dir = Files.createTempDirectory("sdup")
    val docs = spark.readStream
      .schema(StreamPipeline.docSchema)
      .json(dir.toString)
    val q = StreamPipeline.dedupWithAttribution(docs)
      .writeStream.format("memory").queryName("dup_out").outputMode("append").start()
    try {
      Files.writeString(dir.resolve("b1.json"),
        """{"doc_id":1,"text":"Alpha body","lang":"en","source":"s","n_chars":10}
          |{"doc_id":2,"text":"Beta body","lang":"en","source":"s","n_chars":9}
          |""".stripMargin)
      q.processAllAvailable()
      Files.writeString(dir.resolve("b2.json"),
        """{"doc_id":3,"text":"  ALPHA BODY  ","lang":"en","source":"s","n_chars":14}
          |""".stripMargin)
      q.processAllAvailable()
      val rows = spark.sql("SELECT docId, isDuplicate, originalId FROM dup_out")
        .collect().map(r => (r.getLong(0), r.getBoolean(1), Option(r.get(2)))).toSet
      assert(rows == Set(
        (1L, false, None), (2L, false, None), (3L, true, Some(1L))))
    } finally q.stop()
  }
}
