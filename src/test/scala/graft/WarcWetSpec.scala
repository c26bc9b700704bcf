package graft

import java.nio.file.Files

import graft.sources.WarcWet

/** WARC/WET ingest semantics on an inline fixture: Content-Length record
  * framing, header parse from the header block only, earliest-blank-line
  * payload cut (CRLF and bare-LF forms), warcinfo/non-conversion drop,
  * min-length screen, the gzip whole-file path (the Common Crawl shipping
  * format) and its partition packing, missing-length recovery and the
  * payload cap. */
class WarcWetSpec extends SparkSpec {

  // Long enough (68 words, natural prose) to clear BOTH the source's
  // 50-char screen and the reference quality cascade's 50-word minimum,
  // so the Pipeline E2E below writes a non-empty corpus.
  private val longText =
    "The project gathered a small team of researchers who spent the " +
      "better part of two years collecting, cleaning, and describing web " +
      "documents for an open corpus. They wrote tools to measure quality, " +
      "removed pages that were mostly boilerplate, and kept careful notes " +
      "about every decision along the way. The result was a dataset that " +
      "other groups could audit, extend, and rebuild from scratch without " +
      "guessing what had happened."

  private def rec(tpe: String, id: Int, uri: String, body: String,
      sep: String = "\r\n"): String =
    s"WARC/1.0$sep" +
      s"WARC-Type: $tpe$sep" +
      s"WARC-Record-ID: <urn:uuid:0000-$id>$sep" +
      s"WARC-Target-URI: $uri$sep" +
      f"WARC-Date: 2024-03-${(id % 28) + 1}%02dT00:00:00Z$sep" +
      s"Content-Length: ${body.getBytes("UTF-8").length}$sep" +
      sep + body + sep + sep

  private val fixture: String =
    rec("warcinfo", 1, "", "software: test-crawler 1.0") +
      rec("conversion", 2, "http://a.example/page", longText) +
      rec("conversion", 3, "http://b.example/stub", "too short") +
      rec("conversion", 4, "http://c.example/lf", longText + " LF form.",
        sep = "\n") +
      rec("response", 5, "http://d.example/raw", longText)

  private def write(content: String, suffix: String,
      gz: Boolean = false): String = {
    val dir = Files.createTempDirectory("graft-wet").toFile
    val f = new java.io.File(dir, s"part-000.$suffix")
    val out: java.io.OutputStream =
      if (gz) new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f))
      else new java.io.FileOutputStream(f)
    out.write(content.getBytes("UTF-8")); out.close()
    f.getAbsolutePath
  }

  private def writeFixture(suffix: String, gz: Boolean = false): String =
    write(fixture, suffix, gz)

  test("records: one row per WARC record, framed by Content-Length") {
    val p = writeFixture("warc.wet")
    assert(WarcWet.records(spark, p).count() === 5)
    // a scan that reads no column still yields one row per record
    assert(spark.read.format(classOf[graft.sources.WarcFileFormat].getName)
      .load(p).count() === 5)
  }

  test("documents: conversion-only, blank-line payload cut (CRLF and LF), " +
      "min-length screen, derived counts") {
    val docs = WarcWet.documents(spark, writeFixture("warc.wet"))
      .orderBy("target_uri")
      .collect()
    // warcinfo dropped, stub under 50 chars dropped, response dropped
    assert(docs.length === 2)
    val a = docs(0)
    assert(a.getAs[String]("target_uri") === "http://a.example/page")
    assert(a.getAs[String]("record_id") === "<urn:uuid:0000-2>")
    assert(a.getAs[String]("text") === longText)
    assert(a.getAs[Int]("word_count") === longText.split("\\s+").length)
    assert(a.getAs[Int]("char_count") === longText.length)
    assert(a.getAs[java.sql.Timestamp]("warc_date") != null)
    assert(a.getAs[Long]("content_length") === longText.getBytes("UTF-8").length)
    // the bare-LF record parses through the earliest-blank-line cut
    val c = docs(1)
    assert(c.getAs[String]("target_uri") === "http://c.example/lf")
    assert(c.getAs[String]("text") === longText + " LF form.")
  }

  test("payload cut takes the EARLIEST blank line of either form: a " +
      "bare-LF-header record whose payload contains a CRLF blank line " +
      "keeps its full payload (round-16 advice)") {
    val body = longText + " first part.\r\n\r\nsecond part after a CRLF blank."
    val one = rec("conversion", 6, "http://e.example/mixed", body, sep = "\n")
    val docs = WarcWet.documents(spark, write(one, "warc.wet")).collect()
    assert(docs.length === 1)
    // the old two-branch cut jumped to the payload's CRLF blank line,
    // silently dropping everything before it
    assert(docs(0).getAs[String]("text") === body)
  }

  test("headers parse from the header block only: a payload quoting " +
      "'WARC-Type: conversion' at a line start cannot spoof the type " +
      "screen (round-16 advice)") {
    val quoting = longText +
      "\nWARC-Type: conversion\nWARC-Target-URI: http://spoof.example/x\n"
    val one = rec("response", 7, "http://d.example/quoting", quoting)
    val docs = WarcWet.documents(spark, write(one, "warc.wet")).collect()
    assert(docs.isEmpty) // a response record, whatever its payload says
  }

  test("asDocs feeds Pipeline.run end-to-end: WET records through " +
      "clean/dedup/quality to the written corpus; record_id carried " +
      "through as the stable identity beside the 64-bit doc_id") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.WarcWet.asDocs(spark, writeFixture("warc.wet"))
    assert(docs.columns.toSeq === Seq("doc_id", "record_id", "source", "text"))
    assert(docs.select("source").collect().map(_.getString(0)).toSet
      === Set("a.example", "c.example"))
    assert(docs.select("record_id").collect().map(_.getString(0)).toSet
      === Set("<urn:uuid:0000-2>", "<urn:uuid:0000-4>"))
    // stable ids: same fixture, same ids, no collisions
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.size === 2)
    assert(graft.sources.WarcWet.asDocs(spark, writeFixture("warc.wet"))
      .select("doc_id").collect().map(_.getLong(0)).toSet === ids)
    val out = Files.createTempDirectory("wet-e2e").toString
    val summary = graft.pipeline.Pipeline.run(docs,
      graft.pipeline.Pipeline.GraftConfig(
        quality = graft.pipeline.Quality.Config.reference), out)
      .collect().head
    assert(summary.getAs[Long]("docs_ingested") === 2L)
    assert(spark.read.parquet(s"$out/documents")
      .filter(col("text").isNotNull).count() >= 1L)
  }

  test("gzip WET: whole-file decompress via the Hadoop codec " +
      "(the Common Crawl shipping format) yields identical documents") {
    val plain = WarcWet.documents(spark, writeFixture("warc.wet"))
      .select("record_id", "text").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val gz = WarcWet.documents(spark, writeFixture("warc.wet.gz", gz = true))
      .select("record_id", "text").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(gz === plain)
    assert(gz.size === 2)
  }

  test("gzip members are never split, and small files share partitions: " +
      "over 8 .gz files no file's records span two partitions, and the scan " +
      "has fewer partitions than files") {
    val dir = Files.createTempDirectory("graft-wet-many").toFile
    for (f <- 0 until 8) {
      val content = (0 until 5).map(i => rec("conversion", 100 * f + i,
        s"http://f$f.example/$i", longText)).mkString
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, f"part-$f%03d.warc.wet.gz")))
      out.write(content.getBytes("UTF-8")); out.close()
    }
    import org.apache.spark.sql.functions._
    val recs = WarcWet.records(spark, dir.getAbsolutePath)
    // per file: distinct scan partitions, records
    val spans = recs
      .select(input_file_name().as("file"), spark_partition_id().as("part"))
      .groupBy("file").agg(countDistinct("part"), count(lit(1)))
      .collect()
    assert(spans.length === 8)
    assert(spans.forall(r => r.getLong(1) == 1L && r.getLong(2) == 5L))
    assert(recs.rdd.getNumPartitions < 8)
  }

  test("a payload containing the literal WARC/1. is extracted " +
      "byte-identically, and the record after it parses intact " +
      "(round-15 verdict #4)") {
    val trap = longText + "\r\nA page ABOUT the format: records begin\r\n" +
      "WARC/1.0\r\nWARC-Type: conversion\r\nand so on.\r\n\r\nAfter the quote."
    val one = rec("conversion", 8, "http://f.example/warc-page", trap) +
      rec("conversion", 9, "http://g.example/next", longText)
    val docs = WarcWet.documents(spark, write(one, "warc.wet"))
      .orderBy("target_uri").collect()
    assert(docs.length === 2)
    assert(docs(0).getAs[String]("target_uri") === "http://f.example/warc-page")
    assert(docs(0).getAs[String]("text") === trap) // byte-identical
    assert(docs(1).getAs[String]("target_uri") === "http://g.example/next")
    assert(docs(1).getAs[String]("text") === longText)
  }

  test("exact framing recovery: a record missing Content-Length degrades " +
      "to separator semantics instead of failing the scan") {
    val noCl =
      "WARC/1.0\r\n" +
        "WARC-Type: conversion\r\n" +
        "WARC-Record-ID: <urn:uuid:0000-10>\r\n" +
        "WARC-Target-URI: http://h.example/nocl\r\n" +
        "WARC-Date: 2024-03-10T00:00:00Z\r\n" +
        "\r\n" + longText + "\r\n\r\n"
    val p = write(noCl + rec("conversion", 11, "http://i.example/ok", longText),
      "warc.wet")
    val docs = WarcWet.documents(spark, p)
      .orderBy("target_uri").collect()
    assert(docs.length === 2)
    assert(docs(0).getAs[String]("text") === longText)
    assert(docs(1).getAs[String]("record_id") === "<urn:uuid:0000-11>")
  }

  test("a tail record declaring more bytes than the file holds yields " +
      "the bytes present") {
    val whole = rec("conversion", 12, "http://j.example/cut", longText + " Tail.")
    val cut = whole.substring(0, whole.indexOf(" Tail."))
    val docs = WarcWet.documents(spark,
      write(rec("conversion", 11, "http://i.example/ok", longText) + cut, "warc.wet"))
      .orderBy("target_uri").collect()
    assert(docs.map(_.getAs[String]("text")).toSeq === Seq(longText, longText))
  }

  test("exact framing payload cap: an over-cap payload truncates the VALUE " +
      "but realigns the STREAM — every following record parses intact " +
      "(round-16 watch item, cap exercised via the conf key)") {
    // one 8 KB single-line payload (no internal blank lines), cap at 1 KB,
    // then two ordinary records that MUST survive the realignment skip
    val big = ("The quick brown fox jumps over the lazy dog again and again " +
      "without a single blank line anywhere in sight ") * 80
    assert(big.getBytes("UTF-8").length > 4096)
    val p = write(
      rec("conversion", 20, "http://big.example/over-cap", big) +
        rec("conversion", 21, "http://after.example/one", longText) +
        rec("conversion", 22, "http://after.example/two", longText + " Two."),
      "warc.wet")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setLong(graft.sources.WarcFileFormat.MaxPayloadKey, 1024L)
    try {
      val docs = WarcWet.documents(spark, p)
        .orderBy("target_uri").collect()
      assert(docs.length === 3)
      val after = docs.filter(_.getAs[String]("target_uri").startsWith("http://after"))
      assert(after.map(_.getAs[String]("text")).toSet ===
        Set(longText, longText + " Two."), "records after the cap must parse intact")
      val capped = docs.find(_.getAs[String]("target_uri") == "http://big.example/over-cap").get
      val got = capped.getAs[String]("text")
      assert(got === big.substring(0, 1024).trim,
        "capped value must be exactly the first cap bytes of the payload " +
          "(modulo the extractor's whitespace trim)")
      // the declared Content-Length still reads from the headers —
      // consumers can SEE the truncation
      assert(capped.getAs[Long]("content_length") === big.getBytes("UTF-8").length.toLong)
    } finally hc.unset(graft.sources.WarcFileFormat.MaxPayloadKey)
  }

  test("a nonpositive configured payload cap falls back to the default: " +
      "-1 ('unlimited' convention) neither crashes the scan nor truncates " +
      "(round-17 review)") {
    val body = ("No crash and no truncation under a negative cap value. " +
      "Payload text long enough to prove it is not emptied. ") * 20
    val p = write(
      rec("conversion", 30, "http://negcap.example/a", body) +
        rec("conversion", 31, "http://negcap.example/b", longText),
      "warc.wet")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setLong(graft.sources.WarcFileFormat.MaxPayloadKey, -1L)
    try {
      val docs = WarcWet.documents(spark, p)
        .orderBy("target_uri").collect()
      assert(docs.length === 2)
      assert(docs(0).getAs[String]("text") === body.trim)
      assert(docs(1).getAs[String]("text") === longText)
    } finally hc.unset(graft.sources.WarcFileFormat.MaxPayloadKey)
  }
}
