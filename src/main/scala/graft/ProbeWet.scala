package graft

import java.util.zip.GZIPOutputStream

/** Scale probe for the WARC/WET source (round-16; r15 verdict #2: WET
  * was the only operator family with fixture-only evidence). Generates a
  * synthetic multi-file `.warc.wet.gz` corpus shaped like a Common Crawl
  * segment slice — many smallish gzip members, one `warcinfo` +
  * conversions (+ screened stubs and non-conversion records) per file —
  * then measures what the 100 TB deployment story claims:
  *
  *  1. one task per .gz file (gzip is non-splittable; the file listing
  *     IS the parallelism unit) — asserted for both framings;
  *  2. scan throughput docs/s, separator fast path vs Content-Length
  *     exact framing (the r15 #4 upgrade), same doc counts;
  *  3. linearity in file count (quarter corpus vs full corpus);
  *  4. (round 17, verdict #5 — `bigMemberMB` > 0) ONE production-shaped
  *     gzip member of ~that compressed size (Common Crawl members are
  *     ~150 MB): one task per member on both framings, docs/s and
  *     member-MB/s at real size;
  *  5. (with the same flag) a member whose first payload DECLARES more
  *     than the 256 MB cap: the scan must warn, truncate the value,
  *     realign, and read every following record intact at full size —
  *     the at-scale twin of WarcWetSpec's conf-keyed cap test.
  *
  * Deterministic: per-(file, doc) seeded PRNGs — same args, same corpus,
  * same counts. Usage:
  *   ProbeWet [rootDir] [nFiles] [docsPerFile] [bigMemberMB]
  *   (defaults /tmp/wetprobe 120 400 0)
  */
object ProbeWet {

  private val Words: Array[String] =
    ("the a of and to in that it was for on are as with his they at be this " +
      "have from or one had by word but not what all were we when your can " +
      "said there use an each which she do how their if will up other about " +
      "out many then them these so some her would make like him into time " +
      "has look two more write go see number no way could people my than " +
      "first water been call who oil its now find long down day did get " +
      "come made may part over new sound take only little work know place " +
      "year live me back give most very after thing our just name good " +
      "sentence man think say great where help through much before line " +
      "right too mean old any same tell boy follow came want show also " +
      "around form three small set put end does another well large must " +
      "big even such because turn here why ask went men read need land " +
      "different home us move try kind hand picture again change off play " +
      "spell air away animal house point page letter mother answer found " +
      "study still learn should america world").split("\\s+")

  private def docText(rnd: scala.util.Random, nWords: Int): String = {
    val sb = new java.lang.StringBuilder(nWords * 6)
    var i = 0
    while (i < nWords) {
      val w = Words(rnd.nextInt(Words.length))
      if (i == 0) sb.append(w.capitalize)
      else {
        sb.append(' ').append(w)
        if (rnd.nextDouble() < 0.08) sb.append('.')
      }
      i += 1
    }
    sb.append('.').toString
  }

  private def rec(tpe: String, id: String, uri: String, body: String): String = {
    val sep = "\r\n"
    s"WARC/1.0$sep" +
      s"WARC-Type: $tpe$sep" +
      s"WARC-Record-ID: <urn:uuid:$id>$sep" +
      (if (uri.nonEmpty) s"WARC-Target-URI: $uri$sep" else "") +
      s"WARC-Date: 2024-05-01T00:00:00Z$sep" +
      s"Content-Length: ${body.getBytes("UTF-8").length}$sep" +
      sep + body + sep + sep
  }

  private def writeFile(dir: java.io.File, fileIdx: Int, docs: Int): Long = {
    val f = new java.io.File(dir, f"wet-$fileIdx%05d.warc.wet.gz")
    val out = new GZIPOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(f), 1 << 16))
    var written = 0L
    def put(s: String): Unit = { out.write(s.getBytes("UTF-8")); written += s.length }
    put(rec("warcinfo", f"info-$fileIdx%05d", "", "software: probe-crawler 1.0"))
    var d = 0
    while (d < docs) {
      val rnd = new scala.util.Random(fileIdx * 1000003L + d)
      val uri = s"http://host${rnd.nextInt(5000)}.example/p/$fileIdx/$d"
      // ~6% screened stubs + ~4% non-conversion records, the rest real
      val roll = rnd.nextDouble()
      if (roll < 0.06) put(rec("conversion", f"d-$fileIdx%05d-$d%05d", uri, "tiny"))
      else if (roll < 0.10)
        put(rec("response", f"d-$fileIdx%05d-$d%05d", uri, docText(rnd, 40)))
      else put(rec("conversion", f"d-$fileIdx%05d-$d%05d", uri,
        docText(rnd, 80 + rnd.nextInt(200))))
      d += 1
    }
    out.close()
    written
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val root = new java.io.File(args.headOption.getOrElse("/tmp/wetprobe"))
    val nFiles = args.lift(1).map(_.toInt).getOrElse(120)
    val docsPerFile = args.lift(2).map(_.toInt).getOrElse(400)
    val spark = GraftSession.start("graft-probe-wet")

    // --- generate: full corpus + a quarter-corpus sibling (linearity leg)
    val full = new java.io.File(root, "full"); full.mkdirs()
    val quarter = new java.io.File(root, "quarter"); quarter.mkdirs()
    val (_, genSec) = timed {
      (0 until nFiles).foreach(i => writeFile(full, i, docsPerFile))
      (0 until nFiles / 4).foreach(i => writeFile(quarter, i, docsPerFile))
    }
    val gzBytes = Option(full.listFiles()).getOrElse(Array.empty)
      .map(_.length()).sum
    println(f"[wetprobe] generated $nFiles files x $docsPerFile recs " +
      f"(${gzBytes / 1048576.0}%.1f MB gz) + quarter corpus in $genSec%.1f s")

    def scan(dir: java.io.File, exact: Boolean): (Long, Double, Int) = {
      val df = graft.sources.WarcWet.documents(spark, dir.getAbsolutePath,
        exactFraming = exact)
      val parts = df.rdd.getNumPartitions
      val expected = Option(dir.listFiles()).getOrElse(Array.empty).length
      // Task-granularity invariants. gzip members are never SPLIT —
      // a file is consumed whole by one task under both framings. The
      // EXACT framing plans exactly one split per file (FileInputFormat
      // with isSplitable=false). The fast path BIN-PACKS several whole
      // small files per task (FileSourceScan's maxPartitionBytes
      // packing — the desirable behavior for small members); real
      // ~150 MB Common Crawl members exceed the 128 MB packing bound,
      // so production gets one task per file there too.
      if (exact) require(parts == expected,
        s"exact framing must plan one split per file: $parts for $expected")
      else require(parts <= expected && parts >= 1,
        s"fast path split a gz member?! $parts tasks for $expected files")
      // one measured execution (round-16 review: a count() inside the
      // window doubled the work and halved reported docs/s); the doc
      // count for the report comes from an untimed pass afterwards
      val (_, sec) = timed {
        df.write.format("noop").mode("overwrite").save()
      }
      (df.count(), sec, parts)
    }
    // warm the scan paths once (codec + codegen classes)
    scan(quarter, exact = false); scan(quarter, exact = true)

    val (nFast, fastSec, pFast) = scan(full, exact = false)
    val (nExact, exactSec, pExact) = scan(full, exact = true)
    val (nQ, qSec, _) = scan(quarter, exact = false)
    require(nFast == nExact,
      s"framings disagree on a clean corpus: fast=$nFast exact=$nExact")
    println(s"[wetprobe] tasks: fast=$pFast (bin-packed whole files), " +
      s"exact=$pExact (one split per file) over $nFiles files")

    println("| leg | files | docs | sec | docs/s |")
    println("|---|---|---|---|---|")
    println(f"| WET scan, separator fast path | $nFiles | $nFast | $fastSec%.1f | ${nFast / fastSec}%.0f |")
    println(f"| WET scan, exact Content-Length framing | $nFiles | $nExact | $exactSec%.1f | ${nExact / exactSec}%.0f |")
    println(f"| WET scan, quarter corpus (linearity) | ${nFiles / 4} | $nQ | $qSec%.1f | ${nQ / qSec}%.0f |")
    println(f"[wetprobe] exact/fast = ${exactSec / fastSec}%.2fx, " +
      f"full/quarter = ${fastSec / qSec}%.2fx (linear = ~4x work on ~4x files)")

    // --- production-shaped member legs (opt-in: arg 4 = target gz MB)
    val bigMB = args.lift(3).map(_.toInt).getOrElse(0)
    if (bigMB > 0) {
      val bigDir = new java.io.File(root, "bigmember"); bigDir.mkdirs()
      val bigF = new java.io.File(bigDir, "wet-big.warc.wet.gz")
      var bigDocs = 0L
      val (_, bigGenSec) = timed {
        val out = new GZIPOutputStream(new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(bigF), 1 << 16))
        val target = bigMB.toLong * 1024 * 1024
        out.write(rec("warcinfo", "info-big", "", "software: probe-crawler 1.0")
          .getBytes("UTF-8"))
        var d = 0
        while (bigF.length() < target) {
          val rnd = new scala.util.Random(7000003L + d)
          out.write(rec("conversion", f"big-$d%07d",
            s"http://host${rnd.nextInt(5000)}.example/big/$d",
            docText(rnd, 80 + rnd.nextInt(200))).getBytes("UTF-8"))
          d += 1
          if (d % 2000 == 0) out.flush()
        }
        out.close()
        bigDocs = d.toLong
      }
      println(f"[wetprobe] big member: ${bigF.length() / 1048576.0}%.0f MB gz, " +
        f"$bigDocs records, generated in $bigGenSec%.0f s")
      Seq(false, true).foreach { exact =>
        val (n, sec, parts) = scan(bigDir, exact)
        require(parts == 1, s"a single gz member must be ONE task, got $parts")
        println(f"| big-member scan, ${if (exact) "exact" else "fast"} framing " +
          f"| 1 | $n | $sec%.1f | ${n / sec}%.0f | " +
          f"${bigF.length() / 1048576.0 / sec}%.1f gz-MB/s |")
      }
      // over-cap payload: first record DECLARES (and carries) more than
      // the 256 MB value cap; the scan must truncate+realign and read
      // the 100 trailing records intact at full size.
      val capDir = new java.io.File(root, "overcap"); capDir.mkdirs()
      val capF = new java.io.File(capDir, "wet-overcap.warc.wet.gz")
      val (_, capGenSec) = timed {
        val out = new GZIPOutputStream(new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(capF), 1 << 16))
        val line = ("the same low entropy sentence repeated forever to keep " +
          "the generated gzip small while the declared payload is huge ")
        val lineB = line.getBytes("UTF-8")
        val repeats = (280L * 1024 * 1024) / lineB.length + 1
        val payloadLen = repeats * lineB.length
        val hdr = "WARC/1.0\r\nWARC-Type: conversion\r\n" +
          "WARC-Record-ID: <urn:uuid:overcap-0>\r\n" +
          "WARC-Target-URI: http://cap.example/huge\r\n" +
          "WARC-Date: 2024-05-01T00:00:00Z\r\n" +
          s"Content-Length: $payloadLen\r\n\r\n"
        out.write(hdr.getBytes("UTF-8"))
        var i = 0L
        while (i < repeats) { out.write(lineB); i += 1 }
        out.write("\r\n\r\n".getBytes("UTF-8"))
        (0 until 100).foreach { d =>
          val rnd = new scala.util.Random(9000017L + d)
          out.write(rec("conversion", f"aftercap-$d%05d",
            s"http://aftercap.example/p/$d", docText(rnd, 120)).getBytes("UTF-8"))
        }
        out.close()
      }
      val (nCap, capSec, _) = scan(capDir, exact = true)
      require(nCap == 101L,
        s"over-cap realignment lost records: $nCap docs (want 1 capped + 100 after)")
      println(f"| over-cap member (280 MB declared payload + 100 records), exact " +
        f"| 1 | $nCap | $capSec%.1f | realigned, all trailing records intact |")
      println(f"[wetprobe] over-cap member: ${capF.length() / 1048576.0}%.1f MB gz " +
        f"generated in $capGenSec%.0f s")
    }
    spark.stop()
  }
}
