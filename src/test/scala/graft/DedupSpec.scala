package graft

import graft.pipeline.Dedup

/** Mirrors reference tests/test_pipeline.py:107-124
  * (TestExactHashDeduplicator): first-seen wins, case-insensitive. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exact duplicate: first-seen (lowest id) wins") {
    val d = docs(3L -> "same text here", 1L -> "same text here", 2L -> "different")
    val kept = Dedup.exactDedup(d).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
  }

  test("case-insensitive and edge-whitespace-insensitive hashing") {
    val d = docs(1L -> "Hello World", 2L -> "  hello world  ", 3L -> "HELLO WORLD")
    val kept = Dedup.exactDedup(d).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("dupmap attributes duplicates to the first-seen original") {
    val d = docs(1L -> "aaa", 2L -> "bbb", 3L -> "AAA", 4L -> "aaa")
    val m = Dedup.exactDuplicateOf(d).as[(Long, Long)].collect().toSet
    assert(m == Set((3L, 1L), (4L, 1L)))
  }

  test("stats: totals, uniques, duplicates") {
    val d = docs(1L -> "a a", 2L -> "b", 3L -> "A A")
    val row = Dedup.exactStatsQuery(d).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((3L, 2L, 1L)))
  }

  test("interior whitespace differences are NOT collapsed (strip is edges-only)") {
    val d = docs(1L -> "a  b", 2L -> "a b")
    assert(Dedup.exactDedup(d).count() == 2L)
  }

  test("line dedup drops cross-doc boilerplate lines, keeps order") {
    // "FOOTER" appears in docs 1 and 2 (distinct docs) -> dropped from
    // both; the doubled "body one" inside doc 1 is WITHIN one doc ->
    // kept (df counts distinct docs, not occurrences).
    val d = docs(
      1L -> "body one\nFOOTER\nbody one\nbody two",
      2L -> "other text\nFOOTER",
      3L -> "standalone")
    val m = Dedup.lineDedupQuery(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(m(1L) === ((4L, 3L, "body one\nbody one\nbody two")))
    assert(m(2L) === ((2L, 1L, "other text")))
    assert(m(3L) === ((1L, 1L, "standalone")))
  }

  test("line dedup: a doc whose every line is boilerplate keeps empty text") {
    val d = docs(1L -> "X", 2L -> "X", 3L -> "y")
    val m = Dedup.lineDedupQuery(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(m(1L) === ((0L, "")))
    assert(m(2L) === ((0L, "")))
    assert(m(3L) === ((1L, "y")))
  }

  test("paragraph dedup drops a copied passage whole, even with internal line breaks") {
    // the shared PASSAGE contains a '\n' — line-level dedup would split
    // it into two lines; paragraph-level treats it as one unit
    val passage = "copied first line\nstill the same passage"
    val d = docs(
      1L -> s"own intro\n\n$passage\n\nown outro",
      2L -> s"different start\n\n$passage",
      3L -> "standalone doc")
    val m = Dedup.paragraphDedupQuery(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(m(1L) === ((3L, 2L, "own intro\n\nown outro")))
    assert(m(2L) === ((2L, 1L, "different start")))
    assert(m(3L) === ((1L, 1L, "standalone doc")))
  }

  test("delta dedup: anti-join keeps exactly the unseen delta docs") {
    // corpus = ids not divisible by 10; delta = {10, 20, 30}. 10 copies
    // corpus doc 3 (case-variant — hashing normalizes), 30 copies doc 7
    // verbatim, 20 is genuinely new.
    val d = docs(
      1L -> "alpha", 3L -> "Shared Body", 7L -> "other corpus doc",
      11L -> "beta", 13L -> "gamma",
      10L -> "shared body", 20L -> "brand new delta doc", 30L -> "other corpus doc")
    import org.apache.spark.sql.functions.col
    val delta = d.filter(col("doc_id") % 10 === 0)
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    val exact = Dedup.deltaExactNewDocs(delta, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(20L))
    // the registered gate query is the same algebra over the mod-split
    val viaQuery = Dedup.deltaExactQuery(d).select("doc_id").as[Long].collect().toSet
    assert(viaQuery == Set(20L))
  }

  test("in-doc line dedup keeps the first occurrence, preserves order, " +
      "and leaves unique lines alone") {
    val d = docs(
      1L -> "a\nb\na\nc\nb\nd",
      2L -> "x\nx\nx",
      3L -> "only one line")
    val m = Dedup.dedupLinesInDocQuery(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(m(1L) === ((6L, 4L, "a\nb\nc\nd")))
    assert(m(2L) === ((3L, 1L, "x")))
    assert(m(3L) === ((1L, 1L, "only one line")))
  }

  test("in-doc paragraph dedup collapses repeated paragraphs but not " +
      "repeated lines inside distinct paragraphs") {
    val p = "same para"
    val d = docs(1L -> s"$p\n\nother\n$p\n\n$p")
    val m = Dedup.dedupParagraphsInDocQuery(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // paragraphs: ["same para", "other\nsame para", "same para"] -> first
    // and second kept (the line repeat inside para 2 is not a paragraph
    // repeat), third dropped.
    assert(m(1L) === ((3L, 2L, s"$p\n\nother\n$p")))
  }

  test("in-doc dedup kernel equals the retired HOF spelling (incl. " +
      "trailing empties and empty-line repeats)") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val lines = Vector("", "alpha", "beta", "gamma", "alpha beta", " ")
    val rows = (1L to 40L).map { id =>
      id -> (0 until rnd.nextInt(12)).map(_ => lines(rnd.nextInt(lines.length)))
        .mkString("\n")
    }
    val d = docs(rows: _*)
    val got = Dedup.dedupLinesInDocQuery(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val want = d.select(col("doc_id"), split(col("text"), "\n").as("ls"))
      .select(col("doc_id"), size(col("ls")).cast("long").as("n_lines"),
        expr("filter(ls, (x, i) -> array_position(slice(ls, 1, i), x) = 0)").as("kept"))
      .select(col("doc_id"), col("n_lines"), size(col("kept")).cast("long"),
        array_join(col("kept"), "\n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got === want)
  }

  test("in-doc dedup kernel is linear: a 100k-line doc completes in kernel " +
      "time, not the HOF spelling's 10^10-compare stall") {
    // 1e5 lines, half duplicated: the O(k²) spelling needs ~5e9 string
    // compares on one task (minutes); the seen-set kernel is one pass.
    val k = 100000
    val text = (0 until k).map(i => s"line-${i % (k / 2)}").mkString("\n")
    val t0 = System.nanoTime()
    val r = Dedup.dedupLinesInDocQuery(docs(1L -> text)).collect().head
    val sec = (System.nanoTime() - t0) / 1e9
    assert(r.getLong(1) == k.toLong && r.getLong(2) == (k / 2).toLong)
    assert(sec < 30.0, s"kernel took $sec s on a ${k}-line doc — not linear")
  }

  /** A 220-char passage planted whole in two docs at offsets 0 and 37 —
    * 37 is not a multiple of the old SpanStride (50), so the retired
    * fixed-stride enumeration provably produced ZERO shared windows for
    * this pair (asserted below); the content-defined anchors recover it. */
  private val passage =
    "kemubc rdlsbqgbcnnchcrnb sdhuusbssmbhbrejnerdsjr vfdssugldrwcsbtgpvrnykosolj" +
    "hzfwyhcsjqpkxojtcdqnfykepnbvcyrsz kkwltpszoc cipwvcbxwjusv ojwmvlaolftdpbgyj" +
    "exhmmpcfomrie nriwnlvmhecfehvhap sfijaenrltskewqtuvxboyvzrmmmmdpumbg"
  private val shiftedA = passage + "cgofdktbdaserdltacgtmeuiltlpddpoppjcedxk"
  private val shiftedB = "xip wfqagqlewrayqjucwiqlflyhrryqkuhtz" + passage +
    "zygzh mxzhgqplxaazipigwtlozxllchdhpgkgptt apulzuc vdmzw"

  /** Independent local spelling of the content-defined windows (plain
    * substring + fold, not the codepoint kernel) for expectations. */
  private def naiveCdc(t: String): Seq[String] =
    (0 to t.length - Dedup.SpanLen).filter { i =>
      val h = t.substring(i + 1, i + Dedup.AnchorGram)
        .foldLeft(t.charAt(i).toLong)((h, c) => (h * 131L + c.toLong) % 2147483647L)
      h % Dedup.AnchorMod == 0L
    }.map(i => t.substring(i, i + Dedup.SpanLen))

  test("substring dedup: a span duplicated at a NON-stride-aligned offset " +
      "is caught (the fixed-stride enumeration provably missed it)") {
    // old stride-50 windows share nothing between the two docs:
    def strideWindows(t: String) =
      (0 to t.length - Dedup.SpanLen by 50).map(i => t.substring(i, i + Dedup.SpanLen)).toSet
    assert((strideWindows(shiftedA) & strideWindows(shiftedB)).isEmpty,
      "fixture invalid: stride windows collide, the miss is not demonstrated")
    // content-defined windows DO share (same in-span anchors at both offsets):
    val shared = naiveCdc(shiftedA).toSet & naiveCdc(shiftedB).toSet
    assert(shared.nonEmpty, "fixture invalid: no shared content-defined window")
    val d = docs(1L -> shiftedA, 2L -> shiftedB, 3L -> ("z" * 99))
    val m = Dedup.substringDupQuery(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m.keySet === Set(1L, 2L))
    assert(m(1L) === ((naiveCdc(shiftedA).size.toLong, shared.size.toLong)))
    assert(m(2L) === ((naiveCdc(shiftedB).size.toLong, shared.size.toLong)))
  }

  test("substring corpus stats count windows and duplication clusters") {
    val d = docs(1L -> shiftedA, 2L -> shiftedB, 3L -> ("z" * 99))
    val all = naiveCdc(shiftedA) ++ naiveCdc(shiftedB) // doc 3 too short
    val byW = all.groupBy(identity).view.mapValues(_.size).toMap
    val r = Dedup.substringStatsQuery(d).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((all.size.toLong, byW.size.toLong,
        byW.count(_._2 > 1).toLong,
        byW.values.filter(_ > 1).sum.toLong)))
  }

  /** Independent naive spelling of the whole span-removal transform:
    * enumerate (doc, pos, w), keep the (doc_id, pos)-minimal occurrence
    * of each window, mark every char covered by a non-first occurrence
    * of a duplicated window, rebuild. */
  private def naiveRemoval(corpus: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    val occ = corpus.flatMap { case (id, t) =>
      (0 to t.length - Dedup.SpanLen).filter { i =>
        val h = t.substring(i + 1, i + Dedup.AnchorGram)
          .foldLeft(t.charAt(i).toLong)((h, c) => (h * 131L + c.toLong) % 2147483647L)
        h % Dedup.AnchorMod == 0L
      }.map(i => (id, i, t.substring(i, i + Dedup.SpanLen)))
    }
    val dupW = occ.groupBy(_._3).filter(_._2.size >= 2)
    val cuts = dupW.values.flatMap(os => os.sortBy(o => (o._1, o._2)).drop(1))
      .toSeq.groupBy(_._1)
    corpus.map { case (id, t) =>
      val starts = cuts.getOrElse(id, Nil).map(_._2)
      val dropped = starts.flatMap(s => s until math.min(s + Dedup.SpanLen, t.length)).toSet
      val kept = t.zipWithIndex.collect { case (c, j) if !dropped(j) => c }.mkString
      id -> ((starts.size.toLong, dropped.size.toLong, kept))
    }.toMap
  }

  test("span REMOVAL: a cross-doc duplicated span is excised from the " +
      "later doc only; overlapping cut windows merge; clean docs intact") {
    val corpus = Seq(1L -> shiftedA, 2L -> shiftedB, 3L -> ("z" * 99))
    val want = naiveRemoval(corpus)
    // fixture sanity: doc 1 keeps everything, doc 2 loses chars
    assert(want(1L)._2 == 0L && want(2L)._2 > 0L && want(3L) == ((0L, 0L, "z" * 99)))
    val got = Dedup.spanRemovalQuery(docs(corpus: _*)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got === want)
  }

  test("span REMOVAL: an in-document repeat also cuts (second occurrence " +
      "goes, first stays) and the result is a pure function of the set") {
    // two copies of the passage INSIDE one doc, separated by filler
    val t = passage + " qq fjkdlsjfkdjs ldkfjdks " + passage
    val corpus = Seq(7L -> t)
    val want = naiveRemoval(corpus)
    assert(want(7L)._1 > 0L, "fixture invalid: no in-doc duplicated window")
    val got = Dedup.spanRemovalQuery(docs(corpus: _*)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got === want)
    // first occurrence survives verbatim: the passage still appears once
    assert(got(7L)._3.contains(passage.substring(0, Dedup.SpanLen)))
  }
}
