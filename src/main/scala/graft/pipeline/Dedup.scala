package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication stage (reference: src/processing/deduplicator.py).
  *
  * The reference is an in-memory, order-dependent incremental index
  * (first-seen doc wins, deduplicator.py:150-180). A distributed rebuild
  * must impose a deterministic order instead; we use ascending `doc_id` as
  * "seen first" everywhere, which makes every operator here a pure function
  * of its input set — rerunnable and partition-count-independent, the
  * property that actually matters at 100 TB.
  */
object Dedup {

  /** Python `text.strip().lower()` then md5 (deduplicator.py:299-304).
    * strip() trims all whitespace, so regexp-trim rather than `trim`.
    * Documented deviation (ADVICE r1): `\s` here is ASCII-only, while
    * Python's strip() also trims U+00A0/U+2028-class whitespace — kept
    * ASCII deliberately so the Spark and DuckDB oracle sides agree; docs
    * with exotic edge whitespace may hash differently than the reference. */
  def contentHash(text: Column): Column =
    md5(lower(regexp_replace(text, Clean.EdgeWsRe, "")))

  /** D9 exact dedup, first-seen (= lowest doc_id) wins
    * (deduplicator.py:281-330). One shuffle on the 128-bit content hash;
    * hash keys are uniform so there is no skew to salt at any scale, and
    * the window per key holds only the duplicate cluster (tiny). For
    * pure dedup-without-attribution, `dropDuplicates("content_hash")`
    * would shuffle the same but skip the sort. */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol))
    docs.withColumn("content_hash", contentHash(col(textCol)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Duplicate→original attribution map (deduplicator.py:176: duplicate_of). */
  def exactDuplicateOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    docs.withColumn("content_hash", contentHash(col("text")))
      .withColumn("original_id", first(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("original_id"))
      .select(col("doc_id").as("duplicate_id"), col("original_id"))
  }

  /** D7 stats: totals, uniques, clusters (deduplicator.py:210-215, 262-269). */
  def exactStatsQuery(docs: DataFrame): DataFrame = {
    val h = docs.select(contentHash(col("text")).as("h"))
    h.agg(
      count(lit(1)).as("total_documents"),
      countDistinct(col("h")).as("unique_documents"),
      (count(lit(1)) - countDistinct(col("h"))).as("duplicate_documents"))
  }

  /** Incremental-ingest dedup against an EXISTING corpus — the
    * nightly-delta shape, oracle-checkable (verdict r10 #6): delta docs
    * whose content hash is absent from the corpus snapshot survive, via
    * a LEFT ANTI join on the 128-bit hash. One uniform-key exchange per
    * side; at 100 TB the history side ships only its hash column. */
  def deltaExactNewDocs(delta: DataFrame, corpus: DataFrame): DataFrame =
    delta.withColumn("content_hash", contentHash(col("text")))
      .join(corpus.select(contentHash(col("text")).as("content_hash")),
        Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("content_hash"))

  /** Gate registration of the delta shape over the one documents table:
    * doc_id mod 10 == 0 plays the nightly delta, the rest the corpus
    * snapshot — a deterministic, SQL-expressible split. */
  val DeltaMod = 10

  def deltaExactQuery(docs: DataFrame): DataFrame =
    deltaExactNewDocs(
      docs.filter(col("doc_id") % DeltaMod === 0),
      docs.filter(col("doc_id") % DeltaMod =!= 0))

  /** A line is boilerplate once it appears in this many distinct docs. */
  val LineDropDf = 2

  /** Broadcast bound, in bytes, for the boilerplate-line DROP SET: its
    * UTF-8 text plus [[DropKeyOverheadBytes]] per key, an estimate of
    * the driver `HashSet` it becomes. A row bound cannot bound it: the
    * paragraph variant's keys are whole paragraphs. Beyond it the drop
    * join falls back to the shuffled semi join (AQE skew-splits it). */
  val LineDropBytesMax: Long = 64L << 20

  /** JVM cost of one drop-set key beside its text: String and array
    * headers plus the hash-set node and its table slot. */
  val DropKeyOverheadBytes: Long = 64L

  /** Cross-document LINE-level dedup (Dolma / RefinedWeb boilerplate
    * removal): a line appearing in >= [[LineDropDf]] DISTINCT documents
    * is dropped from every document; each doc is rebuilt from its
    * surviving lines in original order. Complements doc-level dedup —
    * it removes repeated headers/footers/navigation from documents that
    * are NOT duplicates of each other.
    *
    * Scale shape: posexplode (narrow) → one count-distinct shuffle on
    * the line text (md5-uniform at scale if lines are hashed; kept raw
    * here so the oracle can join on equality) → one shuffle back on
    * doc_id for the ordered rebuild. Line-frequency skew (the empty
    * line, "References") concentrates COUNTING, not payload: the
    * count-distinct partial-aggregates per partition before the
    * exchange, so hot lines cross the wire once per partition. Empty
    * lines participate like any other (an empty line shared by >= 2
    * docs drops); order is restored by sorting (pos, line) structs, so
    * the rebuild is collect-order-independent — deterministic under any
    * partitioning.
    *
    * Eager: building the plan runs Spark actions. The drop set is
    * persisted and sized in bytes against `dropBroadcastMax` (one job
    * for its key count and text bytes); when it fits,
    * it is also collected to the driver and broadcast, all before this
    * method returns. Past the bound the returned plan stays lazy (the
    * shuffled semi join). */
  def lineDedupQuery(docs: DataFrame, sep: String = "\n",
      dropBroadcastMax: Long = LineDropBytesMax): DataFrame = {
    // Round-18 reshape (guide §2.3 / §8 "decide with small rows"): the
    // old spelling shipped the exploded LINE TEXT through three
    // corpus-width exchanges — the df-count aggregation, the
    // lines ⋈ lineDf join, and a collect_list(struct(pos, line))
    // groupBy(doc_id) that rebuilt every document from shuffled text
    // structs. But the DECISION per (doc, pos) is just membership of
    // the line in the drop set (df ≥ LineDropDf — boilerplate, a small
    // set by nature), and the REBUILD only needs the original text plus
    // the dropped positions: so ship text through ONE exchange (the
    // df-count partials, skew-spread by its (line, doc_id) distinct
    // stage), semi-join the exploded lines against the broadcast drop
    // set map-side (byte-probed against [[LineDropBytesMax]]; an
    // adversarial corpus falls back to the shuffled semi join, which
    // AQE skew-splits), shuffle only the dropped (doc_id, pos) pairs,
    // and rebuild each doc from its own `text` in one linear kernel
    // pass. Result-identical: n_lines = split length, the drop set and
    // positions are exactly the old `line_df >= LineDropDf` rows, and
    // the kernel keeps survivors in pos order with the same separator.
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val dropSet = graft.CacheScope.persist( // feeds the bound probe AND the join
      lines.groupBy(col("line"))
        .agg(countDistinct(col("doc_id")).as("line_df"))
        .filter(col("line_df") >= LineDropDf)
        .select(col("line")))
    val size = dropSet
      .agg(count(lit(1)), coalesce(sum(octet_length(col("line"))), lit(0L)))
      .head()
    if (size.getLong(1) + size.getLong(0) * DropKeyOverheadBytes <= dropBroadcastMax) {
      // The whole decision fits the driver (byte-probed): ship it as a
      // broadcast SET into the rebuild kernel — the main query is then a
      // bare docs scan + one narrow kernel pass, no second explode, no
      // join, no exchange at all (a scan-local probe, exact because the
      // set is exact). The alternative
      // semi-join spelling below re-evaluates the exploded lines as the
      // probe side — a second full pass over the corpus text.
      val sc = docs.sparkSession.sparkContext
      val bc = sc.broadcast {
        val set = new java.util.HashSet[String]()
        dropSet.collect().foreach(r => set.add(r.getString(0)))
        set
      }
      val kern = udf { (text: String) =>
        dropLinesBySetKernel(text, sep, bc.value)
      }
      docs.filter(col("text").isNotNull) // parity: the explode emitted no rows for null text
        .select(col("doc_id"), kern(col("text")).as("r"))
        .select(col("doc_id"), col("r._1").as("n_lines"),
          col("r._2").as("n_kept"), col("r._3").as("text_kept"))
    } else {
      // Fallback past the broadcast bound: shuffled left-semi join of the
      // exploded lines against the drop set (AQE skew-splits hot lines),
      // dropped (doc_id, pos) pairs only cross the doc_id exchange, and
      // the doc rebuilds from its own text.
      val cuts = lines.join(dropSet, Seq("line"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("pos"))).as("cut_pos"))
      docs.filter(col("text").isNotNull)
        .join(cuts, Seq("doc_id"), "left")
        .select(col("doc_id"),
          dropLinesUdf(col("text"), lit(sep),
            coalesce(col("cut_pos"), array().cast("array<int>"))).as("r"))
        .select(col("doc_id"), col("r._1").as("n_lines"),
          col("r._2").as("n_kept"), col("r._3").as("text_kept"))
    }
  }

  /** Membership twin of [[dropLinesKernel]]: drop every line present in
    * `dropSet` (exact string equality, the same equality the df-count
    * grouped on). */
  def dropLinesBySetKernel(text: String, sep: String,
      dropSet: java.util.Set[String]): (Long, Long, String) = {
    val ls = text.split(java.util.regex.Pattern.quote(sep), -1)
    val kept = new java.lang.StringBuilder
    var nKept = 0L
    var i = 0
    while (i < ls.length) {
      if (!dropSet.contains(ls(i))) {
        if (nKept > 0) kept.append(sep)
        kept.append(ls(i))
        nKept += 1
      }
      i += 1
    }
    (ls.length.toLong, nKept, kept.toString)
  }

  /** Rebuild a doc without the lines at `cutPos` (0-based split indices,
    * sorted): one linear pass over the same `split(text, quote(sep), -1)`
    * array the explode produced. */
  def dropLinesKernel(text: String, sep: String,
      cutPos: Array[Int]): (Long, Long, String) = {
    val ls = text.split(java.util.regex.Pattern.quote(sep), -1)
    val kept = new java.lang.StringBuilder
    var nKept = 0L
    var k = 0
    var i = 0
    while (i < ls.length) {
      if (k < cutPos.length && cutPos(k) == i) k += 1
      else {
        if (nKept > 0) kept.append(sep)
        kept.append(ls(i))
        nKept += 1
      }
      i += 1
    }
    (ls.length.toLong, nKept, kept.toString)
  }

  private val dropLinesUdf = udf { (text: String, sep: String, cutPos: Seq[Int]) =>
    dropLinesKernel(text, sep, cutPos.toArray)
  }

  /** PARAGRAPH-level variant (Dolma ships both granularities: lines
    * catch navigation/boilerplate, paragraphs catch copied passages
    * that internal line breaks would split). Same one-explode shape. */
  def paragraphDedupQuery(docs: DataFrame): DataFrame =
    lineDedupQuery(docs, "\n\n")

  /** IN-DOCUMENT repetition REMOVAL: drop repeated lines WITHIN each
    * doc, keeping the first occurrence — the standard companion to the
    * cross-doc [[lineDedupQuery]] (C4's repeated-content rules /
    * Gopher's within-doc repetition signals flag it; this op actually
    * trims it). Where `quality_repetition` only SCORES a doc's
    * self-repetition, this rebuilds the doc without it.
    *
    * Scale shape: one native codegen'd kernel pass per row
    * ([[dedupLinesKernel]] via `graft.functions.DedupLines`) — the
    * operator is embarrassingly parallel: NO shuffle, no explode, the
    * kernel stays in the scan stage. The one semantic to hold fixed
    * cross-engine: first occurrence wins, later copies vanish, order
    * otherwise preserved. */
  def dedupLinesInDocQuery(docs: DataFrame, sep: String = "\n"): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.DedupLines(col("text"), sep).as("r"))
      .select(col("doc_id"), col("r.n_lines").as("n_lines"),
        col("r.n_kept").as("n_kept"), col("r.text_kept").as("text_kept"))

  /** Seen-set first-occurrence line filter — ONE linear pass (amortized
    * O(1) hash lookups per line) where the round-10 HOF spelling's
    * per-element `array_position(slice(ls, 1, i), x)` was O(k²) string
    * compares in the line count: real documents never noticed, but a
    * single pathological million-line doc was 10¹² compares serialized
    * on one task (verdict r10 finding #2). Split semantics mirror
    * Spark's `split(col, pattern)` (limit -1: trailing empty strings
    * kept); equality is exact string equality, same as array_position. */
  def dedupLinesKernel(text: String, sep: String): (Long, Long, String) = {
    val ls = text.split(java.util.regex.Pattern.quote(sep), -1)
    val seen = new java.util.HashSet[String]()
    val kept = new java.lang.StringBuilder
    var nKept = 0L
    var i = 0
    while (i < ls.length) {
      if (seen.add(ls(i))) {
        if (nKept > 0) kept.append(sep)
        kept.append(ls(i))
        nKept += 1
      }
      i += 1
    }
    (ls.length.toLong, nKept, kept.toString)
  }

  /** Paragraph flavor of [[dedupLinesInDocQuery]]. */
  def dedupParagraphsInDocQuery(docs: DataFrame): DataFrame =
    dedupLinesInDocQuery(docs, "\n\n")

  /** Substring-span window length (chars), anchor gram length, and
    * anchor density: a window STARTS at position i iff the poly hash of
    * the [[AnchorGram]] codepoints at i is ≡ 0 mod [[AnchorMod]] —
    * expected spacing = [[AnchorMod]] chars, the same window density as
    * the old fixed stride-50 enumeration. */
  val SpanLen = 100
  val AnchorGram = 8
  val AnchorMod = 50L

  /** CONTENT-DEFINED [[SpanLen]]-char windows — the unit of
    * SUBSTRING-level dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better": duplicated >= 50-token spans
    * are removed even when the containing documents differ). A full
    * distributed suffix array is the exact tool; window hashing is the
    * standard approximation — but FIXED-STRIDE windows (the pre-round-10
    * spelling) are alignment-dependent: a span shared at offsets
    * differing by a non-multiple of the stride produces disjoint windows
    * in the two documents and is invisible. Content-defined anchors
    * (the winnowing/CDC trick [[NearDup]] already uses for containment)
    * fix that: whether position i starts a window depends only on the
    * [[AnchorGram]] characters AT i, so a shared span anchors its
    * windows at the same in-span offsets in every document containing
    * it — any duplicated span comfortably longer than [[SpanLen]] +
    * [[AnchorMod]] yields at least one identical window pair regardless
    * of where it sits. Docs whose content happens to produce no anchor
    * emit no windows (no forced position-0 anchor: that would be
    * alignment-dependent again).
    *
    * Kernel: [[cdcWindows]], one linear per-doc pass (8 mul-mod per
    * position) as a native codegen'd expression; embarrassingly
    * parallel, nothing shuffles here. */
  def substringSpans(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.CdcWindows(col("text"))).as("w"))

  /** The content-defined window kernel (shared with the native
    * expression and, by spelling, the DuckDB oracle): emit
    * codepoints[i, i+SpanLen) for every 0-based i <= n-SpanLen whose
    * AnchorGram-codepoint poly hash (H = reduce h*131+c mod P, the
    * corpus-wide shingle-hash family) is divisible by AnchorMod. */
  def cdcWindows(text: String): Array[String] = {
    val cps = text.codePoints.toArray
    cdcWindowStarts(cps).map(i => new String(cps, i, SpanLen))
  }

  /** 0-based codepoint offsets of the anchored window starts — the one
    * anchor scan shared by [[cdcWindows]] and [[cdcWindowsWithPos]]. */
  def cdcWindowStarts(cps: Array[Int]): Array[Int] = {
    val n = cps.length
    if (n < SpanLen) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    val lastStart = n - SpanLen
    var i = 0
    while (i <= lastStart) {
      var h = cps(i).toLong
      var j = i + 1
      val e = i + AnchorGram
      while (j < e) { h = (h * MinHash.HashMult + cps(j)) % MinHash.P; j += 1 }
      if (h % AnchorMod == 0L) out += i
      i += 1
    }
    out.toArray
  }

  /** (0-based start offset, window) pairs — the removal operator needs
    * WHERE a duplicated window sits, not just that it exists. */
  def cdcWindowsWithPos(text: String): Array[(Int, String)] = {
    val cps = text.codePoints.toArray
    cdcWindowStarts(cps).map(i => (i, new String(cps, i, SpanLen)))
  }

  /** Per-doc duplicated-span report: how many of a doc's windows occur at
    * >= 2 positions corpus-wide (within- or cross-document — a window
    * repeated inside one doc is training-data repetition all the same).
    *
    * One exchange: the corpus-wide occurrence count is a window keyed on
    * (xxhash64(w), w) — the 8-byte hash drives partitioning so the shuffle
    * never compares 100-char strings, while grouping stays exact because
    * the full window text rides in the key (round-5 collapse-key pattern).
    * Then a doc_id agg. The oracle groups on the raw string — same result,
    * since xxhash64 only refines the partition of equal strings. */
  def substringDupQuery(docs: DataFrame): DataFrame = {
    val wspec = Window.partitionBy(xxhash64(col("w")), col("w"))
    substringSpans(docs)
      .withColumn("c", count(lit(1)).over(wspec))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .filter(col("n_dup_spans") > 0)
  }

  /** Corpus-level span-duplication summary: total windows, distinct
    * windows, windows occurring >= 2 times, and occurrences inside such
    * clusters. Two partial-aggregating exchanges (w, then 1-row). */
  def substringStatsQuery(docs: DataFrame): DataFrame =
    substringSpans(docs)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .agg(
        sum(col("c")).as("total_spans"),
        count(lit(1)).as("distinct_spans"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("dup_windows"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_occurrences"))

  /** SUBSTRING-SPAN REMOVAL — the actual Lee et al. 2021 transform the
    * span family previously only REPORTED: rewrite every document with
    * duplicated [[SpanLen]]-char windows excised, keeping exactly the
    * FIRST occurrence corpus-wide in (doc_id, start offset) order.
    * Overlapping cut windows within a doc merge (a codepoint is removed
    * once, however many cut windows cover it).
    *
    * Scale shape: window explode (narrow kernel) → ONE exchange keyed on
    * the window text for the first-occurrence resolution — spelled as a
    * partial-aggregating `min(struct(doc_id, pos))` + count per window
    * and a join back, NOT a row_number sort: a boilerplate window
    * repeated in millions of docs map-side-combines to one row per
    * partition for the firsts frame, and the join back is a hash probe,
    * so a hot window never serializes a sort on one task — then one
    * exchange on doc_id to collect each doc's cut offsets, and a final
    * doc_id join against the corpus (left: most docs have no cuts). The
    * per-doc excision is a linear codepoint pass ([[removeSpansKernel]]).
    * The oracle spells first-occurrence as `row_number() = 1` over the
    * same (doc_id, pos) order and rebuilds text per character — result-
    * identical, naive on purpose. */
  def spanRemovalQuery(docs: DataFrame): DataFrame = {
    val occ = docs.select(col("doc_id"),
        explode(graft.functions.CdcWindowsPos(col("text"))).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.w").as("w"))
    val firsts = occ.groupBy(col("w"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
        count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("w"), col("first"))
    val cuts = occ.join(firsts, "w")
      .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cut_spans"),
        sort_array(collect_list(col("pos"))).as("cuts"))
    docs.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cut_spans"), lit(0L)).as("n_cut_spans"),
        removeSpansUdf(col("text"),
          coalesce(col("cuts"), array().cast("array<int>"))).as("r"))
      .select(col("doc_id"), col("n_cut_spans"),
        col("r._1").as("n_chars_removed"), col("r._2").as("text_kept"))
  }

  /** Excise the UNION of [s, s+SpanLen) codepoint intervals (starts
    * 0-based, sorted, possibly overlapping) — one linear pass. */
  def removeSpansKernel(text: String, starts: Array[Int]): (Long, String) = {
    val cps = text.codePoints.toArray
    if (starts.isEmpty) return (0L, text)
    val sb = new java.lang.StringBuilder(text.length)
    var removed = 0L
    var k = 0
    var j = 0
    while (j < cps.length) {
      // advance past cut intervals whose end precedes j
      while (k < starts.length && starts(k) + SpanLen <= j) k += 1
      if (k < starts.length && starts(k) <= j) removed += 1
      else sb.appendCodePoint(cps(j))
      j += 1
    }
    (removed, sb.toString)
  }

  private val removeSpansUdf = udf { (text: String, starts: Seq[Int]) =>
    if (text == null) null
    else removeSpansKernel(text, starts.toArray)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) =>
      exactDedup(Tables.documents(s, d)).select("doc_id", "content_hash")),
    "dedup_exact_dupmap" -> ((s, d) => exactDuplicateOf(Tables.documents(s, d))),
    "dedup_exact_stats" -> ((s, d) => exactStatsQuery(Tables.documents(s, d))),
    "dedup_delta_exact" -> ((s, d) => deltaExactQuery(Tables.documents(s, d))),
    "dedup_lines" -> ((s, d) => lineDedupQuery(Tables.documents(s, d))),
    "dedup_substring_spans" -> ((s, d) => substringDupQuery(Tables.documents(s, d))),
    "dedup_substring_stats" -> ((s, d) => substringStatsQuery(Tables.documents(s, d))),
    "clean_dedup_spans" -> ((s, d) => spanRemovalQuery(Tables.documents(s, d))),
    "dedup_paragraphs" -> ((s, d) => paragraphDedupQuery(Tables.documents(s, d))),
    "clean_dedup_lines" -> ((s, d) => dedupLinesInDocQuery(Tables.documents(s, d))),
    "clean_dedup_paragraphs" -> ((s, d) => dedupParagraphsInDocQuery(Tables.documents(s, d))))

  def oracles: Map[String, String] = Map(
    "dedup_exact" ->
      s"""SELECT doc_id, content_hash FROM (
         |  SELECT doc_id,
         |         md5(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'))) AS content_hash,
         |         row_number() OVER (
         |           PARTITION BY md5(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')))
         |           ORDER BY doc_id) AS rn
         |  FROM documents)
         |WHERE rn = 1""".stripMargin,
    "dedup_exact_dupmap" ->
      s"""SELECT doc_id AS duplicate_id, original_id FROM (
         |  SELECT doc_id,
         |         first_value(doc_id) OVER (
         |           PARTITION BY md5(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')))
         |           ORDER BY doc_id) AS original_id
         |  FROM documents)
         |WHERE doc_id <> original_id""".stripMargin,
    "dedup_exact_stats" ->
      s"""SELECT count(*) AS total_documents,
         |       count(DISTINCT h) AS unique_documents,
         |       count(*) - count(DISTINCT h) AS duplicate_documents
         |FROM (SELECT md5(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'))) AS h
         |      FROM documents)""".stripMargin,
    "dedup_delta_exact" ->
      s"""WITH h AS (SELECT doc_id,
         |             md5(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'))) AS content_hash
         |           FROM documents)
         |SELECT doc_id, content_hash FROM h d
         |WHERE doc_id % $DeltaMod = 0
         |  AND NOT EXISTS (SELECT 1 FROM h c
         |                  WHERE c.doc_id % $DeltaMod <> 0
         |                    AND c.content_hash = d.content_hash)""".stripMargin,
    "dedup_lines" ->
      s"""WITH b AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
         |l AS (SELECT doc_id, unnest(range(len(ls))) AS pos, ls FROM b),
         |lines AS (SELECT doc_id, pos, ls[pos + 1] AS line FROM l),
         |df AS (SELECT line, count(DISTINCT doc_id) AS line_df
         |       FROM lines GROUP BY line)
         |SELECT doc_id,
         |  count(*) AS n_lines,
         |  CAST(sum(CASE WHEN line_df < $LineDropDf THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  COALESCE(array_to_string(
         |    list(line ORDER BY pos) FILTER (WHERE line_df < $LineDropDf),
         |    chr(10)), '') AS text_kept
         |FROM lines JOIN df USING (line)
         |GROUP BY doc_id""".stripMargin,
    "dedup_paragraphs" ->
      s"""WITH b AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ls FROM documents),
         |l AS (SELECT doc_id, unnest(range(len(ls))) AS pos, ls FROM b),
         |lines AS (SELECT doc_id, pos, ls[pos + 1] AS line FROM l),
         |df AS (SELECT line, count(DISTINCT doc_id) AS line_df
         |       FROM lines GROUP BY line)
         |SELECT doc_id,
         |  count(*) AS n_lines,
         |  CAST(sum(CASE WHEN line_df < $LineDropDf THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  COALESCE(array_to_string(
         |    list(line ORDER BY pos) FILTER (WHERE line_df < $LineDropDf),
         |    chr(10) || chr(10)), '') AS text_kept
         |FROM lines JOIN df USING (line)
         |GROUP BY doc_id""".stripMargin,
    "clean_dedup_lines" -> inDocDedupOracle("chr(10)"),
    "clean_dedup_paragraphs" -> inDocDedupOracle("chr(10) || chr(10)"),
    "dedup_substring_spans" ->
      s"""WITH $spanCtesD,
         |cnt AS (
         |  SELECT doc_id, count(*) OVER (PARTITION BY w) AS c FROM spans)
         |SELECT doc_id,
         |       count(*) AS n_spans,
         |       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
         |FROM cnt GROUP BY doc_id
         |HAVING sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) > 0""".stripMargin,
    // Naive arbiter for the span REMOVAL transform: first occurrence =
    // row_number() 1 over (doc_id, pos); the kept text is rebuilt per
    // character (j covered by ANY cut interval → removed). 1-based
    // offsets throughout, mirroring the engine's 0-based ones.
    "clean_dedup_spans" ->
      s"""WITH $spanCtesPosD,
         |occ AS (
         |  SELECT doc_id, pos, w,
         |         row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rk,
         |         count(*) OVER (PARTITION BY w) AS c
         |  FROM spans),
         |cuts AS (SELECT doc_id, pos FROM occ WHERE c >= 2 AND rk >= 2),
         |nc AS (SELECT doc_id, count(*) AS n_cut_spans FROM cuts GROUP BY doc_id),
         |ch AS (
         |  SELECT d.doc_id, t.j,
         |         CASE WHEN EXISTS (SELECT 1 FROM cuts c
         |                           WHERE c.doc_id = d.doc_id
         |                             AND t.j >= c.pos AND t.j < c.pos + $SpanLen)
         |              THEN 1 ELSE 0 END AS cut,
         |         substr(d.text, CAST(t.j AS INTEGER), 1) AS s
         |  FROM documents d, unnest(range(1, length(d.text) + 1)) AS t(j)),
         |agg AS (
         |  SELECT doc_id,
         |         CAST(sum(cut) AS BIGINT) AS n_chars_removed,
         |         COALESCE(string_agg(CASE WHEN cut = 0 THEN s END, '' ORDER BY j), '') AS text_kept
         |  FROM ch GROUP BY doc_id)
         |SELECT d.doc_id,
         |       COALESCE(nc.n_cut_spans, 0) AS n_cut_spans,
         |       COALESCE(agg.n_chars_removed, 0) AS n_chars_removed,
         |       COALESCE(agg.text_kept, d.text) AS text_kept
         |FROM documents d
         |LEFT JOIN nc USING (doc_id)
         |LEFT JOIN agg USING (doc_id)""".stripMargin,
    "dedup_substring_stats" ->
      s"""WITH $spanCtesD,
         |g AS (SELECT w, count(*) AS c FROM spans GROUP BY w)
         |SELECT CAST(sum(c) AS BIGINT) AS total_spans,
         |       count(*) AS distinct_spans,
         |       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows,
         |       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_occurrences
         |FROM g""".stripMargin)

  /** DuckDB spelling of [[dedupLinesInDocQuery]]: keep element i iff it
    * is absent from the first i-1 (DuckDB lambdas index 1-based, Spark
    * 0-based — both slices read "everything before me"). */
  private def inDocDedupOracle(sepSql: String): String =
    s"""SELECT doc_id,
       |       CAST(len(ls) AS BIGINT) AS n_lines,
       |       CAST(len(kept) AS BIGINT) AS n_kept,
       |       array_to_string(kept, $sepSql) AS text_kept
       |FROM (SELECT doc_id, ls,
       |        list_filter(ls, (x, i) -> NOT list_contains(ls[1:i-1], x)) AS kept
       |      FROM (SELECT doc_id, string_split(text, $sepSql) AS ls
       |            FROM documents))""".stripMargin

  /** [[spanCtesD]] variant keeping the (1-based) window start offset. */
  private def spanCtesPosD: String =
    s"""$spanCtesD0,
       |spans AS (
       |  SELECT doc_id, i AS pos,
       |         substr(text, CAST(i AS INTEGER), $SpanLen) AS w FROM anch)""".stripMargin

  /** Shared anchor CTEs (candidate positions + anchor filter). */
  private def spanCtesD0: String =
    s"""pos AS (
       |  SELECT doc_id, text,
       |         unnest(range(1, length(text) - ${SpanLen - 2})) AS i
       |  FROM documents WHERE length(text) >= $SpanLen),
       |anch AS (
       |  SELECT doc_id, text, i FROM pos
       |  WHERE list_reduce(
       |          list_transform(range(i, i + $AnchorGram),
       |                         j -> CAST(ord(substr(text, CAST(j AS INTEGER), 1)) AS BIGINT)),
       |          (h, c) -> (h * ${MinHash.HashMult} + c) % ${MinHash.P}) % $AnchorMod = 0)""".stripMargin

  /** DuckDB spelling of [[cdcWindows]]: anchor positions by the same
    * AnchorGram-codepoint poly hash, full-length windows only. */
  private def spanCtesD: String =
    s"""$spanCtesD0,
       |spans AS (
       |  SELECT doc_id, substr(text, CAST(i AS INTEGER), $SpanLen) AS w FROM anch)""".stripMargin
}
