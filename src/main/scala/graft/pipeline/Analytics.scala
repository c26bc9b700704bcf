package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Reporting/analytics operators (O1, A8; reference: utils/metrics.py:
  * 210-215 sorted reason report, notebooks/data_exploration.ipynb
  * describe + histogram cells) plus JSON property extraction over the
  * `events.props` column (the driver's semi-structured surface).
  */
object Analytics {

  /** O1 `quality_reason_report`: filter-reason report sorted by count
    * desc (metrics.py:210-215).
    * Deterministic secondary sort on the reason label; the global sort
    * runs over <= 12 rows, post-aggregation (the reason enum bounds the
    * cardinality) — trivially scale-safe. The total for the share column
    * is a second-level aggregation of the PERSISTED 12-row by-reason
    * frame, combined back by a 1-row broadcast cross join — not an
    * unpartitioned window, which would funnel through WindowExec's
    * single-partition path (and re-deriving the total from `docs` would
    * scan the corpus twice).
    *
    * The report runs over any reason-carrying frame — the registration
    * passes the memoized default-config verdicts ([[Quality.reasonsFor]]). */
  private[pipeline] def reasonReportOver(reasons: DataFrame): DataFrame = {
    val byReason = reasons
      .groupBy("reason").agg(count(lit(1)).as("n_docs"))
      .transform(graft.CacheScope.persist)
    val total = byReason.agg(sum(col("n_docs")).as("total"))
    byReason.crossJoin(broadcast(total))
      .withColumn("share", col("n_docs").cast("double") / col("total").cast("double"))
      .drop("total")
      .orderBy(col("n_docs").desc, col("reason"))
  }

  /** A8: document-length histogram, 100-char buckets (the notebook's
    * length-distribution cell) — a groupBy on a derived bucket key. */
  def docLengthHistogramQuery(docs: DataFrame, bucket: Int = 100): DataFrame =
    docs.groupBy(expr(s"n_chars div $bucket").as("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** A8: describe()-style corpus summary of n_chars per source. Variance
    * is computed exactly via DECIMAL sums (sum, sum of squares) so the
    * float hash agrees with the oracle — the same one-pass shape
    * `describe()` itself uses. */
  def corpusDescribeQuery(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d = DecimalType(38, 6)
    docs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars").cast(d)).as("sum_chars_d"),
        sum((col("n_chars") * col("n_chars")).cast(d)).as("sum_sq_d"))
      .select(
        col("source"), col("n_docs"), col("min_chars"), col("max_chars"),
        col("sum_chars_d").cast("bigint").as("sum_chars"),
        (col("sum_chars_d").cast("double") / col("n_docs").cast("double")).as("mean_chars"),
        ((col("sum_sq_d").cast("double") / col("n_docs").cast("double")) -
          (col("sum_chars_d").cast("double") / col("n_docs").cast("double")) *
          (col("sum_chars_d").cast("double") / col("n_docs").cast("double")))
          .as("var_chars"))
  }

  /** A8: exact length percentiles per source. Spark's `percentile` is the
    * exact linear-interpolation aggregate (memory ∝ distinct values —
    * bounded here, since document char-lengths are a bounded int domain
    * at any corpus size; for unbounded domains `approx_percentile` is the
    * scale path). DuckDB's `quantile_cont` interpolates identically. */
  def docLengthPercentilesQuery(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(
        expr("percentile(n_chars, 0.25)").as("p25"),
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.75)").as("p75"),
        expr("percentile(n_chars, 0.9)").as("p90"))

  /** Semi-structured extraction: pull typed fields out of the JSON
    * `props` string (events.parquet). Round 11: the codegen'd
    * [[graft.functions.JsonIntField]] single-scan kernel replaces
    * `get_json_object(..).cast("int")` — same null semantics, no
    * per-row Jackson parser (the parse dominated this scan at 100×:
    * 2.7 → sub-second). */
  def eventsPropsQuery(events: DataFrame): DataFrame =
    events
      .withColumn("k", graft.functions.JsonIntField(col("props"), "k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  /** Pearson correlation from exact integer moment sums (the one-pass
    * formula `corr` itself uses, but with order-independent sums so the
    * driver's float hash agrees with DuckDB): per event type, how does
    * `value` co-move with the JSON `props.k` field. Scaled-LONG policy
    * (Relational's): `value` is two-decimal, so its cent integer makes
    * every moment an exact integer — per-row products bounded (vc² ≲
    * 3.2e9, k ≤ 2³¹), sums through DECIMAL(38,0), ONE double rounding
    * per term at output with the scale divides mirrored verbatim in
    * the oracle. Replaces five per-row double→DECIMAL(38,8) casts
    * (the BigDecimal.valueOf string path). */
  def valueCorrQuery(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val big = DecimalType(38, 0)
    val k = graft.functions.JsonIntField(col("props"), "k")
    events
      .withColumn("k", k).filter(col("k").isNotNull && col("value").isNotNull)
      .withColumn("vc", floor(col("value") * 100 + lit(0.5)).cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("vc").cast(big)).as("sx100"),
        sum(col("k").cast(big)).as("sy"),
        sum((col("vc") * col("vc")).cast(big)).as("sxx1e4"),
        sum((col("k").cast("long") * col("k")).cast(big)).as("syy"),
        sum((col("vc") * col("k")).cast(big)).as("sxy100"))
      .select(
        col("event_type"), col("n"),
        ((col("n").cast("double") * (col("sxy100").cast("double") / 100) -
          (col("sx100").cast("double") / 100) * col("sy").cast("double")) /
          (sqrt(col("n").cast("double") * (col("sxx1e4").cast("double") / 10000) -
            (col("sx100").cast("double") / 100) * (col("sx100").cast("double") / 100)) *
           sqrt(col("n").cast("double") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double"))))
          .as("corr_value_k"))
  }

  /** Flesch reading-ease per document — the classic readability quality
    * signal (several public web-corpus pipelines filter or bucket on
    * it). All inputs are exact integer counts (sentence-punctuation
    * runs, whitespace words, vowel-group "syllables"); the score is
    * then a fixed left-associated chain of individually-rounded IEEE
    * double ops, so both engines produce bit-identical floats — no
    * order-dependent float aggregation anywhere. Scan-local projection,
    * zero shuffles at any scale. */
  def readabilityQuery(docs: DataFrame): DataFrame = {
    val trimmed = regexp_replace(col("text"), Clean.EdgeWsRe, "")
    docs
      .filter(length(trimmed) > 0)
      .select(
        col("doc_id"),
        // unterminated prose counts as one sentence (standard fallback)
        greatest(size(expr("regexp_extract_all(text, '[.!?]+', 0)")), lit(1))
          .cast("long").as("n_sentences"),
        size(split(trimmed, "\\s+")).cast("long").as("n_words"),
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast("long").as("n_syllables"))
      .withColumn("flesch",
        lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double")) -
          lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")))
  }

  /** JVM kernel behind [[graft.functions.CharDiversityExpression]]:
    * sorted-codepoint run lengths → (n, distinct, Σ run²). The sums are
    * order-independent integers, so primitive sort + run-length is
    * result-identical to the retired interpreted HOF fold (and the
    * DuckDB count-per-distinct spelling) at a fraction of the cost. */
  def charDiversityKernel(text: String): (Long, Long, Long) = {
    val cps = text.codePoints().toArray
    java.util.Arrays.sort(cps)
    var distinct = 0L
    var sq = 0L
    var i = 0
    while (i < cps.length) {
      var j = i
      while (j < cps.length && cps(j) == cps(i)) j += 1
      val run = (j - i).toLong
      distinct += 1
      sq += run * run
      i = j
    }
    (cps.length.toLong, distinct, sq)
  }

  private val WsSplit = java.util.regex.Pattern.compile("\\s+")

  /** JVM kernel behind [[graft.functions.WordDiversityExpression]]:
    * per-distinct-word counts over lowercased whitespace words (hash
    * grouping — the Σ cnt² sum needs only equality, no order).
    * Lowercasing is Locale.ROOT, the locale-independent fold the DuckDB
    * oracle's lower() applies (Spark's builtin lower() is the one that
    * would drift on a tr/az-default-locale JVM). */
  def wordDiversityKernel(text: String): (Long, Long, Long) = {
    val words = WsSplit.split(text.toLowerCase(java.util.Locale.ROOT))
    val counts = new java.util.HashMap[String, Int]()
    var n = 0L
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (w.nonEmpty) { n += 1; counts.merge(w, 1, Integer.sum _) }
      i += 1
    }
    var sq = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next().toLong; sq += c * c }
    (n, counts.size().toLong, sq)
  }

  /** Per-doc character-collision probability (the Rényi-2 / Simpson
    * diversity index over code points): Σ n_c² / N², with
    * `effective_alphabet` = its inverse — the "how many distinct
    * characters is this doc REALLY using" signal behind gibberish /
    * low-diversity filters (a keyboard-mash or repeated-char doc shows a
    * tiny effective alphabet at any length; cf. the entropy filters in
    * public web-corpus pipelines). Spelled RATIONALLY per the house rule
    * (LangModel.scala): Shannon entropy's Σ p log p is an order-dependent
    * libm float sum that can never hash-match across engines, while the
    * collision sum is exact-integer (sorted run-length fold, the
    * [[Quality]] m_maxrep idiom) with the two floats each born in one
    * final IEEE expression. Scan-local projection, zero shuffles; the
    * O(L log L) per-row sort is the only cost. */
  def charDiversityQuery(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        Stage.once(graft.functions.CharDiversity(col("text"))).as("s"))
      .select(
        col("doc_id"),
        col("s.n").as("n_chars_counted"),
        col("s.distinct").as("n_distinct_chars"),
        col("s.sq").as("char_sq_sum"))
      .withColumn("collision_prob",
        col("char_sq_sum").cast("double") /
          (col("n_chars_counted").cast("double") * col("n_chars_counted").cast("double")))
      .withColumn("effective_alphabet",
        (col("n_chars_counted").cast("double") * col("n_chars_counted").cast("double")) /
          col("char_sq_sum").cast("double"))

  /** Word-level sibling of [[charDiversityQuery]]: type-token ratio plus
    * the Rényi-2 effective vocabulary. TTR is the classic lexical-
    * diversity quality signal (template/boilerplate text repeats a tiny
    * vocabulary at any length); the collision form adds the frequency-
    * weighted view TTR misses (one word at 90% + many singletons has a
    * high TTR but a tiny effective vocabulary). Same exact-integer
    * run-length fold over the sorted word array, floats born in single
    * IEEE expressions; scan-local, zero shuffles. */
  def wordDiversityQuery(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        Stage.once(graft.functions.WordDiversity(col("text"))).as("s"))
      .filter(col("s.n") > 0)
      .select(
        col("doc_id"),
        col("s.n").as("n_words"),
        col("s.distinct").as("n_distinct_words"),
        col("s.sq").as("word_sq_sum"))
      .withColumn("ttr",
        col("n_distinct_words").cast("double") / col("n_words").cast("double"))
      .withColumn("effective_vocab",
        (col("n_words").cast("double") * col("n_words").cast("double")) /
          col("word_sq_sum").cast("double"))

  /** Sequence-length histogram in 16-token buckets — the distribution a
    * pipeline inspects before choosing its packing window (compare with
    * `pack_padding_stats` at candidate windows). Scan-local bucketing +
    * one tiny-key aggregation. */
  def seqLengthHistogramQuery(docs: DataFrame, bucket: Int = 16): DataFrame = {
    val trimmed = regexp_replace(col("text"), Clean.EdgeWsRe, "")
    docs
      .filter(length(trimmed) > 0)
      .select((size(split(trimmed, "\\s+")).cast("long")).as("n_tokens"))
      .groupBy(expr(s"n_tokens div $bucket").as("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
  }

  /** Per-source vocabulary report: token volume vs distinct vocabulary —
    * the type/token view behind vocabulary-growth (Heaps' law) checks and
    * tokenizer-budget decisions. One explode + one partial-aggregating
    * count-distinct per source. */
  def vocabPerSourceQuery(docs: DataFrame): DataFrame = {
    val trimmed = regexp_replace(col("text"), Clean.EdgeWsRe, "")
    docs
      .filter(length(trimmed) > 0)
      .select(col("source"), explode(split(trimmed, "\\s+")).as("word"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("word")).as("n_distinct_words"))
  }

  /** Unicode script ranges for [[scriptStatsQuery]], spelled with
    * `\x{hhhh}` code-point escapes — the one hex-escape syntax Java
    * regex and RE2 share, so engine and oracle compile the IDENTICAL
    * character classes. BMP block ranges (not full `\p{Script=...}`
    * properties, which the two engines bound differently). */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> """[A-Za-z\x{00C0}-\x{024F}]""",
    "cyrillic" -> """[\x{0400}-\x{04FF}]""",
    "greek" -> """[\x{0370}-\x{03FF}]""",
    "arabic" -> """[\x{0600}-\x{06FF}]""",
    "devanagari" -> """[\x{0900}-\x{097F}]""",
    "hangul" -> """[\x{AC00}-\x{D7AF}]""",
    "cjk" -> """[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}]""",
    "digit" -> "[0-9]")

  /** Per-doc character counts by Unicode script block — the
    * writing-system profile a multilingual pipeline checks BEFORE
    * trusting any statistical language-ID (mixed-script spam, wrong-
    * script transliterations, and mislabeled CJK/Cyrillic crawls all
    * show up here first; cf. CCNet's per-language corpus audits).
    * `latin_frac` is the headline signal: the share of Latin letters
    * among all characters. Scan-local projection (one codegen'd
    * regexp_count per script), zero shuffles at any corpus size. */
  def scriptStatsQuery(docs: DataFrame): DataFrame = {
    val counted = ScriptRanges.foldLeft(
        docs.select(col("doc_id"), col("lang"), col("text"),
          length(col("text")).cast("long").as("n_chars_text"))) {
      case (d, (name, re)) =>
        d.withColumn(s"n_$name", regexp_count(col("text"), lit(re)).cast("long"))
    }
    counted.select(
      col("doc_id") +: col("lang") +: col("n_chars_text").as("n_chars") +:
        ScriptRanges.map { case (name, _) => col(s"n_$name") } :+
        when(col("n_chars_text") > 0,
          col("n_latin").cast("double") / col("n_chars_text").cast("double"))
          .otherwise(lit(null).cast("double")).as("latin_frac"): _*)
  }

  /** Pairwise vocabulary Jaccard between sources — the redundancy
    * matrix behind mixture design (two sources that share most of their
    * vocabulary contribute less diversity than their token counts
    * suggest; cf. the Pile's inter-subset overlap analyses). Pairs with
    * an empty intersection are absent (inner-join semantics).
    *
    * Scale shape: the distinct (source, word) projection is one hash
    * shuffle bounded by vocabulary x sources (NOT corpus tokens — the
    * distinct collapses occurrences map-side); the self-join fans out at
    * most #sources rows per word per side, so no key explodes; and
    * everything downstream runs on a #source-pairs-row frame. The
    * per-source size dim is tiny and broadcasts into the final joins.
    * The word never appears in the OUTPUT — only counts of it do — so
    * both the distinct exchange and the self-join ship `xxhash64(word)`
    * (8 bytes) instead of the raw string (round-8 verdict #4: the raw-
    * string spelling shipped the corpus vocabulary through the exchange
    * twice and was the sweep's most variance-prone query). Collision
    * envelope: two DISTINCT words colliding within one source would
    * merge a count — probability ~ vocab^2 / 2^65, vanishing at any real
    * vocabulary size (same argument as the xxhash64 collapse keys in
    * Dedup); the DuckDB oracle keeps counting raw words, so the gate
    * itself arbitrates the envelope every round. */
  def sourceOverlapQuery(docs: DataFrame): DataFrame = {
    val sw = docs
      .select(col("source"),
        explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("word"))
      .select(col("source"), xxhash64(col("word")).as("word"))
      .distinct()
      .transform(graft.CacheScope.persist) // feeds the sizes agg AND both join sides
    val sizes = sw.groupBy(col("source")).agg(count(lit(1)).as("vocab"))
    val pairs = sw.select(col("source").as("source_a"), col("word"))
      .join(sw.select(col("source").as("source_b"), col("word")), "word")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sizes.select(col("source").as("source_a"), col("vocab").as("vocab_a"))),
        "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("vocab").as("vocab_b"))),
        "source_b")
      .select(col("source_a"), col("source_b"), col("vocab_a"), col("vocab_b"),
        col("n_shared"),
        (col("n_shared").cast("double") /
          (col("vocab_a") + col("vocab_b") - col("n_shared")).cast("double")).as("jaccard"))
  }

  /** Keywords kept per doc. */
  val TfidfTopK = 3

  /** Per-doc top-[[TfidfTopK]] keywords by tf-idf — the standard corpus-
    * analysis surface for topical skew checks and mixture diagnostics.
    * idf is the RATIONAL spelling `N / df` (no log damp): ranking needs
    * only monotonicity in tf and 1/df, and `CAST(tf * N AS DOUBLE) / df`
    * is one exact-integer product and one IEEE division — bit-identical
    * across engines, where `ln`'s last-ulp is libm-specific. Shape: one
    * explode + (doc, word) aggregation, a word-keyed df aggregation
    * joined back (AQE splits any hot word), and a per-doc top-k window —
    * doc_id is corpus-cardinality, so the window never funnels. */
  def tfidfKeywordsQuery(docs: DataFrame, k: Int = TfidfTopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // In-row collapsed term frequencies (round 11): the scan stage
    // emits per-doc (word, tf) types directly — the explode +
    // string-keyed groupBy over one row per token occurrence is gone.
    val tf = docs
      .select(col("doc_id"),
        explode(graft.functions.WordCounts(col("text"), lower = true)).as("w"))
      .select(col("doc_id"), col("w.word").as("word"), col("w.n").as("tf"))
      .transform(graft.CacheScope.persist) // feeds df-agg, nd-agg AND the join
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nd = tf.agg(countDistinct(col("doc_id")).as("nd"))
    val scored = tf.join(df, "word").crossJoin(broadcast(nd))
      .withColumn("score",
        (col("tf") * col("nd")).cast("double") / col("df").cast("double"))
    // Probed round 12: a broadcast-model + in-row collect/sort/slice
    // top-k spelling (one fewer exchange on paper) measured SLOWER at
    // 100x on both standing corpora (4.05 -> 4.93 s gate) — the rank
    // window's shuffle+sort beats ObjectHashAggregate's per-doc array
    // building at these row widths, and the model-count probe job isn't
    // free. Kept the window.
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("word"))))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("df"), col("score"))
  }

  /** Per-doc content NOVELTY in ingestion (doc_id) order: the share of
    * a doc's distinct word trigrams whose FIRST corpus occurrence is in
    * that doc — the "how much of this batch is actually new material"
    * curation signal (marginal value of a crawl, freshness per source
    * batch; the batch-level aggregate is one rollup away). Distinct
    * from [[NearDup]]'s containment (overlap against the whole corpus,
    * unordered) — novelty is direction-aware: a doc copied FROM an
    * earlier one scores 0, the earlier one is unaffected.
    *
    * Scale shape: one (gram → min doc_id) aggregation (map-side combine
    * to the trigram universe) and one join back over the persisted gram
    * relation — both exchanges keyed on the gram, the
    * `dedup_lines`/`dedup_paragraphs` class; no window, no all-pairs
    * anything. Zero-gram docs (< 3 words) drop on both engines.
    *
    * Runs over an already-built `(doc_id, ga)` trigram relation — the
    * registration rides the [[Grams.gramsFor]] checkpoint (shared with
    * the jaccard dup map and the fuzzy decontamination index), so the
    * trigram kernel runs once per table directory. */
  private[graft] def noveltyOver(base: DataFrame): DataFrame = {
    // n_novel needs no join back over the gram relation: group the
    // (gram -> first doc) winners BY the winner. The per-doc denominator
    // is scan-local (size of the distinct-trigram array), and the final
    // join is doc-cardinality x doc-cardinality on doc_id — AQE
    // broadcasts it at small scale, SMJ at 100 TB (a doc-cardinality
    // frame is NOT broadcast-hinted: it grows with the corpus). The
    // exploded gram relation ships exactly once.
    val novel = base.select(col("doc_id"), explode(col("ga")).as("g"))
      .groupBy(col("g")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    base.select(col("doc_id"), size(col("ga")).cast("long").as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double")
          / col("n_grams").cast("double")).as("novelty_frac"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_novelty" -> ((s, d) => noveltyOver(Grams.gramsFor(s, d))),
    "doc_tfidf_keywords" -> ((s, d) => tfidfKeywordsQuery(Tables.documents(s, d))),
    "lang_script_stats" -> ((s, d) => scriptStatsQuery(Tables.documents(s, d))),
    "corpus_source_overlap" -> ((s, d) => sourceOverlapQuery(Tables.documents(s, d))),
    "doc_readability" -> ((s, d) => readabilityQuery(Tables.documents(s, d))),
    "doc_char_diversity" -> ((s, d) => charDiversityQuery(Tables.documents(s, d))),
    "doc_word_diversity" -> ((s, d) => wordDiversityQuery(Tables.documents(s, d))),
    "tok_seq_length_histogram" -> ((s, d) => seqLengthHistogramQuery(Tables.documents(s, d))),
    "corpus_vocab_per_source" -> ((s, d) => vocabPerSourceQuery(Tables.documents(s, d))),
    "events_value_corr" -> ((s, d) => valueCorrQuery(Tables.events(s, d))),
    "quality_reason_report" -> ((s, d) => reasonReportOver(Quality.reasonsFor(s, d))),
    "doc_length_histogram" -> ((s, d) => docLengthHistogramQuery(Tables.documents(s, d))),
    "doc_length_percentiles" -> ((s, d) => docLengthPercentilesQuery(Tables.documents(s, d))),
    "corpus_describe" -> ((s, d) => corpusDescribeQuery(Tables.documents(s, d))),
    "events_props_extract" -> ((s, d) => eventsPropsQuery(Tables.events(s, d))))

  def oracles: Map[String, String] = Map(
    "corpus_novelty" ->
      s"""WITH g AS (
         |  SELECT doc_id, unnest(${NearDup.TrigramsD}) AS g FROM documents),
         |f AS (SELECT g, min(doc_id) AS first_id FROM g GROUP BY g)
         |SELECT g.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST(sum(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
         |    / CAST(count(*) AS BIGINT)::DOUBLE AS novelty_frac
         |FROM g JOIN f USING (g)
         |GROUP BY g.doc_id""".stripMargin,
    // Same integers by a different route: the engine's sorted run-length
    // fold and this O(L·distinct) count-per-distinct-char spelling both
    // compute Σ n_c² exactly (integer sums are order-independent); the
    // two floats are then the identical one-expression IEEE divisions.
    "doc_char_diversity" ->
      """WITH b AS (
        |  SELECT doc_id, string_split(text, '') AS cs
        |  FROM documents WHERE length(text) > 0),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(cs) AS BIGINT) AS n_chars_counted,
        |    CAST(len(list_distinct(cs)) AS BIGINT) AS n_distinct_chars,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        list_transform(list_distinct(cs),
        |                       c -> CAST(len(list_filter(cs, x -> x = c)) AS BIGINT)),
        |        n -> n * n)),
        |      (s, v) -> s + v) AS char_sq_sum
        |  FROM b)
        |SELECT doc_id, n_chars_counted, n_distinct_chars, char_sq_sum,
        |  CAST(char_sq_sum AS DOUBLE)
        |    / (CAST(n_chars_counted AS DOUBLE) * CAST(n_chars_counted AS DOUBLE))
        |    AS collision_prob,
        |  (CAST(n_chars_counted AS DOUBLE) * CAST(n_chars_counted AS DOUBLE))
        |    / CAST(char_sq_sum AS DOUBLE) AS effective_alphabet
        |FROM m""".stripMargin,
    "doc_word_diversity" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         list_sort(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                               x -> x <> '')) AS ws
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        list_transform(list_distinct(ws),
        |                       w -> CAST(len(list_filter(ws, x -> x = w)) AS BIGINT)),
        |        n -> n * n)),
        |      (s, v) -> s + v) AS word_sq_sum
        |  FROM b WHERE len(ws) > 0)
        |SELECT doc_id, n_words, n_distinct_words, word_sq_sum,
        |  CAST(n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS ttr,
        |  (CAST(n_words AS DOUBLE) * CAST(n_words AS DOUBLE))
        |    / CAST(word_sq_sum AS DOUBLE) AS effective_vocab
        |FROM m""".stripMargin,
    "lang_script_stats" -> {
      val counts = ScriptRanges.map { case (name, re) =>
        s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_$name"
      }.mkString(",\n         ")
      s"""WITH m AS (
         |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
         |         $counts
         |  FROM documents)
         |SELECT *, CASE WHEN n_chars > 0
         |               THEN CAST(n_latin AS DOUBLE) / CAST(n_chars AS DOUBLE)
         |               ELSE NULL END AS latin_frac
         |FROM m""".stripMargin
    },
    "corpus_source_overlap" ->
      """WITH sw AS (
        |  SELECT DISTINCT source, word FROM (
        |    SELECT source,
        |           unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                              x -> x <> '')) AS word
        |    FROM documents)),
        |sz AS (SELECT source, count(*) AS vocab FROM sw GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |      FROM sw a JOIN sw b ON a.word = b.word AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT source_a, source_b, sa.vocab AS vocab_a, sb.vocab AS vocab_b, n_shared,
        |       CAST(n_shared AS DOUBLE)
        |         / CAST(sa.vocab + sb.vocab - n_shared AS DOUBLE) AS jaccard
        |FROM p
        |JOIN sz sa ON p.source_a = sa.source
        |JOIN sz sb ON p.source_b = sb.source""".stripMargin,
    "doc_tfidf_keywords" ->
      s"""WITH tf AS (
         |  SELECT doc_id, word, count(*) AS tf FROM (
         |    SELECT doc_id,
         |           unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                              x -> x <> '')) AS word
         |    FROM documents)
         |  GROUP BY doc_id, word),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM tf),
         |scored AS (
         |  SELECT doc_id, word, tf, df,
         |         CAST(tf * nd AS DOUBLE) / CAST(df AS DOUBLE) AS score
         |  FROM tf JOIN df USING (word), nd),
         |ranked AS (
         |  SELECT doc_id, word, tf, df, score,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY score DESC, word) AS rk
         |  FROM scored)
         |SELECT doc_id, rk, word, tf, df, score FROM ranked
         |WHERE rk <= $TfidfTopK""".stripMargin,
    "tok_seq_length_histogram" ->
      """WITH m AS (
        |  SELECT CAST(len(regexp_split_to_array(
        |    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |  WHERE length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0)
        |SELECT n_tokens // 16 AS bucket, count(*) AS n_docs,
        |       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM m GROUP BY 1""".stripMargin,
    "corpus_vocab_per_source" ->
      """WITH w AS (
        |  SELECT source, unnest(regexp_split_to_array(
        |    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS word
        |  FROM documents
        |  WHERE length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0)
        |SELECT source, count(*) AS n_tokens,
        |       count(DISTINCT word) AS n_distinct_words
        |FROM w GROUP BY source""".stripMargin,
    "doc_readability" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_split_to_array(
        |      regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
        |  FROM documents
        |  WHERE length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0)
        |SELECT doc_id, n_sentences, n_words, n_syllables,
        |  206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |          - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch
        |FROM m""".stripMargin,
    "events_value_corr" ->
      """WITH base AS (
        |  SELECT event_type,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
        |         CAST(json_extract_string(props, '$.k') AS INT) AS k
        |  FROM events
        |  WHERE value IS NOT NULL AND CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |         sum(vc) AS sx100,
        |         sum(k) AS sy,
        |         sum(vc * vc) AS sxx1e4,
        |         sum(CAST(k AS BIGINT) * k) AS syy,
        |         sum(vc * k) AS sxy100
        |  FROM base GROUP BY event_type)
        |SELECT event_type, n,
        |  (CAST(n AS DOUBLE) * (CAST(sxy100 AS DOUBLE) / 100) - (CAST(sx100 AS DOUBLE) / 100) * CAST(sy AS DOUBLE)) /
        |  (sqrt(CAST(n AS DOUBLE) * (CAST(sxx1e4 AS DOUBLE) / 10000) - (CAST(sx100 AS DOUBLE) / 100) * (CAST(sx100 AS DOUBLE) / 100)) *
        |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  AS corr_value_k
        |FROM m""".stripMargin,
    "quality_reason_report" ->
      s"""SELECT reason, count(*) AS n_docs,
         |  CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER () AS DOUBLE) AS share
         |FROM (SELECT ${Quality.reasonCascadeD(Quality.Config())} AS reason
         |      FROM ${Quality.qmetricsD("documents")})
         |GROUP BY reason
         |ORDER BY n_docs DESC, reason""".stripMargin,
    "doc_length_histogram" ->
      """SELECT n_chars // 100 AS bucket, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "doc_length_percentiles" ->
      """SELECT source,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75,
        |  quantile_cont(n_chars, 0.9) AS p90
        |FROM documents GROUP BY source""".stripMargin,
    "corpus_describe" ->
      """SELECT source, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  CAST(sum(CAST(n_chars AS DECIMAL(38,6))) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_chars,
        |  (CAST(sum(CAST(n_chars * n_chars AS DECIMAL(38,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |   - (CAST(sum(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |     * (CAST(sum(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS var_chars
        |FROM documents GROUP BY source""".stripMargin,
    "events_props_extract" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin)
}
