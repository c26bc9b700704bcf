package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-cleaning stage.
  *
  * Reproduces the reference cleaner's semantics (reference:
  * src/processing/cleaner.py:52-161) as composable, codegen-friendly
  * `Column` transforms — one narrow `Project` over the scan, zero shuffles,
  * so the whole stage pipelines inside a single WholeStageCodegen span at
  * any scale.
  *
  * Every regex here is written in the common subset of Java regex (Spark)
  * and RE2 (DuckDB oracle): no character-class intersection (`&&`), no
  * lookaround, no possessive quantifiers. The control-character class is
  * spelled as explicit ranges for that reason.
  */
object Clean {

  /** reference: cleaner.py:52-54 */
  val UrlRe = """https?://(?:[-\w.]|(?:%[\da-fA-F]{2}))+[/\w\-.~:/?#\[\]@!$&'()*+,;=%]*"""
  /** reference: cleaner.py:55-57 */
  val EmailRe = """\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b"""
  /** reference: cleaner.py:58 (case-insensitive) */
  val CitationRe = """(?i)\[\d+\]|\[citation needed\]|\[note \d+\]"""
  /** Unicode category Cc minus \n (0A) and \t (09) — reference cleaner.py:134-138
    * drops control chars except newline/tab. Spelled as ranges because RE2
    * has no `[\p{Cc}&&[^\n\t]]`. */
  val ControlRe = """[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]"""
  /** reference: cleaner.py:59 */
  val SpacesRe = """[ \t]+"""
  /** reference: cleaner.py:60 */
  val NewlinesRe = """\n{3,}"""
  /** Python str.strip() trims all whitespace, not just spaces. */
  val EdgeWsRe = """^\s+|\s+$"""

  /** One regex pass of the clean kernel ([[graft.functions.CleanExpression]]):
    * every match of `pattern` becomes `replacement`, in Java
    * `Matcher.replaceAll` syntax, as with `regexp_replace`. The pass runs
    * only when its [[Trigger]] is present in the text as the earlier passes
    * left it. */
  final case class Rule(pattern: String, replacement: String, trigger: Trigger)

  /** A cheap test that is true whenever a [[Rule]]'s pattern could change
    * the text. It may be conservative (true where the pass changes
    * nothing), never the other way round. */
  sealed trait Trigger extends Serializable { def in(s: String): Boolean }

  object Trigger {
    /** Any of the literals occurs. */
    final case class AnyOf(literals: String*) extends Trigger {
      def in(s: String): Boolean = literals.exists(s.contains)
    }

    /** A char of [[ControlRe]]'s ranges occurs. */
    case object ControlChar extends Trigger {
      def in(s: String): Boolean = {
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          if (c <= '\u0008' || c == '\u000b' || c == '\u000c' || (c >= '\u000e' && c <= '\u001f') ||
              (c >= '\u007f' && c <= '\u009f')) return true
          i += 1
        }
        false
      }
    }

    /** [[EdgeWsRe]] can match: a `\s` char first or last, or a `\s` char
      * before a final line terminator that `\s` does not cover (Java `$`
      * also matches before a trailing `\u0085`, `\u2028` or `\u2029`;
      * a trailing `\n` or `\r` is itself `\s`). */
    case object EdgeWs extends Trigger {
      private def ws(c: Char): Boolean =
        c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'
      def in(s: String): Boolean = {
        val n = s.length
        n > 0 && (ws(s.charAt(0)) || ws(s.charAt(n - 1)) ||
          (n >= 2 && (s.charAt(n - 1) == '\u0085' || (s.charAt(n - 1) | 1) == '\u2029') &&
            ws(s.charAt(n - 2))))
      }
    }
  }

  /** Strip URLs (reference cleaner.py:118-122). */
  val UrlRule = Rule(UrlRe, " ", Trigger.AnyOf("http"))
  /** Strip emails (reference cleaner.py:124-128). */
  val EmailRule = Rule(EmailRe, " ", Trigger.AnyOf("@"))
  /** Strip citation markers `[1]`, `[citation needed]` (cleaner.py:130-132). */
  val CitationRule = Rule(CitationRe, "", Trigger.AnyOf("["))
  /** Drop control characters except \n and \t (cleaner.py:134-138). */
  val ControlRule = Rule(ControlRe, "", Trigger.ControlChar)
  /** Collapse runs of spaces/tabs, squeeze 3+ newlines, strip edges
    * (cleaner.py:140-144). A lone space maps to itself, so only a tab or
    * two spaces trigger the first pass. */
  val SpacesRule = Rule(SpacesRe, " ", Trigger.AnyOf("\t", "  "))
  val NewlinesRule = Rule(NewlinesRe, "\n\n", Trigger.AnyOf("\n\n\n"))
  val EdgeWsRule = Rule(EdgeWsRe, "", Trigger.EdgeWs)
  val WhitespaceRules = Seq(SpacesRule, NewlinesRule, EdgeWsRule)

  /** Full regex-only clean chain, in the reference's fixed order
    * (cleaner.py:92-144), as one [[graft.functions.CleanExpression]].
    * Mojibake/NFKC (cleaner.py:107-116) are off here so the result stays
    * comparable with the DuckDB oracle ([[cleanSqlD]]). */
  def cleanText(c: Column): Column =
    graft.functions.CleanChain(c,
      Seq(UrlRule, EmailRule, CitationRule, ControlRule) ++ WhitespaceRules)

  // ---------------------------------------------------------------------
  // Web-corpus cleaner (beyond the wiki-centric reference): PII
  // redaction, a pass every web-crawl training pipeline runs (HTML tags
  // go through `remove_html_tags`, i.e. [[Wiki.MarkupRules]]). Same
  // Java∩RE2 regex discipline as above.
  // ---------------------------------------------------------------------

  /** North-American-style phone numbers, optional +1 country code. */
  val PhoneRe = """(?:\+?1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b"""
  /** Dotted-quad IPv4 (loose: no octet range check, like most scrubbers). */
  val Ipv4Re = """\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"""
  /** SSN-shaped ddd-dd-dddd. */
  val SsnRe = """\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"""

  /** Redact PII spans with typed placeholder tokens (emails reuse
    * [[EmailRe]]; phone before IP so extension digits don't half-match). */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(c, EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        SsnRe, "<SSN>"),
      Ipv4Re, "<IP>")

  // ---------------------------------------------------------------------
  // C4-style line-level cleaning (Raffel et al. 2020, "Exploring the
  // Limits of Transfer Learning with a Unified Text-to-Text
  // Transformer", §2.2) — the web-corpus heuristic the reference's
  // doc-level cleaner (cleaner.py) has no analogue for: rules apply to
  // individual LINES, and the page is then judged on what survived.
  //   - keep a line only if it ends in terminal punctuation,
  //   - has at least [[C4MinLineWords]] words,
  //   - and does not mention "javascript" (boilerplate marker);
  //   - the page survives only with >= [[C4MinKeptLines]] kept lines and
  //     no "lorem ipsum" / "{" anywhere (template/code page markers).
  // ---------------------------------------------------------------------

  /** C4's "line ends in terminal punctuation" — trailing spaces allowed. */
  val C4TerminalRe = """[.!?"][ \t]*$"""
  val C4MinLineWords = 5
  val C4MinKeptLines = 3

  /** Scale shape: one narrow projection per doc — the line split, the
    * per-line filter, and the rejoin are all built-in higher-order
    * functions over the in-row line array (no explode, no shuffle), so
    * the whole pass pipelines inside the scan's codegen stage at any
    * corpus size. Kept lines are evaluated ONCE (Stage.once barriers the
    * filtered array against CollapseProject re-inlining it per use). */
  def c4LinesQuery(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"), col("text"),
        Stage.once(expr(
          s"""filter(split(text, '\\n'),
             |  l -> l rlike '${C4TerminalRe.replace("\\", "\\\\")}'
             |       AND size(filter(split(l, '[ \\t]+'), w -> w != '')) >= $C4MinLineWords
             |       AND NOT contains(lower(l), 'javascript'))""".stripMargin))
          .as("kept"))
      .select(
        col("doc_id"),
        expr("size(split(text, '\\n'))").as("n_lines"),
        expr("size(kept)").as("n_lines_kept"),
        array_join(col("kept"), "\n").as("text_c4"),
        (expr(s"size(kept) >= $C4MinKeptLines") &&
          !expr("contains(lower(text), 'lorem ipsum')") &&
          !expr("contains(text, '{')")).as("c4_keep"))

  // ---------------------------------------------------------------------
  // Registered queries
  // ---------------------------------------------------------------------

  /** Clean + per-doc stats (reference cleaner.py:146-155: CleaningStats).
    * The regex chain is barriered so text_clean and cleaned_length share
    * ONE evaluation — CollapseProject would otherwise inline it twice. */
  def cleanRegexQuery(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"), col("text"),
        Stage.once(cleanText(col("text"))).as("text_clean"))
      .select(
        col("doc_id"),
        col("text_clean"),
        regexp_count(col("text"), lit(UrlRe)).as("urls_removed"),
        regexp_count(col("text"), lit(EmailRe)).as("emails_removed"),
        length(col("text")).as("original_length"),
        length(col("text_clean")).as("cleaned_length"))

  /** P2: drop docs whose cleaned text is shorter than minLen
    * (reference cleaner.py:157-159; config default 100). */
  def minLenFilterQuery(docs: DataFrame, minLen: Int = 100): DataFrame =
    docs.select(col("doc_id"), Stage.once(cleanText(col("text"))).as("text_clean"))
      .filter(length(col("text_clean")) >= minLen)
      .select(col("doc_id"), length(col("text_clean")).as("cleaned_length"))

  /** Corpus-level cleaning aggregates per source (reference A1/A2:
    * src/main.py:176,197-213) — map-side partial agg then single shuffle
    * on the low-cardinality `source` key. */
  def corpusStatsQuery(docs: DataFrame): DataFrame =
    docs.select(
        col("source"),
        octet_length(col("text")).as("bytes_in"),
        (length(col("text")) - length(cleanText(col("text")))).as("removed"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("bytes_in")).as("total_bytes"),
        sum(col("removed")).as("chars_removed"))

  /** PII scrub + per-doc counts — emits only docs that contained PII
    * (the audit list; the testdata corpus is clean, so the sf result is
    * legitimately empty and CleanSpec plants fixtures). A narrow
    * projection + filter over the scan. */
  def piiScrubQuery(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).as("n_emails"),
        regexp_count(col("text"), lit(PhoneRe)).as("n_phones"),
        regexp_count(col("text"), lit(SsnRe)).as("n_ssns"),
        regexp_count(col("text"), lit(Ipv4Re)).as("n_ips"),
        redactPii(col("text")).as("text_redacted"))
      .filter(col("n_emails") + col("n_phones") + col("n_ssns") + col("n_ips") > 0)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "clean_regex" -> ((s, d) => cleanRegexQuery(Tables.documents(s, d))),
    "clean_minlen_filter" -> ((s, d) => minLenFilterQuery(Tables.documents(s, d))),
    "clean_corpus_stats" -> ((s, d) => corpusStatsQuery(Tables.documents(s, d))),
    "clean_c4_lines" -> ((s, d) => c4LinesQuery(Tables.documents(s, d))),
    "clean_pii" -> ((s, d) => piiScrubQuery(Tables.documents(s, d))))

  /** Escape a regex for embedding in a single-quoted SQL literal. */
  private def q(re: String): String = re.replace("'", "''")

  /** DuckDB transliteration of [[cleanText]] over column `c` (shared with
    * the pipeline-summary oracle). */
  def cleanSqlD(c: String = "text"): String =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |  $c, '${q(UrlRe)}', ' ', 'g'),
       |  '${q(EmailRe)}', ' ', 'g'),
       |  '${q(CitationRe)}', '', 'g'),
       |  '${q(ControlRe)}', '', 'g'),
       |  '${q(SpacesRe)}', ' ', 'g'),
       |  '${q(NewlinesRe)}', e'\n\n', 'g'),
       |  '${q(EdgeWsRe)}', '', 'g')""".stripMargin

  /** DuckDB equivalents. NB: DuckDB regexp_replace is first-match-only
    * without the 'g' flag; every replace below passes it. */
  def oracles: Map[String, String] = {
    val cleanSql = cleanSqlD()
    Map(
      "clean_regex" ->
        s"""SELECT doc_id,
           |  $cleanSql AS text_clean,
           |  len(regexp_extract_all(text, '${q(UrlRe)}')) AS urls_removed,
           |  len(regexp_extract_all(text, '${q(EmailRe)}')) AS emails_removed,
           |  length(text) AS original_length,
           |  length($cleanSql) AS cleaned_length
           |FROM documents""".stripMargin,
      "clean_minlen_filter" ->
        s"""SELECT doc_id, length(text_clean) AS cleaned_length
           |FROM (SELECT doc_id, $cleanSql AS text_clean FROM documents)
           |WHERE length(text_clean) >= 100""".stripMargin,
      "clean_pii" ->
        s"""SELECT doc_id,
           |  len(regexp_extract_all(text, '${q(EmailRe)}')) AS n_emails,
           |  len(regexp_extract_all(text, '${q(PhoneRe)}')) AS n_phones,
           |  len(regexp_extract_all(text, '${q(SsnRe)}')) AS n_ssns,
           |  len(regexp_extract_all(text, '${q(Ipv4Re)}')) AS n_ips,
           |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           |    text, '${q(EmailRe)}', '<EMAIL>', 'g'),
           |    '${q(PhoneRe)}', '<PHONE>', 'g'),
           |    '${q(SsnRe)}', '<SSN>', 'g'),
           |    '${q(Ipv4Re)}', '<IP>', 'g') AS text_redacted
           |FROM documents
           |WHERE len(regexp_extract_all(text, '${q(EmailRe)}'))
           |    + len(regexp_extract_all(text, '${q(PhoneRe)}'))
           |    + len(regexp_extract_all(text, '${q(SsnRe)}'))
           |    + len(regexp_extract_all(text, '${q(Ipv4Re)}')) > 0""".stripMargin,
      "clean_c4_lines" ->
        s"""WITH k AS (
           |  SELECT doc_id, text,
           |         list_filter(string_split(text, chr(10)),
           |           l -> regexp_matches(l, '[.!?"][ \\t]*$$')
           |                AND len(list_filter(regexp_split_to_array(l, '[ \\t]+'),
           |                                    w -> w <> '')) >= $C4MinLineWords
           |                AND NOT contains(lower(l), 'javascript')) AS kept
           |  FROM documents)
           |SELECT doc_id,
           |  len(string_split(text, chr(10))) AS n_lines,
           |  len(kept) AS n_lines_kept,
           |  COALESCE(array_to_string(kept, chr(10)), '') AS text_c4,
           |  len(kept) >= $C4MinKeptLines
           |    AND NOT contains(lower(text), 'lorem ipsum')
           |    AND NOT contains(text, '{') AS c4_keep
           |FROM k""".stripMargin,
      "clean_corpus_stats" ->
        // CAST ... AS BIGINT: DuckDB sum(BIGINT) returns HUGEINT, which
        // pandas renders as float64 and the driver's value hash then
        // differs from Spark's int64 even when values are equal.
        s"""SELECT source,
           |  count(*) AS n_docs,
           |  CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
           |  CAST(sum(length(text) - length($cleanSql)) AS BIGINT) AS chars_removed
           |FROM documents GROUP BY source""".stripMargin)
  }
}
