package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.pipeline.Clean.Rule
import graft.pipeline.Clean.Trigger.AnyOf

/** Wiki-markup removal (F9-F11; reference: src/ingestion/wiki_parser.py).
  *
  * The reference's primary path is mwparserfromhell (F9) with a regex
  * fallback (F10, wiki_parser.py:249-276) it treats as semantically
  * acceptable; there is no JVM mwparserfromhell, so the fallback chain IS
  * the canonical path here (SURVEY §2.3) — a direct transliteration of
  * the 8 re.subs, followed by the final tidy (F11, :278-293). Both run
  * as [[Clean.Rule]] lists on the clean kernel
  * ([[graft.functions.CleanExpression]]) — narrow, zero shuffles.
  *
  * Fidelity note: the reference applies wiki-link unwrapping ([[x|y]]→y)
  * BEFORE the category rule, so `[[Category:..]]` is already unwrapped
  * and the category regex never fires; we keep the same (dead) order.
  */
object Wiki {

  /** F9 fidelity: mwparserfromhell removes NESTED templates
    * (`{{a|{{b}}}}`, wiki_parser.py:225-247), which one pass of the
    * innermost-template regex cannot — `[^}]+` stops at the inner `}}`.
    * Iterating the SAME rule [[TemplateDepth]] times strips nest levels
    * innermost-out; it is a fixed expansion (no loop), so the DuckDB
    * oracle states it identically, and passes beyond the actual nesting
    * depth are no-ops (non-nested corpora pay one regex scan each). */
  val TemplateDepth = 5

  /** F10: the 8-step regex fallback, in reference order (the template
    * rule iterated per F9 above). `$1` keeps capture group 1. */
  val MarkupRules: Seq[Rule] =
    Seq.fill(TemplateDepth)(Rule("""\{\{[^{}]+\}\}""", "", AnyOf("{{"))) ++ // templates, innermost-out
    Seq(
      Rule("""(?s)<ref[^>]*>.*?</ref>""", "", AnyOf("<")),           // paired refs (DOTALL)
      Rule("""<ref[^/>]*/>""", "", AnyOf("<")),                      // self-closing refs
      Rule("""<[^>]+>""", "", AnyOf("<")),                           // html tags
      Rule("""\[\[(?:[^|\]]*\|)?([^\]]+)\]\]""", "$1", AnyOf("[[")),  // wiki links, keep label
      Rule("""\[https?://[^\]]+\]""", "", AnyOf("[http")),          // external links
      Rule("""\[\[Category:[^\]]+\]\]""", "", AnyOf("[[")),          // categories (dead, see note)
      Rule("""'{2,5}""", "", AnyOf("''")),                           // bold/italic
      // headings: reference uses `^=+\s*([^=]+)\s*=+$` (MULTILINE); \s is
      // narrowed to [ \t] + non-greedy body so Java and RE2 can't disagree
      // about \n inside the class under (?m)
      Rule("""(?m)^=+[ \t]*([^=]+?)[ \t]*=+$""", "$1", AnyOf("=")))

  /** F11: final tidy (wiki_parser.py:278-293). */
  val TidyRules: Seq[Rule] = Seq(
    Clean.NewlinesRule,
    Clean.SpacesRule,
    Rule("""\(\s*\)""", "", AnyOf("(")),
    Rule("""\s+([.,;:!?])""", "$1", AnyOf(".", ",", ";", ":", "!", "?")),
    Clean.EdgeWsRule)

  def cleanWiki(c: Column): Column = graft.functions.CleanChain(c, MarkupRules ++ TidyRules)

  def cleanWikiQuery(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      cleanWiki(col("text")).as("text_clean"),
      length(col("text")).as("original_length"),
      length(cleanWiki(col("text"))).as("cleaned_length"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "clean_wiki" -> ((s, d) => cleanWikiQuery(Tables.documents(s, d))))

  /** DuckDB transliteration — same chain; RE2 takes `(?s)`/`(?m)` inline
    * and `\1` group references. */
  def cleanWikiSqlD(c: String = "text"): String =
    (MarkupRules ++ TidyRules).foldLeft(c) { case (acc, Rule(re, repl, _)) =>
      val r = re.replace("'", "''")
      val p = if (repl == "\n\n") "e'\\n\\n'" else s"'${repl.replace("$1", "\\1")}'"
      s"regexp_replace($acc, '$r', $p, 'g')"
    }

  def oracles: Map[String, String] = Map(
    "clean_wiki" ->
      s"""SELECT doc_id,
         |  ${cleanWikiSqlD()} AS text_clean,
         |  length(text) AS original_length,
         |  length(${cleanWikiSqlD()}) AS cleaned_length
         |FROM documents""".stripMargin)
}
