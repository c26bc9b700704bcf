package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MediaWiki dump ingestion (S4/S5; reference: src/ingestion/
  * wiki_parser.py:101-204 — ET.iterparse streaming with O(1) memory).
  *
  * Distributed equivalent: read the dump as text records delimited by
  * `</page>` (`lineSep` splitting is handled by Hadoop's record reader,
  * so a single multi-GB dump file still splits across executors at block
  * boundaries — the analogue of the reference's bounded-memory streaming
  * scan), then extract fields with codegen'd `regexp_extract` and apply
  * the reference's row filters next to the scan so Catalyst prunes early:
  *
  *   - namespace != 0 dropped (wiki_parser.py:153-155)
  *   - redirects dropped (:157-167)
  *   - missing/empty text dropped (:169-184)
  *   - len(text.strip()) < 50 dropped (:194-196)
  *
  * Compressed dumps: `spark.read.text("dump.xml.bz2")` decompresses
  * natively via the Hadoop codec (S2, download_wiki.py:84-141 — no
  * explicit operator needed); .bz2 is block-splittable, .gz is not.
  */
object WikiXml {

  val MinTextChars = 50

  /** Minimal XML entity decode (ET does this implicitly). `&amp;` LAST so
    * double-escaped entities decode one level, like a real XML parser. */
  def xmlUnescape(c: Column): Column = {
    val steps = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&amp;" -> "&")
    steps.foldLeft(c) { case (acc, (e, v)) => regexp_replace(acc, e, v) }
  }

  /** Raw page fragments: one row per `<page>` element. */
  def pages(spark: SparkSession, path: String): DataFrame =
    spark.read.option("lineSep", "</page>").text(path)
      .filter(col("value").contains("<page>"))

  /** Parsed + filtered articles (WikiArticle shape, wiki_parser.py:21-44:
    * title, page_id, namespace, text + derived word/char counts).
    * `maxArticles` is the O3/P5 ingest cap (wiki_parser.py:122-124). */
  def articles(spark: SparkSession, path: String, maxArticles: Option[Long] = None): DataFrame = {
    val p = pages(spark, path)
      .select(
        xmlUnescape(regexp_extract(col("value"), "<title>([^<]*)</title>", 1)).as("title"),
        regexp_extract(col("value"), "<ns>(\\d+)</ns>", 1).cast("int").as("namespace"),
        // first <id> is the page id; the revision's <id> comes later
        regexp_extract(col("value"), "<id>(\\d+)</id>", 1).cast("long").as("page_id"),
        regexp_extract(col("value"), "<redirect[^>]*title=\"([^\"]*)\"", 1).as("redirect"),
        xmlUnescape(regexp_extract(col("value"), "(?s)<text[^>]*>(.*?)</text>", 1)).as("text"))
    val filtered = p.filter(col("namespace") === 0)
      .filter(col("redirect") === "")
      .filter(length(regexp_replace(col("text"), """^\s+|\s+$""", "")) >= MinTextChars)
      .select(
        col("page_id"), col("title"), col("namespace"), col("text"),
        regexp_count(col("text"), lit("""\S+""")).as("word_count"),
        length(col("text")).as("char_count"))
    maxArticles.fold(filtered) { n =>
      require(n >= 0 && n <= Int.MaxValue,
        s"ingestion.max_articles = $n is outside [0, ${Int.MaxValue}]")
      filtered.limit(n.toInt)
    }
  }
}
