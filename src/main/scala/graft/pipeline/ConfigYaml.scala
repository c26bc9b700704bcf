package graft.pipeline

import java.{util => ju}

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml

/** YAML config ingestion (reference: src/utils/config.py:12-125 over
  * configs/pipeline_config.yaml:1-98). A user holding the reference's own
  * YAML can run this engine unchanged: `Pipeline.GraftConfig.fromYaml`
  * parses it verbatim into the typed config tree.
  *
  * The dot-path accessor mirrors `Config.get('quality.min_words', 50)`
  * (config.py:54-70): missing keys fall back to the supplied default, and
  * every scalar is coerced through the JVM number tower (snakeyaml yields
  * Integer/Long/Double/Boolean/String/null). snakeyaml ships on the Spark
  * classpath, so no extra dependency.
  */
object ConfigYaml {

  /** Parsed YAML tree with config.py-style dot-path access. */
  final class Tree(private val root: Any) {

    /** config.py:54-70: walk nested maps; absent key → None. A key that
      * is present with an explicit `null` value also yields None (YAML
      * `max_articles: null`), matching Python's `dict.get` + None. */
    def get(path: String): Option[Any] = {
      var cur: Any = root
      path.split('.').foreach { k =>
        cur = cur match {
          case m: ju.Map[_, _] => m.asInstanceOf[ju.Map[String, Any]].get(k)
          case _ => null
        }
      }
      Option(cur)
    }

    def getString(path: String, default: String): String =
      get(path).map(_.toString).getOrElse(default)

    def getBoolean(path: String, default: Boolean): Boolean = get(path) match {
      case Some(b: java.lang.Boolean) => b.booleanValue
      case Some(s: String) => s.equalsIgnoreCase("true")
      case _ => default
    }

    def getInt(path: String, default: Int): Int = get(path) match {
      case Some(n: Number) => n.intValue
      case _ => default
    }

    def getLong(path: String, default: Long): Long = get(path) match {
      case Some(n: Number) => n.longValue
      case _ => default
    }

    def getDouble(path: String, default: Double): Double = get(path) match {
      case Some(n: Number) => n.doubleValue
      case _ => default
    }

    /** Present-and-non-null numeric, else None (nullable knobs like
      * ingestion.max_articles). */
    def getLongOpt(path: String): Option[Long] = get(path) match {
      case Some(n: Number) => Some(n.longValue)
      case _ => None
    }

    def getStrings(path: String, default: Seq[String]): Seq[String] = get(path) match {
      case Some(l: ju.List[_]) =>
        val b = Seq.newBuilder[String]
        l.forEach(v => b += String.valueOf(v))
        b.result()
      case _ => default
    }
  }

  def parse(yamlText: String): Tree = new Tree(new Yaml().load[Any](yamlText))

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** YAML keys the engine reads no value from, each with the value it
    * runs with (the MinHash shape is shared with the DuckDB oracle; the
    * file sinks keep Spark's natural splits, so any file-size cap warns). */
  private val Pinned: Seq[(String, String)] = Seq(
    "deduplication.num_permutations" -> MinHash.NumPerm.toString,
    "deduplication.threshold" -> MinHash.Threshold.toString,
    "deduplication.num_bands" -> MinHash.NumBands.toString,
    "deduplication.shingle_size" -> MinHash.ShingleSize.toString,
    "tokenization.special_tokens" -> Bpe.Specials.mkString("[", ", ", "]"),
    "tokenization.output_format" -> "jsonl", "output.include_metadata" -> "true",
    "output.max_file_size_mb" -> "Spark's natural file splits")

  /** `key = value (runs with pinned)` for each pinned key whose YAML
    * value differs; numbers compare by value, absent or null keys pass. */
  def unhonoured(t: Tree): Seq[String] = Pinned.flatMap { case (key, pinned) =>
    t.get(key).map {
      case n: Number => scala.util.Try(new java.math.BigDecimal(n.toString)
        .stripTrailingZeros.toPlainString).getOrElse(n.toString)
      case l: ju.List[_] => l.asScala.mkString("[", ", ", "]")
      case v => String.valueOf(v)
    }.filter(_ != pinned).map(v => s"$key = $v (runs with $pinned)")
  }

  /** configs/pipeline_config.yaml → GraftConfig. Key-by-key transliteration
    * of the YAML tree; every default below is the reference's own default
    * for the same key, so a partial YAML degrades exactly as the reference
    * does. The [[unhonoured]] keys are logged as one WARN, which is
    * dropped unless a SparkSession has started: until Spark installs its
    * log4j2 profile the root level is ERROR. A caller parsing before
    * that reads [[unhonoured]] itself. */
  def fromYaml(yamlText: String): Pipeline.GraftConfig = {
    val t = parse(yamlText)
    val ignored = unhonoured(t)
    if (ignored.nonEmpty)
      log.warn(s"config values the engine does not honour: ${ignored.mkString("; ")}")

    val cleaning = Pipeline.CleaningConfig(
      removeUrls = t.getBoolean("cleaning.remove_urls", default = true),
      removeEmails = t.getBoolean("cleaning.remove_emails", default = true),
      removeCitations = t.getBoolean("cleaning.remove_citations", default = true),
      normalizeUnicode = t.getBoolean("cleaning.normalize_unicode", default = true),
      normalizeWhitespace = t.getBoolean("cleaning.normalize_whitespace", default = true),
      fixMojibake = t.getBoolean("cleaning.fix_encoding", default = true),
      removeWikiMarkup = t.getBoolean("cleaning.remove_wiki_markup", default = false),
      removeHtmlTags = t.getBoolean("cleaning.remove_html_tags", default = false),
      minLengthChars = t.getInt("cleaning.min_length_chars", default = 100))

    val dedup = Pipeline.DedupConfig(
      enabled = t.getBoolean("deduplication.enabled", default = true),
      algorithm = t.getString("deduplication.algorithm", default = "minhash_lsh"))

    // quality_filter.py:94-137 constructor defaults
    val quality = Quality.Config(
      minWords = t.getInt("quality.min_words", default = 50),
      maxWords = t.getInt("quality.max_words", default = 100000),
      minAvgWordLen = t.getDouble("quality.min_avg_word_length", default = 3.0),
      maxAvgWordLen = t.getDouble("quality.max_avg_word_length", default = 15.0),
      minAlphaRatio = t.getDouble("quality.min_alphabetic_ratio", default = 0.7),
      maxDigitRatio = t.getDouble("quality.max_digit_ratio", default = 0.3),
      maxSymbolRatio = t.getDouble("quality.max_symbol_ratio", default = 0.2),
      allowedLanguages =
        if (!t.getBoolean("quality.language_filter.enabled", default = true)) Seq.empty
        else t.getStrings("quality.language_filter.allowed_languages", Seq("en")))

    val tokenization = Pipeline.TokenizationConfig(
      enabled = t.getBoolean("tokenization.enabled", default = true),
      algorithm = t.getString("tokenization.algorithm", default = "bpe"),
      vocabSize = t.getInt("tokenization.vocab_size", default = 32000),
      minFrequency = t.getLong("tokenization.min_frequency", default = 2L))

    val output = Pipeline.OutputConfig(
      format = t.getString("output.format", default = "parquet"),
      compression = t.getString("output.compression", default = "snappy"),
      // max_file_size_mb is listed in [[Pinned]]: 0 keeps Spark's natural splits.
      maxRecordsPerFile = 0L)

    Pipeline.GraftConfig(
      maxDocs = t.getLongOpt("ingestion.max_articles"),
      cleaning = cleaning,
      dedup = dedup,
      qualityEnabled = t.getBoolean("quality.enabled", default = true),
      quality = quality,
      tokenization = tokenization,
      output = output,
      metricsEnabled = t.getBoolean("metrics.enabled", default = true))
  }
}
