package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Config tree + end-to-end orchestrator (reference: src/main.py:44-150
  * `LLMDataPipeline`, configs/pipeline_config.yaml, src/utils/config.py).
  *
  * The reference materializes a Python list between stages; here the run
  * is a few lazy plans joined by persists at the multi-consumer frames
  * (see [[run]]) — ingest and clean fuse into one codegen pass over the
  * scan, dedup contributes the wide exchanges, and the sinks are
  * distributed writers. Stage counters come from `observe` (no extra
  * pass), not driver-side len() calls.
  */
object Pipeline {

  /** S3 source registry (reference download_wiki.py:22-25,160-168:
    * name → dump URL, raw URLs pass through). Download itself is out of
    * engine scope (SURVEY §2.1) — data arrives as files; this resolves
    * the reference's `ingestion.source` config key. */
  val SourceRegistry: Map[String, String] = Map(
    "simplewiki" -> "https://dumps.wikimedia.org/simplewiki/latest/simplewiki-latest-pages-articles.xml.bz2",
    "enwiki" -> "https://dumps.wikimedia.org/enwiki/latest/enwiki-latest-pages-articles.xml.bz2")

  def resolveSource(nameOrUrl: String): String =
    SourceRegistry.getOrElse(nameOrUrl, nameOrUrl)

  /** pipeline_config.yaml:22-30 + cleaner.py:62-90 constructor flags.
    * `removeWikiMarkup`/`removeHtmlTags` (yaml-only keys, consumed by the
    * reference's wiki parse path) gate the [[Wiki]] regex-clean step and
    * default OFF here because the generic document pipeline is not wiki
    * text; `fromYaml` turns them on when the file says so. */
  final case class CleaningConfig(
      removeUrls: Boolean = true,
      removeEmails: Boolean = true,
      removeCitations: Boolean = true,
      normalizeUnicode: Boolean = true,
      normalizeWhitespace: Boolean = true,
      fixMojibake: Boolean = true, // cleaner.py fix_encoding (ftfy)
      removeWikiMarkup: Boolean = false,
      removeHtmlTags: Boolean = false,
      minLengthChars: Int = 100)

  object CleaningConfig {
    /** The regex-only chain of [[Clean.cleanText]] (no mojibake fix, no
      * NFKC), the chain the DuckDB oracle can reproduce. */
    def regexOnly(minLengthChars: Int): CleaningConfig =
      CleaningConfig(normalizeUnicode = false, fixMojibake = false,
        minLengthChars = minLengthChars)
  }

  /** pipeline_config.yaml:32-39. algorithm: exact_hash | minhash_lsh |
    * simhash. The LSH shape is pinned, not configured: 128 permutations,
    * 16x8 bands, 5-gram shingles and threshold 0.8, because the banded
    * signatures are shared bit-for-bit with the DuckDB oracle (see
    * [[MinHash]]); [[ConfigYaml.fromYaml]] warns about a YAML that asks
    * for another shape. */
  final case class DedupConfig(
      enabled: Boolean = true,
      algorithm: String = "minhash_lsh")

  /** pipeline_config.yaml:60-70. algorithm: bpe | wordpiece | unigram.
    * The special tokens are [[Bpe.Specials]] and the tokens sink writes
    * JSONL. */
  final case class TokenizationConfig(
      enabled: Boolean = true,
      algorithm: String = "bpe",
      vocabSize: Int = 32000,
      minFrequency: Long = 2L)

  /** pipeline_config.yaml:72-78. The documents sink writes every column. */
  final case class OutputConfig(
      format: String = "parquet", // parquet | jsonl
      compression: String = "snappy", // snappy | gzip | none
      maxRecordsPerFile: Long = 0L)

  final case class GraftConfig(
      maxDocs: Option[Long] = None, // ingestion.max_articles (O3/P5)
      cleaning: CleaningConfig = CleaningConfig(),
      dedup: DedupConfig = DedupConfig(),
      qualityEnabled: Boolean = true,
      quality: Quality.Config = Quality.Config.reference,
      tokenization: TokenizationConfig = TokenizationConfig(),
      output: OutputConfig = OutputConfig(),
      metricsEnabled: Boolean = true) // metrics.enabled (yaml:88-92)

  object GraftConfig {
    /** Parse the reference's own pipeline_config.yaml verbatim
      * (src/utils/config.py:12-125 tree). */
    def fromYaml(yamlText: String): GraftConfig = ConfigYaml.fromYaml(yamlText)
    def fromYamlFile(path: String): GraftConfig =
      fromYaml(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Toggleable clean chain (cleaner.py:62-90 constructor flags) as one
    * clean kernel ([[graft.functions.CleanExpression]]): the enabled
    * mojibake and NFKC steps, then the enabled regex rules in the
    * reference's order, all on one decoded `String` per document. The
    * kernel is wrapped in [[Stage.once]]: the run filters on the cleaned
    * length right after, and without the barrier `PushDownPredicates`
    * copies the kernel into a scan-level Filter, cleaning every row
    * twice. */
  def cleanColumn(cfg: CleaningConfig): org.apache.spark.sql.Column = {
    val rules =
      (if (cfg.removeWikiMarkup || cfg.removeHtmlTags) Wiki.MarkupRules else Nil) ++
        Seq(cfg.removeUrls -> Clean.UrlRule, cfg.removeEmails -> Clean.EmailRule,
          cfg.removeCitations -> Clean.CitationRule, true -> Clean.ControlRule)
          .collect { case (true, r) => r } ++
        (if (cfg.normalizeWhitespace) Clean.WhitespaceRules else Nil)
    Stage.once(graft.functions.CleanChain(col("text"), rules,
      fixText = cfg.fixMojibake, nfkc = cfg.normalizeUnicode))
  }

  /** The names each config switch accepts; [[run]] rejects any other
    * before its first job. The tokenizer names are the keys of
    * [[WordEncoder.Trainers]]. The codec set is Spark's Parquet codecs,
    * matched case-insensitively as Spark's writer does. */
  private val DedupAlgorithms: Seq[String] = Seq("minhash_lsh", "exact_hash", "simhash")
  private val OutputFormats: Seq[String] = Seq("parquet", "jsonl")
  private val ParquetCodecs: Seq[String] =
    org.apache.spark.sql.execution.datasources.parquet.ParquetCompressionCodec.values()
      .map(_.name.toLowerCase(java.util.Locale.ROOT)).toSeq

  private def requireName(key: String, value: String, accepted: Seq[String]): Unit =
    require(accepted.contains(value),
      s"$key = '$value' is not one of: ${accepted.mkString(", ")}")

  /** Clean stage: the clean kernel ([[cleanColumn]]), then the
    * reference's min-length filter on the cleaned text. */
  def cleanStage(df: DataFrame, cfg: CleaningConfig): DataFrame =
    df.withColumn("text", cleanColumn(cfg))
      .filter(length(col("text")) >= cfg.minLengthChars)

  def dedupStage(df: DataFrame, cfg: DedupConfig): DataFrame =
    if (!cfg.enabled) df
    else cfg.algorithm match {
      case "exact_hash" => Dedup.exactDedup(df).drop("content_hash")
      case "simhash" =>
        df.join(NearDup.simhashDuplicateOf(df),
          df("doc_id") === col("duplicate_id"), "left_anti")
      case "minhash_lsh" => MinHash.dedup(df)
    }

  /** Quality stage: the documents whose cascade reason is `passed`, and
    * an observation with one `count_if` per [[Quality.Reasons]] entry. */
  def qualityStage(df: DataFrame, cfg: Quality.Config): (DataFrame, Observation) = {
    val obs = Observation("reasons")
    val counts = Quality.Reasons.map(r => count_if(col("reason") === r).as(r))
    val reasoned = Quality.withReason(df, cfg).observe(obs, counts.head, counts.tail: _*)
    (reasoned.filter(col("reason") === "passed").drop("reason"), obs)
  }

  /** Tokenize stage: train the [[WordEncoder.Trainers]] model on the
    * documents' word frequencies and encode each document; persisted,
    * because both sinks read it. */
  def tokenizeStage(docs: DataFrame, cfg: TokenizationConfig): DataFrame = {
    val model = WordEncoder.train(cfg.algorithm, Bpe.wordFrequenciesWithCoverage(docs),
      cfg.vocabSize, cfg.minFrequency)
    graft.CacheScope.persist(docs.withColumn("tokens", udf(model.encode _).apply(col("text")))
      .withColumn("token_count", size(col("tokens")).cast("long")))
  }

  /** Full run: returns the one-row summary after writing outputs.
    * Mirrors src/main.py:80-150 stage order: ingest, [[cleanStage]],
    * [[dedupStage]], [[qualityStage]], [[tokenizeStage]], then the sinks.
    * An unknown algorithm, output format or codec name fails before the
    * first job.
    *
    * Every stage boundary carries an `observe` counter, so stage counts,
    * the filter-reason histogram and the summary (written on the driver)
    * cost no extra pass and no job: they resolve as a side effect of the
    * actions the run performs anyway.
    *
    * Each layer's work runs once per document. Where that is arranged:
    *  - clean: [[cleanColumn]] is a [[Stage.once]] barrier, so the
    *    min-length filter reads the cleaned column instead of re-running
    *    the chain below the projection;
    *  - dedup: [[MinHash.dedup]] persists its input (the cleaned corpus
    *    feeds both the signature pass and the survivors' anti-join) and
    *    the identical-signature collapse (its probes and the band/verify
    *    chain all read it);
    *  - quality: the passed documents feed the tokenizer's lexicon and
    *    the encode, so they are persisted when tokenization is on;
    *  - tokenize: the encoded frame feeds both sinks, so it is persisted.
    * The run is a [[graft.CacheScope.within]] scope: every frame it
    * persists, those four included, is released when it returns or
    * throws. The returned summary is a local frame. When metrics are
    * enabled, a `pipeline_metrics.json` report (utils/metrics.py:138-170
    * shape) lands next to the outputs. */
  def run(docs0: DataFrame, cfg: GraftConfig, outDir: String): DataFrame = graft.CacheScope.within {
    requireName("deduplication.algorithm", cfg.dedup.algorithm, DedupAlgorithms)
    requireName("tokenization.algorithm", cfg.tokenization.algorithm,
      WordEncoder.Trainers.keys.toSeq)
    requireName("output.format", cfg.output.format, OutputFormats)
    requireName("output.compression",
      cfg.output.compression.toLowerCase(java.util.Locale.ROOT), ParquetCodecs)
    def nowS: Double = System.currentTimeMillis() / 1000.0
    val tStart = nowS
    val docs = cfg.maxDocs.fold(docs0) { n =>
      require(n >= 0 && n <= Int.MaxValue,
        s"ingestion.max_articles = $n is outside [0, ${Int.MaxValue}]")
      docs0.limit(n.toInt)
    }

    val (ingested, ingestObs) = Sinks.observeStage(docs, "ingest")
    val cleaned = cleanStage(ingested.withColumn("original_length", length(col("text"))),
      cfg.cleaning).withColumn("cleaned_length", length(col("text")))
    val (cleanedObs, cleanObs) = Sinks.observeStage(cleaned, "clean",
      sum(col("original_length") - col("cleaned_length")).as("chars_removed"))
    // The fused window opens here: MinHash dedup runs its probe jobs
    // (which also build the cleaned-corpus and collapse caches) while
    // the stage is being planned.
    val tFusedStart = nowS
    val (deduped, dedupObs) = Sinks.observeStage(dedupStage(cleanedObs, cfg.dedup), "dedup")
    val quality = Option.when(cfg.qualityEnabled)(qualityStage(deduped, cfg.quality))
    val passed0 = quality.fold(deduped)(_._1)
    val (passed, qualityObs) = Sinks.observeStage(
      if (cfg.tokenization.enabled) graft.CacheScope.persist(passed0) else passed0, "quality")

    val tTrainStart = nowS
    val out =
      if (cfg.tokenization.enabled) tokenizeStage(passed, cfg.tokenization)
      else passed.withColumn("token_count", lit(null: java.lang.Long))
    val tTrainEnd = nowS

    // S6/S7 final corpus + S8 tokens
    val (outObsDf, tokenObs) = Sinks.observeStage(out, "tokenize",
      sum(col("token_count")).as("total_tokens"))
    val docsOut = outObsDf.drop("tokens")
    cfg.output.format match {
      case "jsonl" => Sinks.writeDocsJsonl(docsOut, s"$outDir/documents")
      case "parquet" => Sinks.writeParquet(docsOut, s"$outDir/documents",
        cfg.output.maxRecordsPerFile, cfg.output.compression)
    }
    val tWriteEnd = nowS
    if (cfg.tokenization.enabled)
      Sinks.writeTokensJsonl(outObsDf.select("tokens"), s"$outDir/tokens")

    // S9: the reference's summary fields (src/main.py:407-420) from the
    // resolved observations, as the returned one-row frame and as
    // summary.json in Spark's JSON row shape (no spaces, nulls left out).
    import Sinks.obsLong
    val fusedObs = Seq("ingest" -> ingestObs, "clean" -> cleanObs, "dedup" -> dedupObs,
      "quality" -> qualityObs)
    val rows = fusedObs.map { case (_, o) => obsLong(o, "rows") }
    val totalTokens = Option.when(cfg.tokenization.enabled)(obsLong(tokenObs, "total_tokens"))
    val summaryFields: Seq[(String, Option[Long])] = Seq(
      "docs_ingested" -> Some(rows(0)), "docs_after_clean" -> Some(rows(1)),
      "chars_removed" -> Some(obsLong(cleanObs, "chars_removed")),
      "docs_after_dedup" -> Some(rows(2)), "docs_passed_quality" -> Some(rows(3)),
      "total_tokens" -> totalTokens)
    val summary = docs0.sparkSession.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(summaryFields.map(_._2.map(Long.box).orNull))),
      StructType(summaryFields.map(f => StructField(f._1, LongType, nullable = true))))
    Metrics.save(s"$outDir/summary.json", summaryFields
      .collect { case (k, Some(n)) => s"${graft.Json.quote(k)}:$n" }.mkString("{", ",", "}"))

    if (cfg.metricsEnabled) {
      // filter-reason histogram (metrics.py add_filter_reason) from the
      // quality stage's observation: reasons that caught a document, most
      // frequent first, ties by name.
      val filterReasons = quality.toSeq.flatMap { case (_, o) =>
        Quality.Reasons.map(r => r -> obsLong(o, r)).filter(_._2 > 0)
          .sortBy { case (r, n) => (-n, r) }
      }
      val tEnd = nowS
      // The fused corpus stages share one window: from the dedup stage's
      // planning probes to the end of the action that first materialized
      // the quality frame — the tokenizer's word-frequency aggregation
      // when training is enabled, the output write otherwise (see
      // Metrics scaladoc). A stage's input is the previous stage's output.
      val fEnd = if (cfg.tokenization.enabled) tTrainEnd else tWriteEnd
      val stages = fusedObs.zip(rows.head +: rows.init).zip(rows).map {
        case (((name, o), in), out) => StageReport(name, tFusedStart, fEnd, in, out, in - out,
          0, obsLong(o, "text_bytes"), Map("evaluation" -> "fused"))
      } :+ StageReport("tokenize", tTrainStart, tWriteEnd, rows(3), rows(3), 0, 0,
        obsLong(tokenObs, "text_bytes"),
        Map("algorithm" -> cfg.tokenization.algorithm,
          "enabled" -> cfg.tokenization.enabled.toString,
          "total_tokens" -> totalTokens.fold("null")(_.toString)))
      Metrics.save(s"$outDir/pipeline_metrics.json",
        Metrics.reportJson(tEnd - tStart, stages, filterReasons,
          java.time.Instant.now().toString))
    }
    summary
  }
}
