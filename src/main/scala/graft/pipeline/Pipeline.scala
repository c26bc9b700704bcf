package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** pipeline_config.yaml:32-39. algorithm: exact_hash | minhash_lsh |
    * simhash. The LSH shape knobs (num_permutations/threshold/num_bands/
    * shingle_size) are parsed and validated; the engine's MinHash
    * instantiation pins (128 perms, 16x8 bands, 5-gram shingles) — the
    * reference defaults — because the banded signatures are shared
    * bit-for-bit with the DuckDB oracle (see [[MinHash]]). */
  final case class DedupConfig(
      enabled: Boolean = true,
      algorithm: String = "minhash_lsh",
      numPermutations: Int = 128,
      threshold: Double = 0.8,
      numBands: Option[Int] = None, // null = auto-calculated
      shingleSize: Int = 5)

  /** pipeline_config.yaml:60-70. algorithm: bpe | wordpiece | unigram */
  final case class TokenizationConfig(
      enabled: Boolean = true,
      algorithm: String = "bpe",
      vocabSize: Int = 32000,
      minFrequency: Long = 2L,
      specialTokens: Seq[String] = Seq("<pad>", "<unk>", "<bos>", "<eos>"),
      outputFormat: String = "jsonl")

  /** pipeline_config.yaml:72-78 */
  final case class OutputConfig(
      format: String = "parquet", // parquet | jsonl
      compression: String = "snappy", // snappy | gzip | none
      maxRecordsPerFile: Long = 0L,
      includeMetadata: Boolean = true)

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

  /** Toggleable clean chain (cleaner.py:62-90 constructor flags). The
    * UDF-backed steps (mojibake, NFKC) only enter the plan when enabled,
    * keeping the default chain fully codegen'd. The chain is wrapped in
    * [[Stage.once]]: the run filters on the cleaned length right after,
    * and without the barrier `PushDownPredicates` copies the whole chain
    * (two UDFs + the regex passes) into a scan-level Filter, cleaning
    * every row twice. */
  def cleanColumn(cfg: CleaningConfig): org.apache.spark.sql.Column = {
    var c = col("text")
    if (cfg.fixMojibake) c = CleanUdfs.fixMojibakeCol(c)
    if (cfg.normalizeUnicode) c = CleanUdfs.nfkcCol(c)
    if (cfg.removeWikiMarkup || cfg.removeHtmlTags) c = Wiki.regexClean(c)
    if (cfg.removeUrls) c = Clean.stripUrls(c)
    if (cfg.removeEmails) c = Clean.stripEmails(c)
    if (cfg.removeCitations) c = Clean.stripCitations(c)
    c = Clean.stripControl(c)
    if (cfg.normalizeWhitespace) c = Clean.normalizeWhitespace(c)
    Stage.once(c)
  }

  def dedupStage(df: DataFrame, cfg: DedupConfig): DataFrame =
    if (!cfg.enabled) df
    else cfg.algorithm match {
      case "exact_hash" => Dedup.exactDedup(df).drop("content_hash")
      case "simhash" =>
        df.join(NearDup.simhashDuplicateOf(df),
          df("doc_id") === col("duplicate_id"), "left_anti")
      case _ => MinHash.dedup(df) // minhash_lsh default
    }

  /** Full run: returns the one-row summary after writing outputs.
    * Mirrors src/main.py:80-150 stage order.
    *
    * Every stage boundary carries an `observe` counter, so stage counts
    * (and the run summary built from them) cost ZERO extra passes — they
    * resolve as a side effect of the actions the run performs anyway.
    *
    * Each layer's work runs once per document. Where that is arranged:
    *  - clean: [[cleanColumn]] is a [[Stage.once]] barrier, so the
    *    min-length filter reads the cleaned column instead of re-running
    *    the chain below the projection;
    *  - dedup: [[MinHash.dedup]] persists its input (the cleaned corpus
    *    feeds both the signature pass and the survivors' anti-join) and
    *    the identical-signature collapse (its probes and the band/verify
    *    chain all read it) through [[graft.CacheScope]] — released at the
    *    caller's `CacheScope.drain()`;
    *  - quality: the reasoned frame feeds the passed docs, the tokenizer
    *    training and the filter-reason histogram, so it is persisted;
    *  - tokenize: the encoded frame feeds both sinks, so it is persisted.
    * The last two are released before the run returns. When metrics are
    * enabled, a `pipeline_metrics.json` report (utils/metrics.py:138-170
    * shape) lands next to the outputs. */
  def run(docs0: DataFrame, cfg: GraftConfig, outDir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = docs0.sparkSession
    def nowS: Double = System.currentTimeMillis() / 1000.0
    val tStart = nowS
    val docs = cfg.maxDocs.fold(docs0) { n =>
      require(n >= 0 && n <= Int.MaxValue,
        s"ingestion.max_articles = $n is outside [0, ${Int.MaxValue}]")
      docs0.limit(n.toInt)
    }

    val (ingested, ingestObs) = Sinks.observeStage(docs, "ingest")
    val cleaned = ingested
      .withColumn("original_length", length(col("text")))
      .withColumn("text", cleanColumn(cfg.cleaning))
      .filter(length(col("text")) >= cfg.cleaning.minLengthChars)
      .withColumn("cleaned_length", length(col("text")))
    val (cleanedObs, cleanObs) = Sinks.observeStage(cleaned, "clean",
      sum(col("original_length") - col("cleaned_length")).as("chars_removed"))
    // The fused window opens here: MinHash dedup runs its probe jobs
    // (which also build the cleaned-corpus and collapse caches) while
    // the stage is being planned.
    val tFusedStart = nowS
    val (deduped, dedupObs) = Sinks.observeStage(dedupStage(cleanedObs, cfg.dedup), "dedup")
    // reason column computed once, persisted: feeds the passed-docs branch
    // AND the filter-reason histogram without re-running clean/dedup.
    val reasoned =
      if (cfg.qualityEnabled)
        Some(Quality.withReason(deduped, cfg.quality).persist(StorageLevel.MEMORY_AND_DISK))
      else None
    val passed0 = reasoned.fold(deduped)(_.filter(col("reason") === "passed").drop("reason"))
    val (passed, qualityObs) = Sinks.observeStage(passed0, "quality")

    val tTrainStart = nowS
    // Encoded frame, persisted: both sinks read it, and the encode UDF
    // would otherwise run once per sink.
    val tokenized =
      if (!cfg.tokenization.enabled) None
      else Some {
        // tokenization.algorithm selects the trainer; all three models
        // share the (train on driver-merged word frequencies, distributed
        // encode UDF) contract — tokenizer.py:58-133's algorithm switch.
        val freqs = Bpe.wordFrequencies(passed)
        val enc: String => Array[Int] = cfg.tokenization.algorithm match {
          case "unigram" =>
            val m = Unigram.train(freqs, cfg.tokenization.vocabSize); m.encode
          case "wordpiece" =>
            val m = WordPiece.train(
              freqs, cfg.tokenization.vocabSize, cfg.tokenization.minFrequency)
            m.encode
          case _ => // bpe default
            val m = Bpe.train(
              freqs, cfg.tokenization.vocabSize, cfg.tokenization.minFrequency)
            m.encode
        }
        val encUdf = udf(enc)
        passed.withColumn("tokens", encUdf(col("text")))
          .withColumn("token_count", size(col("tokens")).cast("long"))
          .persist(StorageLevel.MEMORY_AND_DISK)
      }
    val out = tokenized.getOrElse(
      passed.withColumn("token_count", lit(null: java.lang.Long)))
    val tTrainEnd = nowS

    // S6/S7 final corpus + S8 tokens
    val (outObsDf, tokenObs) = Sinks.observeStage(out, "tokenize",
      sum(col("token_count")).as("total_tokens"))
    val docsOut = outObsDf.drop("tokens")
    cfg.output.format match {
      case "jsonl" => Sinks.writeDocsJsonl(docsOut, s"$outDir/documents")
      case _ => Sinks.writeParquet(docsOut, s"$outDir/documents",
        cfg.output.maxRecordsPerFile, cfg.output.compression)
    }
    val tWriteEnd = nowS
    if (cfg.tokenization.enabled)
      Sinks.writeTokensJsonl(outObsDf.select("tokens"), s"$outDir/tokens")

    // S9: one-row summary straight from the resolved observations — the
    // reference's summary fields (src/main.py:407-420) with no re-scan.
    import Sinks.obsLong
    val totalTokens: java.lang.Long =
      if (cfg.tokenization.enabled) java.lang.Long.valueOf(obsLong(tokenObs, "total_tokens"))
      else null
    val summaryRow = org.apache.spark.sql.Row(
      obsLong(ingestObs, "rows"), obsLong(cleanObs, "rows"),
      obsLong(cleanObs, "chars_removed"), obsLong(dedupObs, "rows"),
      obsLong(qualityObs, "rows"), totalTokens)
    val summarySchema = org.apache.spark.sql.types.StructType(
      Seq("docs_ingested", "docs_after_clean", "chars_removed",
        "docs_after_dedup", "docs_passed_quality", "total_tokens")
        .map(org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.LongType, nullable = true)))
    val summary = spark.createDataFrame(
      java.util.Collections.singletonList(summaryRow), summarySchema)
    Sinks.writeSummaryJson(summary, s"$outDir/summary.json")

    if (cfg.metricsEnabled) {
      // filter-reason histogram (metrics.py add_filter_reason) from the
      // persisted reasoned frame — <= 12 rows collected.
      val filterReasons = reasoned.toSeq.flatMap { r =>
        r.filter(col("reason") =!= "passed")
          .groupBy("reason").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("reason"))
          .collect().map(row => row.getString(0) -> row.getLong(1))
      }
      val tEnd = nowS
      // The fused corpus stages share one window: from the dedup stage's
      // planning probes to the end of the action that first materialized
      // the quality frame — the tokenizer's word-frequency aggregation
      // when training is enabled, the output write otherwise (see
      // Metrics scaladoc).
      val fEnd = if (cfg.tokenization.enabled) tTrainEnd else tWriteEnd
      val fused = Map("evaluation" -> "fused")
      val inRows = obsLong(ingestObs, "rows")
      val cleanRows = obsLong(cleanObs, "rows")
      val dedupRows = obsLong(dedupObs, "rows")
      val passRows = obsLong(qualityObs, "rows")
      val stages = Seq(
        StageReport("ingest", tFusedStart, fEnd, inRows, inRows, 0, 0,
          obsLong(ingestObs, "text_bytes"), fused),
        StageReport("clean", tFusedStart, fEnd, inRows, cleanRows, inRows - cleanRows, 0,
          obsLong(cleanObs, "text_bytes"), fused),
        StageReport("dedup", tFusedStart, fEnd, cleanRows, dedupRows, cleanRows - dedupRows, 0,
          obsLong(dedupObs, "text_bytes"), fused),
        StageReport("quality", tFusedStart, fEnd, dedupRows, passRows, dedupRows - passRows, 0,
          obsLong(qualityObs, "text_bytes"), fused),
        StageReport("tokenize", tTrainStart, tWriteEnd, passRows, passRows, 0, 0,
          obsLong(tokenObs, "text_bytes"),
          Map("algorithm" -> cfg.tokenization.algorithm,
            "enabled" -> cfg.tokenization.enabled.toString,
            "total_tokens" -> String.valueOf(totalTokens))))
      Metrics.save(s"$outDir/pipeline_metrics.json",
        Metrics.reportJson(tEnd - tStart, stages, filterReasons,
          java.time.Instant.now().toString))
    }
    reasoned.foreach(_.unpersist())
    tokenized.foreach(_.unpersist())
    summary
  }
}
