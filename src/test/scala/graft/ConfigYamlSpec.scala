package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.{ConfigYaml, Pipeline}
import org.scalatest.funsuite.AnyFunSuite

/** YAML config ingestion (reference src/utils/config.py + configs/
  * pipeline_config.yaml). No SparkSession needed — pure parsing. */
class ConfigYamlSpec extends AnyFunSuite {

  private val referenceYaml = "/root/reference/configs/pipeline_config.yaml"

  test("parses the reference's own pipeline_config.yaml verbatim") {
    assume(Files.exists(Paths.get(referenceYaml)))
    val cfg = Pipeline.GraftConfig.fromYamlFile(referenceYaml)

    // ingestion (yaml:14-19): max_articles: null → no cap
    assert(cfg.maxDocs.isEmpty)
    // cleaning (yaml:22-29)
    assert(cfg.cleaning.removeUrls)
    assert(cfg.cleaning.removeCitations)
    assert(cfg.cleaning.normalizeUnicode)
    assert(cfg.cleaning.normalizeWhitespace)
    assert(cfg.cleaning.removeWikiMarkup) // remove_wiki_markup: true
    assert(cfg.cleaning.removeHtmlTags)
    assert(cfg.cleaning.minLengthChars == 100)
    // deduplication (yaml:32-38)
    assert(cfg.dedup.enabled)
    assert(cfg.dedup.algorithm == "minhash_lsh")
    // quality (yaml:41-57): reference thresholds
    assert(cfg.qualityEnabled)
    assert(cfg.quality.minWords == 50)
    assert(cfg.quality.maxWords == 100000)
    assert(cfg.quality.minAvgWordLen == 3.0)
    assert(cfg.quality.maxAvgWordLen == 15.0)
    assert(cfg.quality.minAlphaRatio == 0.7)
    assert(cfg.quality.maxDigitRatio == 0.3)
    assert(cfg.quality.maxSymbolRatio == 0.2)
    assert(cfg.quality.allowedLanguages == Seq("en"))
    // tokenization (yaml:60-70)
    assert(cfg.tokenization.enabled)
    assert(cfg.tokenization.algorithm == "bpe")
    assert(cfg.tokenization.vocabSize == 32000)
    assert(cfg.tokenization.minFrequency == 2L)
    // output (yaml:73-78)
    assert(cfg.output.format == "parquet")
    assert(cfg.output.compression == "snappy")
  }

  test("dot-path get mirrors config.py semantics") {
    val t = ConfigYaml.parse(
      """a:
        |  b:
        |    c: 7
        |  flag: false
        |  name: "x"
        |  xs: [p, q]
        |  none: null
        |""".stripMargin)
    assert(t.getInt("a.b.c", 0) == 7)
    assert(!t.getBoolean("a.flag", default = true))
    assert(t.getString("a.name", "d") == "x")
    assert(t.getStrings("a.xs", Nil) == Seq("p", "q"))
    // missing and explicit-null keys both fall back (config.py:54-70)
    assert(t.getInt("a.b.missing", 42) == 42)
    assert(t.getInt("zz.yy", 5) == 5)
    assert(t.getLongOpt("a.none").isEmpty)
    // scalar mid-path does not explode
    assert(t.getInt("a.b.c.deeper", 9) == 9)
  }

  test("overrides and nullable knobs") {
    val cfg = Pipeline.GraftConfig.fromYaml(
      """ingestion:
        |  max_articles: 123
        |deduplication:
        |  algorithm: exact_hash
        |  num_bands: null
        |quality:
        |  enabled: false
        |  language_filter:
        |    enabled: false
        |tokenization:
        |  algorithm: unigram
        |  vocab_size: 64
        |output:
        |  format: jsonl
        |  compression: none
        |""".stripMargin)
    assert(cfg.maxDocs.contains(123L))
    assert(cfg.dedup.algorithm == "exact_hash")
    assert(ConfigYaml.unhonoured(ConfigYaml.parse("deduplication:\n  num_bands: null\n")).isEmpty)
    assert(!cfg.qualityEnabled)
    assert(cfg.quality.allowedLanguages.isEmpty) // lang filter disabled
    assert(cfg.tokenization.algorithm == "unigram")
    assert(cfg.tokenization.vocabSize == 64)
    assert(cfg.output.format == "jsonl")
    assert(cfg.output.compression == "none")
    // untouched sections keep reference defaults
    assert(cfg.cleaning.minLengthChars == 100)
    assert(cfg.quality.minWords == 50)
  }

  test("unhonoured lists each pinned key whose YAML value the engine ignores") {
    // the reference YAML's values for the seven pinned keys (yaml:32-78):
    // only num_bands differs from what the engine runs with
    val reference = ConfigYaml.parse(
      """deduplication:
        |  num_permutations: 128
        |  threshold: 0.8
        |  num_bands: 32
        |  shingle_size: 5
        |tokenization:
        |  special_tokens: ["<pad>", "<unk>", "<bos>", "<eos>"]
        |  output_format: jsonl
        |output:
        |  include_metadata: true
        |""".stripMargin)
    assert(ConfigYaml.unhonoured(reference) == Seq("deduplication.num_bands = 32 (runs with 16)"))
    val allOff = ConfigYaml.parse(
      """deduplication:
        |  num_permutations: 256
        |  threshold: 0.7
        |  num_bands: 16.0
        |  shingle_size: 3
        |tokenization:
        |  special_tokens: ["<pad>"]
        |  output_format: parquet
        |output:
        |  include_metadata: false
        |""".stripMargin)
    assert(ConfigYaml.unhonoured(allOff) == Seq(
      "deduplication.num_permutations = 256 (runs with 128)",
      "deduplication.threshold = 0.7 (runs with 0.8)",
      "deduplication.shingle_size = 3 (runs with 5)",
      "tokenization.special_tokens = [<pad>] (runs with [<pad>, <unk>, <bos>, <eos>])",
      "tokenization.output_format = parquet (runs with jsonl)",
      "output.include_metadata = false (runs with true)"))
    // absent keys are honoured
    assert(ConfigYaml.unhonoured(ConfigYaml.parse("{}")).isEmpty)
  }

  test("output.max_file_size_mb is unhonoured: the sinks keep Spark's natural file splits") {
    val yaml = "output:\n  max_file_size_mb: 128\n"
    assert(ConfigYaml.unhonoured(ConfigYaml.parse(yaml)) ==
      Seq("output.max_file_size_mb = 128 (runs with Spark's natural file splits)"))
    assert(Pipeline.GraftConfig.fromYaml(yaml).output.maxRecordsPerFile == 0L)
  }

  test("empty yaml yields all reference defaults") {
    val cfg = Pipeline.GraftConfig.fromYaml("{}")
    assert(cfg == Pipeline.GraftConfig(
      quality = graft.pipeline.Quality.Config.reference))
  }
}
