package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Analytics, Chunking, Clean, Cluster, Contamination, Dedup, LangModel, MinHash, NearDup, Pipeline, PipelineOps, Quality, Repetition, Sampling, TextEmbed, Tokenize, Wiki, WordEncoder}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each module contributes a `queries` map (name → DataFrame builder) and,
  * where the semantics are ANSI-SQL-expressible, a matching `oracles` map
  * of DuckDB SQL the driver hash-compares against. Column names are aliased
  * identically on both sides — the driver sorts columns by name before
  * hashing.
  */
object SparkEntry {

  /** Flagship: the reference's full pipeline shape over `documents` —
    * regex clean → min-length filter → exact dedup (first-seen wins) →
    * quality reason cascade → per-(lang, reason) histogram. All narrow
    * transforms except one hash-key shuffle (dedup) and one tiny-key
    * aggregation; the whole thing whole-stage-codegens over the scan. */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val docs = Tables.documents(spark, sfDir)
    val cleaned = Pipeline.cleanStage(docs, Pipeline.CleaningConfig.regexOnly(100))
    Quality.withReason(Dedup.exactDedup(cleaned))
      .groupBy(col("lang"), col("reason"))
      .agg(count(lit(1)).as("n_docs"))
  }

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Clean.queries, Clean.oracles),
      (Quality.queries, Quality.oracles),
      (Repetition.queries, Repetition.oracles),
      (LangModel.queries, LangModel.oracles),
      (Sampling.queries, Sampling.oracles),
      (Chunking.queries, Chunking.oracles),
      (Contamination.queries, Contamination.oracles),
      (Dedup.queries, Dedup.oracles),
      (MinHash.queries, MinHash.oracles),
      (Cluster.queries, Cluster.oracles),
      (Tokenize.queries, Tokenize.oracles),
      (WordEncoder.queries, WordEncoder.oracles),
      (Wiki.queries, Wiki.oracles),
      (PipelineOps.queries, PipelineOps.oracles),
      (Analytics.queries, Analytics.oracles),
      (NearDup.queries, NearDup.oracles),
      (TextEmbed.queries, TextEmbed.oracles),
      (graft.relational.Relational.queries, graft.relational.Relational.oracles),
      (graft.relational.Similarity.queries, graft.relational.Similarity.oracles),
      (graft.multimodal.Multimodal.queries, graft.multimodal.Multimodal.oracles))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
