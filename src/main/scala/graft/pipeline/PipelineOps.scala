package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Whole-pipeline composition operators: the P4 semi-join, the S9/A1-A6
  * run-summary, and the structural flagship shape
  * clean → filter → dedup → quality (reference: src/main.py:80-150).
  */
object PipelineOps {

  /** P4 (src/main.py:250-256): keep original documents whose id survived
    * dedup — an explicit left-semi join (ships only ids, never payloads). */
  private def uniqueDocsFrom(docs: DataFrame, surviving: DataFrame): DataFrame =
    docs.join(surviving.select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "source")

  /** S9/A1-A6 (src/main.py:407-420, utils/metrics.py:89-170): one-row
    * run summary over the sequential pipeline
    * clean → min-length filter → exact dedup → quality — as ONE
    * aggregation pass over one staged projection, no persist, no window:
    *
    *  - dedup count = countDistinct(hash) over kept docs: first-seen-wins
    *    selection only matters for WHICH member survives, never for how
    *    many groups there are;
    *  - quality-over-unique count = countDistinct(hash) over kept docs
    *    whose reason is 'passed': exact duplicates have byte-identical
    *    cleaned text, hence identical cascade verdicts, so any member
    *    represents its group.
    *
    * Spark plans the two distinct aggregates via one Expand (3x slim
    * rows) + partial aggregation — one scan and one shuffle end to end,
    * where the branch-per-stage spelling re-walked the persisted chain
    * per counter (6.5 s → ~2 s at the 10x probe). */
  def summaryQuery(docs: DataFrame): DataFrame = {
    val staged = docs
      .withColumn("orig_bytes", octet_length(col("text")))
      .withColumn("orig_len", length(col("text")))
      .withColumn("text", Stage.once(Clean.cleanText(col("text"))))
      .withColumn("kept", length(col("text")) >= 100)
    Quality.withReason(staged)
      .withColumn("h", when(col("kept"), Dedup.contentHash(col("text"))))
      .agg(
        count(lit(1)).as("docs_ingested"),
        sum(col("orig_bytes")).as("total_bytes"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("docs_after_clean"),
        sum(when(col("kept"), col("orig_len") - length(col("text")))).as("chars_removed"),
        countDistinct(col("h")).as("docs_after_dedup"),
        countDistinct(when(col("reason") === "passed", col("h"))).as("docs_passed_quality"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // rides MinHash.dupsFor: the dedup is over the UNCLEANED documents
    // table (reference parity), the same memoized dupmap the
    // dedup_minhash family consumes.
    "pipeline_unique_docs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      uniqueDocsFrom(docs,
        docs.join(MinHash.dupsFor(s, d),
          docs("doc_id") === col("duplicate_id"), "left_anti"))
    }),
    "pipeline_summary" -> ((s, d) => summaryQuery(Tables.documents(s, d))))

  def oracles: Map[String, String] = Map(
    "pipeline_unique_docs" ->
      s"""${MinHash.oraclePrefix}
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT duplicate_id FROM dups)""".stripMargin,
    "pipeline_summary" -> {
      val cascade = Quality.reasonCascadeD(Quality.Config())
      s"""WITH cleaned AS (
         |  SELECT doc_id, length(text) AS orig_len, ${Clean.cleanSqlD()} AS text
         |  FROM documents),
         |kept AS (SELECT * FROM cleaned WHERE length(text) >= 100),
         |uniq AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |           row_number() OVER (
         |             PARTITION BY md5(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')))
         |             ORDER BY doc_id) AS rn
         |    FROM kept)
         |  WHERE rn = 1)
         |SELECT
         |  (SELECT count(*) FROM documents) AS docs_ingested,
         |  CAST((SELECT sum(strlen(text)) FROM documents) AS BIGINT) AS total_bytes,
         |  (SELECT count(*) FROM kept) AS docs_after_clean,
         |  CAST((SELECT sum(orig_len - length(text)) FROM kept) AS BIGINT) AS chars_removed,
         |  (SELECT count(*) FROM uniq) AS docs_after_dedup,
         |  CAST((SELECT count(*) FROM ${Quality.qmetricsD("uniq")} WHERE ($cascade) = 'passed') AS BIGINT) AS docs_passed_quality""".stripMargin
    })
}
