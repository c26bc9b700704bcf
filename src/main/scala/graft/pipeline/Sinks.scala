package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Output sinks (S6-S9; reference: src/main.py:353-420) and per-stage
  * observed metrics (A6; utils/metrics.py:89-170).
  *
  * Sinks are plain distributed writers — each executor writes its own
  * partition files, nothing funnels through the driver. The one-row
  * summary (S9) is written by `Pipeline.run` on the driver from these
  * observed counters, as in the reference.
  */
object Sinks {

  /** S6: Parquet with configurable codec (src/main.py:369-385;
    * output.compression, pipeline_config.yaml:75). `maxRecordsPerFile`
    * caps rows per file, the unit Spark controls; the YAML path leaves it
    * 0 (natural splits) and warns on the reference's size hint,
    * `output.max_file_size_mb` (pipeline_config.yaml:77). */
  def writeParquet(df: DataFrame, path: String, maxRecordsPerFile: Long = 0L,
      compression: String = "snappy"): Unit = {
    val codec = compression match {
      case "none" | "" => "none"
      case c => c // snappy | gzip | zstd ... (parquet codec names)
    }
    val w = df.write.mode("overwrite").option("compression", codec)
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w)
      .parquet(path)
  }

  /** S7: one JSON object per line, full docs (src/main.py:387-398). */
  def writeDocsJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** S8: tokens-only JSONL (src/main.py:400-405, tokenizer.py:282-310). */
  def writeTokensJsonl(df: DataFrame, path: String): Unit =
    df.select(col("tokens")).write.mode("overwrite").json(path)

  /** Read back a JSONL corpus with an EXPLICIT schema (round 15): at
    * scale, `spark.read.json(path)` without one runs schema inference —
    * a full extra pass over the data before the real scan (100 TB read
    * twice). Callers hand the schema the writer produced; rows missing a
    * field read as null (JSONL's permissive evolution semantics), extra
    * fields are ignored — exactly the contract a multi-generation
    * training corpus needs. */
  def readJsonl(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Recursive local-file delete, children first — scratch-sweep
    * helper (stale `graft_jsonl_rt_*` dirs; see
    * [[Tokenize.jsonlRoundtripQuery]]). Best-effort: a file that
    * refuses to go is left for the next sweep. */
  private[pipeline] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** A6: attach named observed metrics to a stage. The returned
    * Observation yields rows/bytes counters after the next action, without
    * a second pass over the data (vs the reference's per-stage timers,
    * utils/metrics.py:40-59). */
  def observeStage(df: DataFrame, stage: String,
      extra: org.apache.spark.sql.Column*): (DataFrame, Observation) = {
    val obs = Observation(stage)
    val observed = df.observe(obs,
      count(lit(1)).as("rows"),
      (sum(octet_length(col("text"))).as("text_bytes") +: extra): _*)
    (observed, obs)
  }

  /** Pull a long counter out of a resolved Observation (null ⇒ 0, e.g. a
    * sum over zero rows). */
  def obsLong(obs: Observation, key: String): Long = obs.get.get(key) match {
    case Some(n: Number) => n.longValue
    case _ => 0L
  }
}
