package graft.pipeline

import java.nio.file.{Files, Paths}

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
    * honors the reference's max_file_size hint (pipeline_config.yaml:77)
    * in the unit Spark controls. */
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

  /** Training-shard writer: exactly `numShards` output files, docs
    * assigned by a HASH of the id (deterministic "shuffle": adjacent
    * source docs scatter across shards, every shard a uniform corpus
    * sample — what a data loader wants) and sorted by id WITHIN each
    * shard (stable iteration order, resumable readers). One exchange on
    * the shard key; the per-shard sort happens inside each task. This is
    * the standard final layout step of a training-data pipeline —
    * `repartition(n, hash)` + `sortWithinPartitions`, NOT a global
    * `orderBy` (which would range-partition and put the corpus through a
    * sampling pass + skewed writers at 100 TB). */
  def writeShards(df: DataFrame, path: String, numShards: Int,
      idCol: String = "doc_id"): Unit =
    df.withColumn("shard", pmod(xxhash64(col(idCol)), lit(numShards)).cast("int"))
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Training-ready BINARY token shards (the GPT-NeoX/Megatron `.bin` +
    * `.idx` layout, reduced to its portable core): each shard is one
    * `tokens.bin` of little-endian uint16 token ids, documents
    * concatenated back-to-back in doc_id order, plus one `index.bin` of
    * little-endian int64 pairs `(doc_id, n_tokens)` in the same order —
    * enough to reconstruct every document boundary with O(1) arithmetic
    * at load time, which is what a data loader actually needs (memmap +
    * prefix sums; no parquet decode on the training hot path).
    *
    * Distribution shape: docs hash-scatter to shards on doc_id and each
    * TASK writes shard pairs via `foreachPartition` — nothing funnels
    * through the driver, matching [[writeShards]]. `repartition(n, shard)`
    * places rows by murmur3(shard) % n, NOT by shard identity, so one task
    * may receive several distinct shard values back-to-back; rows arrive
    * sorted by (shard, doc_id), so the writer ROLLS to a fresh
    * tokens.bin/index.bin pair whenever the shard value changes. Each
    * shard value still lands in exactly one task (same key ⇒ same
    * partition), so every shard directory is written exactly once. uint16
    * bounds vocab at 65,536 — the caller's contract (assertion per id),
    * the same trade the published layouts make for 2-byte tokens. */
  def writeTokenShards(tokens: DataFrame, path: String, numShards: Int,
      idCol: String = "doc_id", tokCol: String = "token_ids"): Unit = {
    Files.createDirectories(Paths.get(path))
    tokens
      .select(col(idCol).cast("long").as("doc_id"),
        col(tokCol).cast("array<int>").as("ids"))
      .withColumn("shard", pmod(xxhash64(col("doc_id")), lit(numShards)).cast("int"))
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        var bin: java.io.DataOutputStream = null
        var idx: java.io.DataOutputStream = null
        var shard = -1
        def le16(v: Int): Array[Byte] =
          Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
        def le64(v: Long): Array[Byte] =
          Array.tabulate(8)(i => ((v >> (8 * i)) & 0xFF).toByte)
        try {
          rows.foreach { r =>
            if (bin == null || r.getInt(2) != shard) {
              if (bin != null) { bin.close(); idx.close() }
              shard = r.getInt(2)
              val dir = Paths.get(path, s"shard=$shard")
              Files.createDirectories(dir)
              bin = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
                Files.newOutputStream(dir.resolve("tokens.bin"))))
              idx = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
                Files.newOutputStream(dir.resolve("index.bin"))))
            }
            val ids = r.getSeq[Int](1)
            idx.write(le64(r.getLong(0)))
            idx.write(le64(ids.length.toLong))
            ids.foreach { id =>
              require(id >= 0 && id < 65536, s"token id $id exceeds uint16")
              bin.write(le16(id))
            }
          }
        } finally {
          if (bin != null) { bin.close(); idx.close() }
        }
      }
  }

  /** Bucketed-table sink — the 100 TB co-location layout. Writing the
    * corpus `bucketBy(n, key)` (+ optional in-bucket sort) once means
    * every DOWNSTREAM join or aggregation on that key plans with ZERO
    * shuffle exchanges: both sides' scans report the same
    * HashPartitioning, so the sort-merge join reads co-located buckets
    * (and a sorted bucket skips its sort too). At 100 TB that converts
    * the dominant repeated cost — re-shuffling the corpus for every
    * id-keyed join in every pipeline run — into a one-time write-side
    * exchange; the per-key pipelines (dedup maps joined back to docs,
    * token tables joined to metadata) become scan-local. Bucket count is
    * the caller's contract: match it across tables that join (same n ⇒
    * same murmur3 placement) and size it so a bucket ≈ one task's
    * memory. Requires `saveAsTable` (bucket metadata lives in the
    * catalog — plain `.parquet(path)` cannot carry it); Spark's built-in
    * catalog suffices, no Hive needed. */
  def writeBucketedTable(df: DataFrame, table: String, buckets: Int,
      key: String, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
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
