package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.pipeline.{Dedup, MinHash, Pipeline, Quality}

/** Structured Streaming variant of the pipeline (D6/S4 analogue;
  * reference: deduplicator.py:224-260 `deduplicate_stream` consumes a
  * generator and yields unique docs, keeping a growing in-memory index).
  *
  * The streaming rebuild: file-source micro-batches → the SAME clean /
  * quality Column transforms (they are narrow expressions, so they apply
  * to a streaming DataFrame unchanged) → stateful exact dedup via
  * `dropDuplicates` on the content hash — Spark's state store plays the
  * reference's growing index, and "first seen wins" is the arrival order,
  * exactly the reference's semantics (its batch driver iterates input
  * order).
  *
  * State at 100 TB: an unbounded exact-dedup state store is the same
  * memory hazard as the reference's in-memory LSH index; production runs
  * bound it with a watermark (`withWatermark` + `dropDuplicatesWithinWatermark`)
  * so state expires after the dedup horizon. Kept unbounded here to match
  * reference semantics on finite corpora.
  */
object StreamPipeline {

  /** Schema of the streamed documents (matches the driver's parquet). */
  val docSchema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  /** File-source stream of document batches dropped into `dir`. */
  def readDocs(spark: SparkSession, dir: String, format: String = "json"): DataFrame =
    spark.readStream.schema(docSchema).format(format).load(dir)

  /** clean → min-length filter → quality reason → content-hash dedup.
    * Emits the surviving docs with their reason column. */
  def cleanedDeduped(docs: DataFrame, minLen: Int = 100,
      cfg: Quality.Config = Quality.Config()): DataFrame =
    Quality.withReason(Pipeline.cleanStage(docs, Pipeline.CleaningConfig.regexOnly(minLen)), cfg)
      .withColumn("content_hash", Dedup.contentHash(col("text")))
      .dropDuplicates("content_hash")

  /** Convenience writer for tests/demos: complete pipeline into a named
    * in-memory sink table. */
  def toMemorySink(out: DataFrame, name: String): DataStreamWriter[Row] =
    out.writeStream.format("memory").queryName(name).outputMode("append")

  /** Watermarked tumbling-window aggregation over an event-time stream —
    * the streaming twin of Relational.hourlyEventStats. The watermark
    * bounds state: windows older than the horizon are finalized, emitted
    * (append mode), and their state dropped — the knob that keeps a
    * 100 TB/day stream's state finite. */
  def windowedEventCounts(events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), window).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))

  /** Streaming NEAR-dup (MinHash LSH) dedup — the reference's
    * `deduplicate_stream` (deduplicator.py:224-260: a growing in-memory
    * LSH index queried per doc) re-expressed Spark-first: `foreachBatch`
    * turns each micro-batch into a regular DataFrame and attributes it
    * against a PERSISTENT signature store — partitioned parquet playing
    * the reference's index, so state survives restarts and scales as a
    * table, not as executor memory — with the batch delta attribution
    * ([[MinHash.deltaDupMapOf]]): a doc's original is its smallest
    * verified store partner, else its smallest verified earlier
    * in-batch partner. Batch survivors' signatures append to the store;
    * verdicts append to `outDir`.
    *
    * Semantics note (documented trade): the reference processes docs one
    * by one, so a doc never matches a duplicate admitted before it; the
    * micro-batch form attributes in-batch duplicates in parallel, so an
    * `original_id` may itself be a duplicate of a store doc (chains are
    * resolvable downstream). First-seen-wins holds across batches
    * exactly: only store-unique survivors are ever indexed.
    *
    * Scale: per batch, one delta attribution — banded LSH, never
    * all-pairs. The store is already rep-contracted (only survivors are
    * indexed, so no two store rows share a signature), so it enters as
    * [[MinHash.deltaDupMapOf]]'s `(gid, sig)` reps with no collapse
    * pass: a batch under [[MinHash.DeltaBroadcastMax]] docs is matched
    * in one pass over the store with its band keys broadcast, a larger
    * one through the contracted band join. While the store is empty the
    * batch runs the batch operator alone ([[MinHash.duplicateOfSigs]]).
    *
    * Delivery: EXACTLY-ONCE under foreachBatch's at-least-once replay.
    * Both sinks are parquet tables PARTITIONED BY `batch_id`, written
    * with dynamic partition overwrite — a replayed batch (crash after a
    * write committed but before the checkpoint advanced) REPLACES its own
    * partition instead of appending a second copy. Replay is
    * deterministic because the store side of the join is pinned to
    * `batch_id < current` — whatever the failed attempt managed to write
    * for this batch is invisible to its re-run (a doc can never match
    * "itself from the crashed attempt") and is overwritten wholesale. */
  def nearDupStream(docs: DataFrame, stateDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        nearDupBatch(batch, stateDir, outDir, batchId)
      }
      .start()

  /** Signature store reader; None until the store holds committed rows. */
  private def readStore(spark: SparkSession, dir: String): Option[DataFrame] =
    if (!new java.io.File(dir).exists()) None
    else scala.util.Try(spark.read.parquet(dir)).toOption
      .filter(_.columns.contains("batch_id"))

  /** Incremental BATCH ingestion form (nightly corpus deltas against the
    * same store): runs as the next batch id after the store's high-water
    * mark — re-running a delta that already committed is therefore also
    * idempotent (it overwrites itself). */
  def nearDupBatch(batch: DataFrame, stateDir: String, outDir: String): Unit = {
    val nextId = readStore(batch.sparkSession, stateDir)
      .map(_.agg(coalesce(max(col("batch_id")), lit(-1L))).head().getLong(0) + 1L)
      .getOrElse(0L)
    nearDupBatch(batch, stateDir, outDir, nextId)
  }

  /** One micro-batch of [[nearDupStream]]: a [[graft.CacheScope.within]]
    * scope, so everything the batch persists (its signatures, the
    * verdicts and the attribution's own frames) is released when it
    * returns or throws. */
  def nearDupBatch(batch: DataFrame, stateDir: String, outDir: String,
      batchId: Long): Unit = graft.CacheScope.within {
    val sigs = MinHash.signatures(batch)
    // Only survivors are indexed, so no two store rows share a
    // signature: the store is already rep-contracted with gid = doc_id,
    // and the delta attribution applies as is — a store match (earlier
    // batch) wins, else the smallest earlier in-batch partner. The
    // batch_id < current filter is partition-pruned at the scan and is
    // what makes replays deterministic. Either branch persists `sigs`
    // (deltaDupMapOf does it itself), so the survivors' write below
    // reads the signatures from the cache.
    val dups = readStore(batch.sparkSession, stateDir) match {
      case None => MinHash.duplicateOfSigs(graft.CacheScope.persist(sigs))
      case Some(st) =>
        val reps = st.filter(col("batch_id") < batchId)
          .select(col("doc_id").as("gid"), col("sig"))
        MinHash.deltaDupMapOf(sigs, reps, MinHash.repBands(reps))
    }
    val verdicts = batch.select(col("doc_id"))
      .join(dups.withColumnRenamed("duplicate_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("original_id"),
        col("original_id").isNotNull.as("is_duplicate"))
      .transform(graft.CacheScope.persist)
    verdicts.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
    // index only the survivors — first-seen-wins across batches
    sigs.join(
        verdicts.filter(col("is_duplicate")).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(stateDir)
  }

  /** Streaming sessionization — the streaming twin of
    * `Relational.sessionizeEvents` (same 30-minute inactivity gap),
    * expressed with Spark's native `session_window`: per-key gap-merging
    * windows maintained in the state store, finalized and emitted
    * (append mode) once the watermark passes `session_end + gap`. This
    * is the Spark-first spelling — no custom state function; the
    * SessionWindowStateStore operator merges overlapping windows
    * incrementally, and state per user is one open session, not the
    * event history, so a 100 TB/day stream holds state proportional to
    * ACTIVE users only. */
  def sessionizedEvents(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("s.start").as("session_start"),
        col("s.end").as("session_end"),
        col("n_events"))

  /** Streaming eval-set decontamination: tag every streamed doc with how
    * many of its distinct [[graft.pipeline.Contamination.GramN]]-grams
    * appear in a STATIC benchmark corpus, dropping substantial overlaps
    * (the batch operator's semantics applied per micro-batch). The
    * benchmark gram set is collected once — BOUNDED BY CONSTRUCTION
    * (eval sets are thousands of docs; the same documented-bounded-
    * collect contract as the IVF codebook) — and ships as a Spark
    * BROADCAST VARIABLE (round 14; previously a `typedLit` array
    * literal, which serialized the whole eval set into the plan and
    * every task binary, and recompiled codegen against it). Torrent
    * broadcast moves the set to each executor ONCE for the lifetime of
    * the query, and the stream stays completely STATELESS: no state
    * store, no watermark, one per-row membership count.
    *
    * Why not the stream-static JOIN spelling: a per-doc gram count
    * through a join needs explode → join → `groupBy(doc_id)` — and a
    * streaming aggregation keyed on doc_id is UNBOUNDED state (no
    * watermark can close a key that may never recur). For a row-local
    * count against a driver-bounded set, broadcast membership is the
    * scale-correct form; the join form is reserved for benchmark sides
    * too big to collect, where the semantics would shift to flag-only
    * (stream-static left-semi, no count). */
  def decontaminatedStream(docs: DataFrame, benchmark: DataFrame,
      dropContaminated: Boolean = false): DataFrame = {
    import graft.pipeline.Contamination
    val benchGrams: Array[String] = benchmark
      .select(col("doc_id"),
        expr("filter(split(text, '\\\\s+'), x -> x != '')").as("w"))
      .select(explode(expr(Contamination.gramsExpr(Contamination.GramN))).as("gram"))
      .distinct()
      .collect().map(_.getString(0))
    val bc = docs.sparkSession.sparkContext.broadcast(benchGrams.toSet)
    // Distinct-gram membership count — the exact semantics of the old
    // size(array_intersect(grams, lit)) spelling (array_intersect
    // dedupes), null-propagating like it too.
    val hitCount = udf { grams: Seq[String] =>
      if (grams == null) null.asInstanceOf[Integer]
      else Integer.valueOf(grams.toSet.count(bc.value.contains))
    }
    val flagged = docs
      .withColumn("w", expr("filter(split(text, '\\\\s+'), x -> x != '')"))
      .withColumn("n_contaminated_grams",
        hitCount(expr(Contamination.gramsExpr(Contamination.GramN))))
      .drop("w")
    if (dropContaminated) flagged.filter(col("n_contaminated_grams") === 0)
    else flagged
  }

  /** D4-with-state in streaming form: first-seen-wins dedup WITH
    * duplicate→original attribution via flatMapGroupsWithState — the
    * reference's growing index (`duplicate_of`, deduplicator.py:150-180)
    * as explicit keyed state. Emits every doc, tagging duplicates with
    * the id of the first-seen original in their hash group. */
  def dedupWithAttribution(docs: DataFrame): Dataset[DedupVerdict] = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("content_hash", Dedup.contentHash(col("text")))
      .select(col("content_hash"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, DedupVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[Long]) =>
          // within a micro-batch, arrival order decides first-seen (the
          // reference's iteration-order semantics)
          val out = rows.map { case (_, id) =>
            if (!state.exists) { state.update(id); DedupVerdict(id, isDuplicate = false, None) }
            else DedupVerdict(id, isDuplicate = true, Some(state.get))
          }
          out.toList.iterator
      }
  }
}

/** Output row of [[StreamPipeline.dedupWithAttribution]]. */
final case class DedupVerdict(docId: Long, isDuplicate: Boolean, originalId: Option[Long])
