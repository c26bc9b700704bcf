package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's parquet tables (see /root/repo/TESTDATA.md).
  *
  * All loads are plain `spark.read.parquet` so Catalyst keeps full pushdown
  * (column pruning + predicate pushdown reach the vectorized parquet scan).
  * At 100 TB these tables would be partitioned/bucketed on their join keys;
  * the loaders centralize the access path so that swap is one-line.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Spread an under-split scan across the session's cores. A parquet
    * row group is the minimum split unit, so a small single-row-group
    * file yields ONE effective task no matter how `maxPartitionBytes` is
    * set — and every narrow kernel fused above the scan (minhash
    * signatures, trigrams, quality metrics) then runs single-threaded.
    *
    * "Under-split" is decided from the optimized plan's size statistics
    * (file bytes — a pure driver-side probe; the previous
    * `df.rdd.getNumPartitions` probe forced RDD lineage instantiation on
    * every loader call): a table smaller than `cores x maxPartitionBytes`
    * cannot give every core a full split, so the one-pass exchange is
    * cheap by construction and buys full fan-out; anything larger — any
    * 100 TB table — is left untouched. With `keys`, the spread is a HASH
    * exchange on those columns instead of round-robin, so a downstream
    * window/aggregate keyed on them is satisfied by the spread itself
    * (ClusteredDistribution accepts a subset partitioning) — one exchange
    * total instead of round-robin + re-shuffle. Filter pushdown is
    * unaffected: Catalyst's PushDownPredicates moves base-column filters
    * (e.g. r_q1's l_shipdate range) through RepartitionOperation down to
    * the scan, and the document pipelines' predicates are over computed
    * columns, which never reach the scan anyway. */
  private def parallelized(df: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val small =
      df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(maxSplit) * target
    if (!small) df
    else if (keys.nonEmpty) df.repartition(target, keys.map(col): _*)
    else df.repartition(target)
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    parallelized(load(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    parallelized(load(spark, dir, "embeddings"))

  /** lineitem/orders stay PLAIN scans (round 11): every consumer is a
    * scan-shaped aggregate (q1, rollup — map-side partial aggregation
    * reduces to a handful of groups before any exchange) or a join that
    * re-shuffles on its own key anyway. The [[parallelized]] spread buys
    * those shapes nothing — decode parallelism is pinned by the
    * file/row-group layout either way (a row group is the minimum split
    * unit) — while shipping the full table through a round-robin
    * exchange: r_q1 at the 100× probe measured 8.1 s spread vs 2.9 s
    * plain. documents/embeddings keep the spread because their consumers
    * fuse expensive narrow kernels (minhash, trigrams, quality metrics)
    * directly above the scan, where per-row compute dwarfs the exchange. */
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")

  /** `events.parquet` stores `ts` as INT64 TIMESTAMP(NANOS), which Spark's
    * parquet reader rejects outright (PARQUET_TYPE_ILLEGAL). We read nanos as
    * a plain long (`spark.sql.legacy.parquet.nanosAsLong`) and expose both:
    *   - `ts_ns`: raw epoch nanoseconds (lossless, BIGINT)
    *   - `ts`:    µs-precision TIMESTAMP derived from it
    * Oracle-compared queries must only emit values derived from `ts_ns`
    * (epoch buckets, dates) — never a raw timestamp — because DuckDB keeps
    * ns precision and would hash-differ on the sub-µs digits.
    *
    * A copy of the table re-written by Spark itself (or any µs-native
    * writer) carries `ts` as TIMESTAMP/TIMESTAMP_NTZ instead of INT64-nanos;
    * the loader normalizes either physical encoding to the same
    * (`ts_ns` BIGINT, `ts` TIMESTAMP) surface. NTZ values are interpreted
    * as UTC wall-clock (session timezone pinned here), matching how the
    * ns-long path derives them.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsImpl(spark, dir, spread = true)

  /** Scan-shaped events access: the same ts normalization with NO
    * user_id spread — for consumers keyed on something other than
    * user_id (hour buckets, event_type, value bands), where the
    * keyed exchange ships the full table to satisfy nothing (the
    * lineitem/orders argument above, applied per consumer). */
  def eventsScan(spark: SparkSession, dir: String): DataFrame =
    eventsImpl(spark, dir, spread = false)

  private def eventsImpl(spark: SparkSession, dir: String, spread: Boolean): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // events' dominant downstream keys are per-user (latest-k window,
    // rolling window, as-of, distinct users), so the spread hashes on
    // user_id — those consumers then run exchange-free on top of it.
    val base = load(spark, dir, "events")
    val raw = if (spread) parallelized(base, Seq("user_id")) else base
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => // TIMESTAMP or TIMESTAMP_NTZ (µs precision)
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
}
