package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{Bpe, Pipeline, Quality, Sinks}
import graft.sources.WarcWet

/** Cumulative task counters; every read is a delta taken after the
  * listener bus has been drained. */
final class Counters extends SparkListener {
  val jobs, cpuNs, shuffleBytes, shuffleRecords, spillBytes, gcMs, inputBytes =
    new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      ()
    }
  }
  def snap(): Snap = Snap(jobs.get, cpuNs.get, shuffleBytes.get, shuffleRecords.get,
    spillBytes.get, gcMs.get, inputBytes.get)
}

final case class Snap(jobs: Long, cpuNs: Long, shuffleBytes: Long, shuffleRecords: Long,
    spillBytes: Long, gcMs: Long, inputBytes: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, cpuNs - o.cpuNs, shuffleBytes - o.shuffleBytes,
    shuffleRecords - o.shuffleRecords, spillBytes - o.spillBytes, gcMs - o.gcMs,
    inputBytes - o.inputBytes)
  def json: String =
    s"""{"jobs":$jobs,"cpu_s":${cpuNs / 1e9},"shuffle_bytes":$shuffleBytes,""" +
      s""""shuffle_records":$shuffleRecords,"spill_bytes":$spillBytes,"gc_ms":$gcMs,""" +
      s""""input_bytes":$inputBytes}"""
}

/** The largest heap in use right after a garbage collection, over a
  * window: the sum of the heap pools' usage after each collection, as GC
  * notifications report it. Unlike pool peak usage, which follows the
  * young generation filling up to its size before every collection, this
  * follows what the program keeps reachable. */
final class RetainedHeap {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val heapPools = pools.map(_.getName).toSet
  private val peak, collections = new AtomicLong
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(after, (a: Long, b: Long) => math.max(a, b))
        collections.incrementAndGet()
        ()
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  /** Starts a window after a full collection, so no window inherits the
    * garbage of the runs before it; returns the heap in use after that
    * collection. */
  def start(): Long = {
    System.gc()
    peak.set(0); collections.set(0)
    pools.map(_.getCollectionUsage.getUsed).sum
  }
  /** (peak bytes after a collection, collections) since `start`. */
  def read(): (Long, Long) = (peak.get, collections.get)
}

/** One benchmark process: set up a Spark session, warm it with `Warmup`
  * untimed pipeline runs, then time one `Pipeline.run` on the generated
  * corpus. With `--trace` it then runs the same pipeline once more, layer
  * by layer, one span per layer call.
  *
  * Prints one line starting with `PERFBENCH ` holding a JSON object:
  * set-up time, the knobs in effect, one record per pipeline run (wall
  * time, counter deltas, the run's summary and what was read back from its
  * outputs) and, when traced, the spans.
  *
  * Usage: Harness --input DIR --format wet|parquet --work DIR --cpus N
  *   --launch-ns EPOCH_NS [--trace]
  */
object Harness {
  /** Untimed runs on the warm-up corpus in set-up: the first run in a JVM
    * takes more than twice as long as a warm one, and the second is still
    * ~15 % slow. */
  val Warmup = 2

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  private def nowNs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(args: Array[String]): Unit = {
    val input = arg(args, "--input").get
    val warmInput = arg(args, "--warm-input").get
    val format = arg(args, "--format").get
    val work = Paths.get(arg(args, "--work").get)
    val cpus = arg(args, "--cpus").get.toInt
    val launchNs = arg(args, "--launch-ns").get.toLong
    val trace = args.contains("--trace")

    // The ScratchCache root is the checkpoint dir when one is set: it must
    // start empty, or cached relations of an earlier process leak in.
    val ckpt = work.resolve("checkpoint")
    require(!Files.exists(ckpt) || Files.list(ckpt).count() == 0,
      s"scratch root $ckpt is not empty at start")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    sc.setCheckpointDir(ckpt.toString)
    val counters = new Counters
    sc.addSparkListener(counters)
    def snap(): Snap = { PerfbenchBus.drain(sc); counters.snap() }

    val cfg = Pipeline.GraftConfig()
    def loadFrom(dir: String): DataFrame =
      if (format == "wet") WarcWet.asDocs(spark, dir) else spark.read.parquet(dir)
    def load(): DataFrame = loadFrom(input)
    var runNo = 0
    def nextOut(): Path = { runNo += 1; work.resolve(s"out-$runNo") }
    val heap = new RetainedHeap

    /** One timed `Pipeline.run`; the collection before it and the
      * read-back and cleanup after it are outside the window. */
    def timedRun(docs: => DataFrame): String = {
      val out = nextOut()
      val before = heap.start()
      val c0 = snap()
      val t0 = System.nanoTime()
      val summary = Pipeline.run(docs, cfg, out.toString).collect().head
      val wall = (System.nanoTime() - t0) / 1e9
      val d = snap() - c0
      val (retained, gcs) = heap.read()
      val rec = s"""{"wall_s":$wall,"counters":${d.json},"retained_heap_bytes":$retained,""" +
        s""""heap_before":$before,""" +
        s""""collections":$gcs,"summary":${summaryJson(summary)},""" +
        s""""readback":${readback(spark, out)}}"""
      cleanup(out)
      rec
    }

    // --- set-up: session start plus `Warmup` runs on the warm-up corpus.
    val warm = Seq.fill(Warmup)(timedRun(loadFrom(warmInput)))
    val setupS = (nowNs - launchNs) / 1e9

    val run = timedRun(load())
    val traced = if (trace) Some(tracedRun(spark, load _, cfg, nextOut(), snap _)) else None

    val knobs = Seq(
      "cpus" -> cpus.toString,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+"),
    ) ++ spark.conf.getAll.toSeq.sorted.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir"
    }
    val knobsJson = knobs.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    println(s"""PERFBENCH {"setup_s":$setupS,"knobs":$knobsJson,""" +
      s""""warmup":${warm.mkString("[", ",", "]")},"run":$run,""" +
      s""""traced":${traced.getOrElse("null")}}""")
    spark.stop()
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def summaryJson(r: org.apache.spark.sql.Row): String =
    r.schema.fieldNames.map { f =>
      val v = r.getAs[java.lang.Long](f)
      s"${q(f)}:${if (v == null) "null" else v.toString}"
    }.mkString("{", ",", "}")

  /** Data-file bytes under a sink directory (no `.crc`/`_SUCCESS`). */
  private def sinkBytes(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else Files.walk(dir).iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")
        && !p.getFileName.toString.startsWith("_"))
      .map(Files.size).sum

  /** What the two sinks actually wrote: document rows, distinct document
    * texts, token rows and the summed token-array lengths. */
  private def readback(spark: SparkSession, out: Path): String = {
    val docs = spark.read.parquet(out.resolve("documents").toString)
      .agg(count(lit(1)), countDistinct(col("text"))).head
    val toks = Sinks.readJsonl(spark, out.resolve("tokens").toString,
        org.apache.spark.sql.types.StructType.fromDDL("tokens array<int>"))
      .agg(count(lit(1)), coalesce(sum(size(col("tokens"))), lit(0L))).head
    s"""{"doc_rows":${docs.getLong(0)},"distinct_texts":${docs.getLong(1)},""" +
      s""""token_rows":${toks.getLong(0)},"token_sum":${toks.getLong(1)},""" +
      s""""docs_bytes":${sinkBytes(out.resolve("documents"))},""" +
      s""""tokens_bytes":${sinkBytes(out.resolve("tokens"))}}"""
  }

  private def cleanup(out: Path): Unit = {
    graft.CacheScope.drain()
    if (Files.exists(out))
      Files.walk(out).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator.asScala.foreach(p => Files.delete(p))
  }

  /** `Pipeline.run` taken apart: each layer's public function is called in
    * the run's order and its output materialized inside its own span, so
    * the span's wall time and counter deltas belong to that layer. */
  private def tracedRun(spark: SparkSession, load: () => DataFrame,
      cfg: Pipeline.GraftConfig, out: Path, snap: () => Snap): String = {
    val spans = Seq.newBuilder[String]
    val origin = System.nanoTime()
    def span[A](name: String)(body: => (A, Map[String, Double])): A = {
      val c0 = snap()
      val t0 = System.nanoTime()
      val (a, extra) = body
      val t1 = System.nanoTime()
      val d = snap() - c0
      val extraJson = extra.toSeq.sortBy(_._1).map { case (k, v) => s",${q(k)}:$v" }.mkString
      spans += s"""{"name":${q(name)},"parent":"pipeline","start_s":${(t0 - origin) / 1e9},""" +
        s""""end_s":${(t1 - origin) / 1e9},"counters":${d.json}$extraJson}"""
      a
    }
    def kept(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    }

    val ingested = span("ingest") {
      val (d, n) = kept(load()); (d, Map("rows_out" -> n.toDouble))
    }
    val cleaned = span("clean") {
      val (d, n) = kept(ingested
        .withColumn("original_length", length(col("text")))
        .withColumn("text", Pipeline.cleanColumn(cfg.cleaning))
        .filter(length(col("text")) >= cfg.cleaning.minLengthChars)
        .withColumn("cleaned_length", length(col("text"))))
      ingested.unpersist()
      (d, Map("rows_out" -> n.toDouble))
    }
    val deduped = span("dedup") {
      val (d, n) = kept(Pipeline.dedupStage(cleaned, cfg.dedup))
      cleaned.unpersist()
      (d, Map("rows_out" -> n.toDouble))
    }
    val passed = span("quality") {
      val reasoned = Quality.withReason(deduped, cfg.quality).persist(StorageLevel.MEMORY_AND_DISK)
      val hist = reasoned.groupBy("reason").agg(count(lit(1))).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val (p, n) = kept(reasoned.filter(col("reason") === "passed").drop("reason"))
      reasoned.unpersist(); deduped.unpersist()
      require(n == hist.getOrElse("passed", 0L), "passed count disagrees with the histogram")
      (p, Map("rows_out" -> n.toDouble))
    }
    val tc = cfg.tokenization
    val freqs = span("tokenize.lexicon") {
      val f = Bpe.wordFrequencies(passed); (f, Map("rows_out" -> f.size.toDouble))
    }
    val model = span("tokenize.train") {
      val m = Bpe.train(freqs, tc.vocabSize, tc.minFrequency)
      (m, Map("rows_out" -> m.vocab.size.toDouble))
    }
    val (encoded, totalTokens) = span("tokenize.encode") {
      val encode: String => Array[Int] = model.encode
      val e = passed.withColumn("tokens", udf(encode).apply(col("text")))
        .withColumn("token_count", size(col("tokens")).cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val r = e.agg(count(lit(1)), coalesce(sum(col("token_count")), lit(0L))).head
      passed.unpersist()
      ((e, r.getLong(1)), Map("rows_out" -> r.getLong(0).toDouble))
    }
    span("sink.docs") {
      val dir = out.resolve("documents")
      Sinks.writeParquet(encoded.drop("tokens"), dir.toString,
        cfg.output.maxRecordsPerFile, cfg.output.compression)
      ((), Map("bytes" -> sinkBytes(dir).toDouble))
    }
    span("sink.tokens") {
      val dir = out.resolve("tokens")
      Sinks.writeTokensJsonl(encoded.select("tokens"), dir.toString)
      encoded.unpersist()
      ((), Map("bytes" -> sinkBytes(dir).toDouble))
    }
    val wall = (System.nanoTime() - origin) / 1e9
    val rec = s"""{"wall_s":$wall,"total_tokens":$totalTokens,"lexicon_words":${freqs.size},""" +
      s""""spans":${spans.result().mkString("[", ",", "]")},"readback":${readback(spark, out)}}"""
    cleanup(out)
    rec
  }
}
