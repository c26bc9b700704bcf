package graft

import java.nio.file.Files

import graft.pipeline.{Pipeline, Quality}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

/** Config-driven end-to-end run (reference src/main.py entry point 1). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val good =
    "The history of science is the study of how natural knowledge was developed " +
      "and refined over many years by people in many parts of the world and it " +
      "is a field that draws on the work of many scholars over time and it " +
      "was shaped by the tools and ideas that were available at each point."

  private def docs = Seq(
    (1L, good),
    (2L, good), // exact dup of 1
    (3L, good.replace("science", "art")), // near dup of 1
    (4L, "too short"),
    (5L, good + " " + "A closing different sentence changes this document meaningfully with more unique words appended here.")
  ).toDF("doc_id", "text")

  test("end-to-end run: clean, dedup, quality, tokenize, sinks, summary") {
    val out = Files.createTempDirectory("pipe").toString
    val summary = Pipeline.run(docs, Pipeline.GraftConfig(), out).collect().head
    assert(summary.getAs[Long]("docs_ingested") == 5L)
    assert(summary.getAs[Long]("docs_after_clean") == 4L)   // doc 4 dropped
    assert(summary.getAs[Long]("docs_after_dedup") == 2L)   // 2 and 3 are dups of 1
    assert(summary.getAs[Long]("docs_passed_quality") == 2L)
    assert(summary.getAs[Long]("total_tokens") > 0L)
    assert(spark.read.parquet(s"$out/documents").count() == 2L)
    assert(spark.read.json(s"$out/tokens").count() == 2L)
    assert(Files.readString(java.nio.file.Paths.get(s"$out/summary.json"))
      .contains("\"docs_ingested\":5"))
  }

  test("pipeline_metrics.json carries the reference report fields (A6)") {
    val out = Files.createTempDirectory("pipe").toString
    // doc 6: long but digit-heavy → fails the quality cascade, so
    // filter_reasons is non-empty
    val digits = (1 to 60).map(i => s"$i$i$i$i").mkString(" ")
    Pipeline.run(docs.union(Seq((6L, digits + " " + digits)).toDF("doc_id", "text")),
      Pipeline.GraftConfig(), out).collect()
    val json = Files.readString(java.nio.file.Paths.get(s"$out/pipeline_metrics.json"))
    // metrics.py:151-161 to_dict shape
    for (f <- Seq("\"pipeline_duration_seconds\"", "\"stages\"", "\"filter_reasons\"",
        "\"timestamp\"")) assert(json.contains(f), s"missing $f in $json")
    // per-stage StageMetrics fields (metrics.py:18-59)
    for (f <- Seq("\"stage_name\"", "\"duration_seconds\"", "\"input_count\"",
        "\"output_count\"", "\"filtered_count\"", "\"error_count\"",
        "\"bytes_processed\"", "\"throughput\"", "\"filter_rate\""))
      assert(json.contains(f), s"missing $f in $json")
    for (s <- Seq("ingest", "clean", "dedup", "quality", "tokenize"))
      assert(json.contains(s"\"$s\": {\"stage_name\": \"$s\""), s"missing stage $s")
    // exact counts, from the same run the summary reports
    assert(json.contains("\"stage_name\": \"ingest\", ") && json.contains("\"input_count\": 6"))
    // doc 4 (too short) filtered at clean: filtered_count 1 of 6
    assert(json.replaceAll(".*\"clean\": \\{", "").takeWhile(_ != '}')
      .contains("\"filtered_count\": 1"))
    // doc 6 fails quality → appears in filter_reasons with a count
    val reasons = json.split("\"filter_reasons\": ")(1).takeWhile(_ != '}')
    assert(reasons.contains(": 1"), s"expected a filtered reason count in $reasons")
  }

  test("metricsEnabled=false writes no metrics file") {
    val out = Files.createTempDirectory("pipe").toString
    Pipeline.run(docs, Pipeline.GraftConfig(metricsEnabled = false,
      tokenization = Pipeline.TokenizationConfig(enabled = false)), out).collect()
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/pipeline_metrics.json")))
  }

  test("exact_hash algorithm keeps near-dups; maxDocs caps ingest") {
    val out = Files.createTempDirectory("pipe").toString
    val cfg = Pipeline.GraftConfig(
      maxDocs = Some(4L),
      dedup = Pipeline.DedupConfig(algorithm = "exact_hash"),
      tokenization = Pipeline.TokenizationConfig(enabled = false))
    val summary = Pipeline.run(docs, cfg, out).collect().head
    assert(summary.getAs[Long]("docs_ingested") == 4L)
    assert(summary.getAs[Long]("docs_after_dedup") == 2L) // near-dup 3 survives exact hash
  }

  test("maxDocs beyond the Int range fails loudly, naming max_articles") {
    val out = Files.createTempDirectory("pipe").toString
    val e = intercept[IllegalArgumentException](
      Pipeline.run(docs, Pipeline.GraftConfig(maxDocs = Some(3000000000L)), out))
    assert(e.getMessage.contains("max_articles"), e.getMessage)
  }

  /** `docs` as a parquet scan: a LocalRelation input gets its projections
    * evaluated by the optimizer, which would hide the plan under test. */
  private def docsOnDisk(): org.apache.spark.sql.DataFrame = {
    val dir = Files.createTempDirectory("pipe-in").resolve("docs").toString
    docs.write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("the min-length filter reads the cleaned column: no UDF in a Filter") {
    val plan = docsOnDisk()
      .withColumn("text", Pipeline.cleanColumn(Pipeline.CleaningConfig()))
      .filter(length(col("text")) >= 100)
      .queryExecution.optimizedPlan
    val udfFilters = plan.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[ScalaUDF]) => f
    }
    assert(udfFilters.isEmpty, s"clean chain copied into a Filter:\n$plan")
  }

  test("each input row is read once per run (clean chain and cleaned corpus evaluate once)") {
    val reads = spark.sparkContext.longAccumulator("text-reads")
    val tap = udf { (t: String) => reads.add(1L); t }
    val out = Files.createTempDirectory("pipe").toString
    val input = docsOnDisk()
    Pipeline.run(input.withColumn("text", tap(col("text"))), Pipeline.GraftConfig(), out)
      .collect()
    CacheScope.drain()
    assert(reads.value == input.count(), s"text read ${reads.value} times")
  }

  test("pipeline_metrics.json: the fused window opens before the run's first job") {
    import scala.jdk.CollectionConverters._
    val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)
    }
    val out = Files.createTempDirectory("pipe").toString
    val t0 = System.currentTimeMillis()
    spark.sparkContext.addSparkListener(listener)
    try {
      Pipeline.run(docs, Pipeline.GraftConfig(), out).collect()
      // the bus delivers in order: once one of this run's job starts has
      // arrived, its first one has too
      val deadline = System.currentTimeMillis() + 10000L
      while (!jobStarts.asScala.exists(_ >= t0) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    CacheScope.drain()
    val firstJobMs = jobStarts.asScala.filter(_ >= t0).min
    val json = Files.readString(java.nio.file.Paths.get(s"$out/pipeline_metrics.json"))
    val dedupStart = "\"dedup\": \\{\"stage_name\": \"dedup\", \"start_time\": ([-0-9.E]+)".r
      .findFirstMatchIn(json).map(_.group(1).toDouble)
      .getOrElse(fail(s"no dedup start_time in $json"))
    assert(math.round(dedupStart * 1000) <= firstJobMs,
      s"dedup window starts at $dedupStart s, after the run's first job at $firstJobMs ms")
  }
}
