package graft

import java.nio.file.Files

import graft.pipeline.{Clean, Pipeline, Quality, Stage}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.functions.CleanExpression
import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpReplace, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
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
    val plan = Pipeline.cleanStage(docsOnDisk(), Pipeline.CleaningConfig())
      .queryExecution.optimizedPlan
    val cleaningFilters = PipelineSpec.cleaningFilters(plan)
    assert(cleaningFilters.isEmpty, s"clean chain copied into a Filter:\n$plan")
  }

  test("Pipeline.run's clean projection holds one clean kernel and no regex pass or UDF") {
    val plan = Pipeline.cleanStage(
        docsOnDisk().withColumn("original_length", length(col("text"))),
        Pipeline.CleaningConfig())
      .withColumn("cleaned_length", length(col("text")))
      .queryExecution.optimizedPlan
    def count(p: Expression => Boolean): Int =
      plan.collect { case n => n.expressions.map(_.collect { case e if p(e) => e }.size).sum }.sum
    assert(count(_.isInstanceOf[CleanExpression]) == 1, plan.toString)
    assert(count(e => e.isInstanceOf[RegExpReplace] || e.isInstanceOf[ScalaUDF]) == 0,
      plan.toString)
  }

  test("a regex-only CleaningConfig builds Clean.cleanText's chain behind the barrier") {
    def chain(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftSqlBridge.expression(c) match {
        case graft.functions.BarrierExpression(CleanExpression(_, fixText, nfkc, rules)) =>
          (fixText, nfkc, rules)
      }
    assert(chain(Pipeline.cleanColumn(Pipeline.CleaningConfig.regexOnly(100))) ==
      chain(Stage.once(Clean.cleanText(col("text")))))
  }

  test("the SQL entry point cleans each row once: no clean kernel in a Filter") {
    val plan = SparkEntry.entry(spark).queryExecution.optimizedPlan
    assert(PipelineSpec.cleaningFilters(plan).isEmpty, s"clean chain copied into a Filter:\n$plan")
  }

  test("unknown algorithm, format and codec names fail before the first job") {
    val bad = Seq(
      ("deduplication.algorithm", Pipeline.GraftConfig(dedup = Pipeline.DedupConfig(algorithm = "minhash"))),
      ("tokenization.algorithm", Pipeline.GraftConfig(
        tokenization = Pipeline.TokenizationConfig(algorithm = "bpe2"))),
      ("output.format", Pipeline.GraftConfig(output = Pipeline.OutputConfig(format = "json"))),
      ("output.compression", Pipeline.GraftConfig(
        output = Pipeline.OutputConfig(compression = "no-such-codec"))))
    val input = docsOnDisk()
    val started = jobsOf {
      for ((key, cfg) <- bad) {
        val e = intercept[IllegalArgumentException](
          Pipeline.run(input, cfg, Files.createTempDirectory("pipe").toString))
        assert(e.getMessage.contains(key), e.getMessage)
      }
    }
    assert(started.isEmpty, s"jobs started: $started")
    val e = intercept[IllegalArgumentException](Pipeline.run(input,
      Pipeline.GraftConfig(output = Pipeline.OutputConfig(compression = "zip")),
      Files.createTempDirectory("pipe").toString))
    for (codec <- Seq("snappy", "gzip", "zstd", "none")) assert(e.getMessage.contains(codec), e.getMessage)
  }

  test("each input row is read once per run (clean chain and cleaned corpus evaluate once)") {
    val reads = spark.sparkContext.longAccumulator("text-reads")
    val tap = udf { (t: String) => reads.add(1L); t }
    val out = Files.createTempDirectory("pipe").toString
    val input = docsOnDisk()
    Pipeline.run(input.withColumn("text", tap(col("text"))), Pipeline.GraftConfig(), out)
      .collect()
    assert(reads.value == input.count(), s"text read ${reads.value} times")
  }

  test("a run releases every frame it persists, whether it returns or a sink throws") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val input = docsOnDisk()
    val before = persisted
    Pipeline.run(input, Pipeline.GraftConfig(), Files.createTempDirectory("pipe").toString)
      .collect()
    val leftByRun = persisted -- before
    assert(leftByRun.isEmpty, s"the run left persisted RDDs $leftByRun")
    // the output directory sits under a regular file, so the docs sink
    // fails after dedup, quality and the tokenizer training have
    // materialized their persisted frames
    val blocker = Files.writeString(Files.createTempDirectory("pipe").resolve("blocker"),
      "not a directory")
    intercept[Exception](
      Pipeline.run(input, Pipeline.GraftConfig(), blocker.resolve("out").toString))
    val leftByThrow = persisted -- before
    assert(leftByThrow.isEmpty, s"the failed run left persisted RDDs $leftByThrow")
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
    val firstJobMs = jobStarts.asScala.filter(_ >= t0).min
    val json = Files.readString(java.nio.file.Paths.get(s"$out/pipeline_metrics.json"))
    val dedupStart = "\"dedup\": \\{\"stage_name\": \"dedup\", \"start_time\": ([-0-9.E]+)".r
      .findFirstMatchIn(json).map(_.group(1).toDouble)
      .getOrElse(fail(s"no dedup start_time in $json"))
    assert(math.round(dedupStart * 1000) <= firstJobMs,
      s"dedup window starts at $dedupStart s, after the run's first job at $firstJobMs ms")
  }

  /** Descriptions of the jobs `body` starts, in start order. The bus
    * delivers in order: once a marker job run after `body` has arrived,
    * every job `body` started has too. */
  private def jobsOf(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription("marker")
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 10000L
      while (!jobs.contains("marker") && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq.takeWhile(_ != "marker")
  }

  test("the metrics report adds no job: a run starts as many jobs with metrics off as on") {
    val input = docsOnDisk()
    def run(metrics: Boolean): Seq[String] = jobsOf(Pipeline.run(input,
      Pipeline.GraftConfig(metricsEnabled = metrics),
      Files.createTempDirectory("pipe").toString).collect())
    run(metrics = true) // warm-up
    val off = run(metrics = false)
    val on = run(metrics = true)
    assert(on.size == off.size, s"metrics on: ${on.size} jobs, off: ${off.size}")
  }

  test("summary.json is Spark's JSON of the returned summary row, tokenize on and off") {
    for (tokenize <- Seq(true, false)) {
      val out = Files.createTempDirectory("pipe").toString
      val summary = Pipeline.run(docs, Pipeline.GraftConfig(
        tokenization = Pipeline.TokenizationConfig(enabled = tokenize)), out)
      val json = Files.readString(java.nio.file.Paths.get(s"$out/summary.json"))
      assert(json == summary.toJSON.collect().head + "\n")
      assert(json.contains("\"total_tokens\":") == tokenize, json)
    }
  }

  test("filter_reasons equals a groupBy over Quality.withReason: keys, counts and order") {
    val cfg = Pipeline.GraftConfig()
    val words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
      .split(" ")
    // digit-heavy, short and boilerplate documents, each unique after
    // cleaning: at least three reasons fire and two of them tie in count,
    // which pins the tie-break by name (both checked below)
    def digits(seed: Int) = (1 to 60).map(i => s"${seed * 7919 + i * 104729}").mkString(" ")
    def short(k: Int) = (0 until 18).map(i => words((i * k + k) % words.length)).mkString(" ")
    val boiler = good + " Copyright 2024 all rights reserved. Read our privacy policy, " +
      "our terms of service and our cookie policy, then click here to subscribe."
    val input = docs.filter(col("doc_id") =!= 4L).union(Seq(
      (10L, digits(1)), (11L, digits(2)), (12L, short(1)), (13L, short(5)),
      (14L, boiler)).toDF("doc_id", "text"))
    val out = Files.createTempDirectory("pipe").toString
    Pipeline.run(input, cfg, out).collect()
    val json = Files.readString(java.nio.file.Paths.get(s"$out/pipeline_metrics.json"))
    val reported = "\"([a-z_]+)\": ([0-9]+)".r
      .findAllMatchIn(json.split("\"filter_reasons\": ")(1).takeWhile(_ != '}'))
      .map(m => m.group(1) -> m.group(2).toLong).toSeq
    val expected = Quality.withReason(
        Pipeline.dedupStage(Pipeline.cleanStage(input, cfg.cleaning), cfg.dedup), cfg.quality)
      .filter(col("reason") =!= "passed")
      .groupBy("reason").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("reason"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(reported == expected)
    assert(expected.size >= 3, s"fixture hits too few reasons: $expected")
    assert(expected.map(_._2).distinct.size < expected.size, s"fixture has no tie: $expected")
  }
}

object PipelineSpec {
  /** Filters that hold clean work: the clean kernel, a UDF or a regex pass. */
  def cleaningFilters(plan: LogicalPlan): Seq[Filter] = plan.collect {
    case f: Filter if f.condition.exists(e => e.isInstanceOf[CleanExpression] ||
      e.isInstanceOf[ScalaUDF] || e.isInstanceOf[RegExpReplace]) => f
  }
}
