package graft
import java.nio.file.{Files, Paths}

/** Cumulative task-metric counters fed by a SparkListener — the
  * per-mark self-explanation layer of the bench artifact (round 17,
  * closing the r16 verdict #2: `round_sec` names a slow ROUND, nothing
  * named a slow MARK — `sim_embed_dedup_mp`'s 3-rep blowup shipped in
  * the enforced artifact with no machine-readable cause). The bench
  * loop snapshots the counters around each timed window; the deltas
  * (task GC ms, shuffle spill, shuffle bytes written, peak per-task
  * execution memory, summed task time) land next to `rep_spread`, so a
  * mark whose median moved >1.5x carries its own diagnosis: gc_ms up =
  * memory pressure, spill up = execution memory shortfall, both flat =
  * host/scheduler interference outside the JVM.
  *
  * Counters are cumulative across the whole run and read by delta, so
  * listener-bus lag only ever shifts attribution into the NEXT window
  * of the same mark loop — and the cleanup barrier (unpersist + GC)
  * between windows gives the bus time to drain in practice. Driver-side
  * GC is read directly from the GC MXBeans (task metrics only cover
  * executors; in local mode they share the JVM, but the driver's own
  * collector activity between tasks is real cost the task view misses).
  */
private class BenchMetricsListener extends org.apache.spark.scheduler.SparkListener {
  import java.util.concurrent.atomic.AtomicLong
  val gcMs = new AtomicLong
  val spillBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val taskMs = new AtomicLong
  val peakExecMem = new AtomicLong
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      gcMs.addAndGet(m.jvmGCTime)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      taskMs.addAndGet(m.executorRunTime)
      peakExecMem.updateAndGet(p => math.max(p, m.peakExecutionMemory))
      ()
    }
  }
  private def driverGcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }
  /** (task gc ms, spill bytes, shuffle-write bytes, task ms, driver gc ms). */
  def snapshot(): BenchMetricsListener.Snap = BenchMetricsListener.Snap(
    gcMs.get, spillBytes.get, shuffleWriteBytes.get, taskMs.get, driverGcMs)
}
private object BenchMetricsListener {
  case class Snap(gcMs: Long, spillBytes: Long, shuffleWriteBytes: Long,
      taskMs: Long, drvGcMs: Long) {
    def -(o: Snap): Snap = Snap(gcMs - o.gcMs, spillBytes - o.spillBytes,
      shuffleWriteBytes - o.shuffleWriteBytes, taskMs - o.taskMs,
      drvGcMs - o.drvGcMs)
  }
}

/** Benchmark main. Executes every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query runs through a noop sink (`format("noop")`) rather than
  * `count()`: count() lets Catalyst prune all projections, so a pure-
  * projection query would benchmark a bare scan instead of the operator
  * (round-1 verdict). The noop sink evaluates every output column and
  * discards rows — the honest cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start("graft-bench")
    val master = spark.sparkContext.master
    val metrics = new BenchMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    // Warm the session so the alphabetically-first query doesn't absorb
    // JVM startup cost: one parquet scan (footer reader, vectorized
    // reader classes) plus a synthetic window + shuffle-join + aggregate
    // round (janino, codegen'd operator base classes, Tungsten shuffle
    // paths). The synthetic round touches NO benchmark data and caches no
    // query results — it compiles infrastructure, not answers.
    try {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .write.format("noop").mode("overwrite").save()
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = spark.range(10000).select(col("id"), (col("id") % 97).as("k"),
        regexp_replace(concat(lit("w"), col("id")), "9", "x").as("s"))
      w.withColumn("rn", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("id"))))
        .join(w.select(col("k"), col("id").as("id2")), "k")
        .groupBy("k").agg(count(lit(1)).as("n"), sum(col("id2")).as("t"))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => }
    val only = args.toSet
    // Host-calibration mark (round-13 verdict #4): round totals on this
    // box swung 72.9 → 98.3 s on identical code under measured host
    // drift, so the 2x gate needs a denominator. One fixed pure-scan
    // probe — sum(length(text)) over documents, the shape of the
    // cheapest real marks — timed median-of-3 AFTER the warmup (so it
    // reads steady-state scan throughput, not JVM startup), reported as
    // `calibration_sec` beside `value` and EXCLUDED from the total.
    // Round-over-round: total/calibration_sec normalizes host drift
    // (SCALE.md documents the normalization).
    // Guarded like the warmup: the ONE-JSON-LINE contract must survive
    // a broken scan (missing table, bad dir) — the queries themselves
    // already report per-query failures; calibration reads null on
    // failure (round-14 advice: a -1 sentinel fed through the
    // total/calibration normalization produced a sign-flipped factor
    // instead of an obvious error — null makes the consumer fail loudly).
    val calibration: Option[Double] =
      try {
        val runs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          spark.read.parquet(s"$sfDir/documents.parquet")
            .selectExpr("sum(length(text)) AS b", "count(*) AS n")
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        Some(runs.sorted.apply(1))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] calibration FAILED: ${e.getMessage}")
        None
      }
    // Shared-memo setup mark (round-10 advice): the localCheckpoint memos
    // (MinHash rep graph + dup map, Cluster CC labels, LangModel scores)
    // deliberately survive the per-rep drain barrier below, so under
    // median-of-N the one cold rep that actually built a memo was
    // DISCARDED by the median — the signature/band/verify cost appeared
    // in no reported mark and the summed total silently excluded it.
    // Build them all ONCE here, timed, and report the cost as its own
    // `memo_build_shared` entry included in the total: per-query medians
    // then measure warm steady-state against an index built exactly
    // once — the same amortization a production deployment runs.
    // Skipped when a query filter is given and no memo consumer is in it.
    val memoConsumers = Set("dedup_delta_minhash",
      "dedup_minhash", "dedup_minhash_dupmap", "dedup_minhash_pairs",
      "dedup_minhash_stats", "pipeline_unique_docs", "dedup_minhash_clusters",
      "dedup_minhash_cluster_stats", "dedup_cluster_histogram", "dedup_keep_best",
      "quality_lm_transition", "quality_lm_buckets",
      "sim_ivf_topk", "sim_ivfpq_topk", "sim_ivfpq_rerank",
      "sim_ann_lsh", "sim_semdedup", "sim_embed_dedup", "sim_embed_dedup_mp",
      "dedup_semantic_text",
      "decontaminate_fuzzy", "decontaminate_attribution",
      "decontaminate_flags", "decontaminate_overlap",
      "dedup_jaccard_dupmap", "corpus_novelty",
      "mix_dsir_weights", "mix_dsir_weights_bigram", "quality_passed",
      "quality_histogram", "quality_reason_report", "quality_by_source",
      "tok_bpe_stats", "tok_wordpiece_stats", "tok_unigram_stats",
      "quality_cascade", "quality_histogram_refdefaults", "lang_distribution")
    // Per-mark metric deltas, run order, one entry per rep — the
    // mark-level self-explanation beside rep_spread (see
    // [[BenchMetricsListener]]). peakExecMem is a monotonic max, reset
    // before each window; everything else is cumulative and read by
    // delta after the cleanup barrier (bus-drain time).
    val snapsByQuery =
      scala.collection.mutable.LinkedHashMap
        .empty[String, Vector[(BenchMetricsListener.Snap, Long)]]
    def recordSnap(name: String, before: BenchMetricsListener.Snap): Unit =
      snapsByQuery(name) = snapsByQuery.getOrElse(name, Vector.empty) :+
        ((metrics.snapshot() - before, metrics.peakExecMem.get))
    val memoMark: Seq[(String, Double)] =
      if (only.nonEmpty && only.intersect(memoConsumers).isEmpty) Nil
      else {
        graft.pipeline.QueryMemo.phase = "memo_build"
        metrics.peakExecMem.set(0L)
        val snap0 = metrics.snapshot()
        val t0 = System.nanoTime()
        val ok =
          try { graft.pipeline.Memos.build(spark, sfDir); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] memo_build_shared FAILED: ${e.getMessage}"); false
          }
        // Window definition changed in round 17 (and is now recorded):
        // the mark stops BEFORE the cleanup barrier, matching every
        // per-query mark below ("cleanup time is excluded from the
        // mark"). Through round 16 this mark alone included the
        // drain+clearCache+GC barrier — round-over-round memo_build
        // comparisons across that boundary carry a ~1-3 s (at 100x)
        // definitional delta on top of any real change.
        val sec = (System.nanoTime() - t0) / 1e9
        CacheScope.drain()
        spark.catalog.clearCache()
        System.gc()
        recordSnap("memo_build_shared", snap0)
        Seq("memo_build_shared" -> (if (ok) sec else -1.0))
      }
    // Median-of-N per query (round-8 verdict #3): with identical binaries
    // the single-shot sweep moved 311.6 -> 254.7 s round-over-round and
    // individual queries by 3-4x (cold-vs-warm memo ordering, GC debt
    // carried across lexically adjacent dedup queries, block-manager
    // state). Each query runs REPS times with the full cleanup barrier
    // between reps; the reported mark is the (lower) median — the
    // statistic least moved by one cold outlier while still penalizing a
    // genuinely bimodal query. REPS=1 restores the old single-shot sweep.
    //
    // Rep ORDER is round-robin across the whole menu (round-16, closing
    // r15 verdict #1): rep 1 of every mark, then rep 2 of every mark, …
    // With back-to-back reps, a transient slow host window (~minutes of
    // CPU contention / thermal / page-cache pressure) lands ENTIRELY on
    // whichever 2-3 marks it straddles and shifts all their reps
    // together — a tight-spread 2.9x phantom regression on untouched
    // code (r_cohort_retention 0.537 builder vs 1.558 driver, r15) that
    // neither rep_spread nor the global calibration can explain.
    // Interleaved, the same window clips ONE rep of many marks instead:
    // per-mark medians shrug it off, and the per-round wall-clock totals
    // (`round_sec` in the artifact) name the slow round outright — the
    // self-contained explanation the sweep reading needs. Steady-state
    // semantics are unchanged: the identical cleanup barrier runs
    // between any two timed windows either way, and the shared memos
    // are built once before round 1.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val qlist = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val marksByQuery =
      scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    qlist.foreach { case (name, _) => marksByQuery(name) = Vector.empty }
    val roundSecs = (1 to reps).map { _ =>
      val tr0 = System.nanoTime()
      qlist.foreach { case (name, fn) =>
        graft.pipeline.QueryMemo.phase = name
        metrics.peakExecMem.set(0L)
        val snap0 = metrics.snapshot()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // Release this query's persisted intermediates before the next
        // timed window: operators persist multi-use subtrees (LSH
        // signatures, gram indexes), and 46 queries' worth of leftover
        // blocks evict each other mid-query — a full sweep measured
        // jaccard at 85 s vs 18 s standalone before this. The explicit GC
        // then collects the freed blocks NOW instead of mid-way through
        // the next timed window (cross-query GC debt measured as 1.2 vs
        // 4.2 s swings on the same query, same binary). Cleanup time is
        // excluded from the mark, matching a per-job submission model.
        // CacheScope.drain() is the engine's own lifecycle (unpersists
        // operator-registered frames); clearCache() remains as a belt-
        // and-braces sweep for anything cached outside the registry.
        CacheScope.drain()
        spark.catalog.clearCache()
        System.gc()
        // metric delta read AFTER the barrier: the explicit GC gives the
        // listener bus time to drain the window's late task-end events,
        // and no tasks run inside the barrier itself, so the window's
        // tasks are attributed to this mark. The barrier's own
        // driver-side GC rides in drv_gc_ms — by design: the collector
        // debt a query leaves behind is that query's cost.
        recordSnap(name, snap0)
        marksByQuery(name) :+= (if (ok) sec else -1.0)
      }
      (System.nanoTime() - tr0) / 1e9
    }
    val detailed = qlist.map { case (name, _) =>
      val marks = marksByQuery(name)
      // Median over the SUCCESSFUL reps (round-15 advice: sorting with
      // the -1 failure sentinels in place shifted the reported "median"
      // to the lower success); the MARK still reads -1 when any rep
      // failed — a flaky query is a failed query.
      val okMarks = marks.filter(_ >= 0).sorted
      val sec =
        if (okMarks.length < marks.length) -1.0
        else okMarks((okMarks.length - 1) / 2)
      // spread = successes ascending, then a null per failed rep
      (name, sec, okMarks ++ Seq.fill(marks.length - okMarks.length)(-1.0))
    }
    val results = memoMark ++ detailed.map { case (n, s, _) => (n, s) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val nFail = results.count(_._2 < 0)
    // Attribution audit (round-12 verdict #1): shared-memo builds that
    // ran INSIDE a query mark instead of memo_build_shared. A non-empty
    // map means those query marks absorbed index-construction cost —
    // the map says exactly which mark and how much, so round-over-round
    // totals decompose into real changes vs accounting shifts. (Two
    // classes land here by design and cost what they cost: memos for
    // queries outside `memoConsumers`, and rebuilds after an LRU/
    // fingerprint eviction mid-sweep.)
    val late = graft.pipeline.QueryMemo.lateBuilds()
    late.foreach { case (k, s) =>
      System.err.println(f"[bench] late memo build $k ${s}%.1f s")
    }
    val lateJson = late.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Per-mark rep spread (round-14 verdict #3): the driver sweep read
    // tok_stats at 3.63 s where the same binary read 0.71 s on the
    // builder's box, and the global calibration mark cannot localize a
    // one-rep stall. With the spread in the artifact, max >> median on
    // an untouched query reads as sweep noise in one look; a shifted
    // MEDIAN is the real regression signal. The list is the SUCCESSFUL
    // reps ascending, plus a trailing null per failed rep (round-15
    // advice: the old fixed [min, median, max] slots indexed across the
    // failure sentinels, mislabeling the median; and a -1 rendered as a
    // negative duration to noise-statistics consumers).
    def f3(v: Double) =
      if (v < 0) "null"
      else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val spreadJson = detailed.map { case (n, _, m) =>
      "\"" + n + "\":[" + m.map(f3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // Per-mark metric deltas in RUN order (rep 1..N — unlike rep_spread,
    // which sorts; run order aligns with round_sec, so "which round was
    // slow" and "what did that rep spend" read together). gc_ms = summed
    // task JVM GC; drv_gc_ms = driver collector delta incl. the cleanup
    // barrier's explicit GC; spill_mb = memory+disk shuffle/agg spill;
    // shuffle_mb = shuffle bytes written; task_sec = summed executor run
    // time (task-parallelism-weighted cost); peak_exec_mb = largest
    // single-task execution-memory peak in the window.
    val metricsJson = snapsByQuery.map { case (n, snaps) =>
      def longs(f: ((BenchMetricsListener.Snap, Long)) => Long) =
        snaps.map(f(_).toString).mkString("[", ",", "]")
      def mbs(f: ((BenchMetricsListener.Snap, Long)) => Long) =
        snaps.map(s => f3(f(s) / 1048576.0)).mkString("[", ",", "]")
      "\"" + n + "\":{\"gc_ms\":" + longs(_._1.gcMs) +
        ",\"drv_gc_ms\":" + longs(_._1.drvGcMs) +
        ",\"spill_mb\":" + mbs(_._1.spillBytes) +
        ",\"shuffle_mb\":" + mbs(_._1.shuffleWriteBytes) +
        ",\"task_sec\":" + snaps.map(s => f3(s._1.taskMs / 1000.0)).mkString("[", ",", "]") +
        ",\"peak_exec_mb\":" + mbs(_._2) + "}"
    }.mkString("{", ",", "}")
    val calJson = calibration.map(_.toString).getOrElse("null")
    // round_sec: wall-clock of each round-robin pass over the whole menu
    // (timed windows + cleanup barriers). A slow host window shows up as
    // one inflated round here — the sweep-level self-explanation for any
    // mark whose reps straddled it.
    val roundJson = roundSecs.map(f3).mkString("[", ",", "]")
    // Same-binary control run (round 17, closing the r16 verdict #3: the
    // "host window vs code regression" question was answered three
    // rounds running by a MANUAL worktree A/B living in SCALE.md prose —
    // the artifact itself should answer it). With
    // SPARK_GRAFT_CONTROL_JAR set to a prior-round binary (a jar or a
    // classes dir), a child JVM re-times the sentinel marks in the SAME
    // session window, control classes FIRST on the classpath so they
    // shadow ours while Spark's own jars ride along. The child's whole
    // one-line artifact embeds under `control` — its calibration_sec and
    // sentinel marks against this sweep's readings decide host-vs-code
    // in one look. The main session is stopped first so the control gets
    // the machine the main sweep had. No recursion: the var is scrubbed
    // from the child's env.
    //
    // Sentinel choice: default marks must not depend on ScratchCache
    // relations (grams, sigrep) — a control binary that predates a
    // cache-keying/format change rebuilds those from scratch inside its
    // reading (round 17 measured dedup_jaccard_dupmap at 28.5 s in the
    // child vs 11.4 s in the sweep purely from the grams rebuild under
    // the pre-r17 keying, while an interleaved fresh-JVM A/B read the
    // two binaries equal). Scratch-dependent marks are still available
    // explicitly via SPARK_GRAFT_CONTROL_MARKS.
    spark.stop()
    val controlJson: Option[String] = sys.env.get("SPARK_GRAFT_CONTROL_JAR").map { jar =>
      val marks = sys.env.getOrElse("SPARK_GRAFT_CONTROL_MARKS",
        "dedup_minhash_dupmap,sim_embed_dedup_mp," +
          "tok_encode,r_q1_pricing_summary").split(",").map(_.trim).filter(_.nonEmpty)
      val ref = sys.env.getOrElse("SPARK_GRAFT_CONTROL_REF", jar)
      def refJson = "\"ref\":\"" + jsonEscape(ref) + "\""
      try {
        import scala.jdk.CollectionConverters._
        val outFile = Files.createTempFile("graft_control_", ".json")
        val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
        val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.asScala.filterNot(_.startsWith("-javaagent")).toSeq
        val cp = jar + java.io.File.pathSeparator + System.getProperty("java.class.path")
        val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench") ++ marks
        val pb = new ProcessBuilder(cmd.asJava)
        pb.environment().put("SPARK_GRAFT_BENCH_OUT", outFile.toString)
        pb.environment().remove("SPARK_GRAFT_CONTROL_JAR")
        // the child prints its own JSON line — keep OUR stdout one-line
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val p = pb.start()
        val done = p.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
        if (!done) { p.destroyForcibly(); throw new RuntimeException("control timed out") }
        val line = Files.readString(outFile).trim
        if (p.exitValue() == 0 && line.startsWith("{") && line.endsWith("}"))
          s"""{$refJson,"artifact":$line}"""
        else s"""{$refJson,"error":"exit ${p.exitValue()}, no artifact"}"""
      } catch { case e: Throwable =>
        // The error path must never cost the artifact: getMessage can be
        // null (InterruptedException from waitFor) and Spark/Hadoop
        // messages span lines — a raw newline here would break the
        // one-line JSON contract AFTER spark.stop(), losing the whole
        // sweep's output (round-17 review).
        val msg = jsonEscape(Option(e.getMessage).getOrElse(e.getClass.getName))
        System.err.println(s"[bench] control run FAILED: $msg")
        s"""{$refJson,"error":"$msg"}"""
      }
    }
    val controlField = controlJson.map(c => s""","control":$c""").getOrElse("")
    // (helper lives below main: JSON string-literal escaping for the few
    // free-text fields — paths and error messages — that enter the
    // artifact; everything else is numeric or name-controlled.)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","calibration_sec":$calJson,"master":"${jsonEscape(master)}","queries":$qs,"failed":$nFail,"reps":$reps,"round_sec":$roundJson,"rep_spread":$spreadJson,"mark_metrics":$metricsJson,"late_memo_builds":$lateJson$controlField,"sf":"$sfDir"}"""
    println(json)
    // stdout goes through sbt's [info] prefix, which broke the driver's
    // parser in round 1 — also drop the raw line where it can be read back.
    Files.writeString(Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/bench_out.json")), json + "\n")
  }

  private def jsonEscape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => b.append("\\\\")
      case '"'  => b.append("\\\"")
      case c if c < 0x20 =>
        b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }
}
