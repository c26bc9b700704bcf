package graft

/** Shared-memo build profiler — the `memo_build_shared` mark is the
  * largest entry of every driver sweep (r17: 29.7 s of 163 driver-side,
  * 8–12 s of the close sweeps), and [[graft.pipeline.Memos]]' own
  * per-chain stderr lines overlap in wall-clock under the concurrent
  * build, so attributing the mark needs a SEQUENTIAL pass with a
  * cleanup barrier between components. This main times each step of
  * the same chain list, [[graft.pipeline.Memos.chains]], in list order
  * and in isolation (same session, fresh memo state per JVM); the whole
  * concurrent build, in a second JVM, is the number to compare against
  * `memo_build_shared`.
  *
  * Usage: `graft.ProbeMemo <sfDir>` (bench env contract:
  * SPARK_GRAFT_CPUS, optional SPARK_GRAFT_CHECKPOINT_DIR).
  */
object ProbeMemo {

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.start("graft-probe-memo")
    // bench-identical warmup
    spark.read.parquet(s"$d/documents.parquet")
      .write.format("noop").mode("overwrite").save()
    // Each step is a cache scope, then a GC: its persisted frames are
    // released and collected before the next step is timed.
    def t(name: String)(f: => Any): Unit = {
      CacheScope.within {
        val t0 = System.nanoTime()
        f
        println(f"[probe.memo] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      System.gc()
    }
    import graft.pipeline._
    t("signatures_noop") {
      MinHash.signatures(Tables.documents(spark, d))
        .write.format("noop").mode("overwrite").save()
    }
    Memos.chains.flatMap(_.steps).foreach { case (name, f) => t(name)(f(spark, d)) }
    spark.stop()
  }
}
