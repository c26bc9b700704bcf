package graft

import org.apache.spark.sql.SparkSession

/** Shared-memo build profiler — the `memo_build_shared` mark is the
  * largest entry of every driver sweep (r17: 29.7 s of 163 driver-side,
  * 8–12 s of the close sweeps), and [[graft.pipeline.Memos]]' own
  * per-chain stderr lines overlap in wall-clock under the concurrent
  * build, so attributing the mark needs a SEQUENTIAL pass with a
  * cleanup barrier between components. This main times each memo
  * component in isolation (same session, fresh memo state per JVM),
  * then the whole concurrent build in a second JVM is the number to
  * compare against `memo_build_shared`.
  *
  * Usage: `graft.ProbeMemo <sfDir> [reps]` (bench env contract:
  * SPARK_GRAFT_CPUS, optional SPARK_GRAFT_CHECKPOINT_DIR).
  */
object ProbeMemo {

  private def barrier(spark: SparkSession): Unit = {
    CacheScope.drain()
    spark.catalog.clearCache()
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.start("graft-probe-memo")
    // bench-identical warmup
    spark.read.parquet(s"$d/documents.parquet")
      .write.format("noop").mode("overwrite").save()
    def t(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[probe.memo] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      barrier(spark)
    }
    import graft.pipeline._
    t("signatures_noop") {
      MinHash.signatures(Tables.documents(spark, d))
        .write.format("noop").mode("overwrite").save()
    }
    t("rep_graph")(MinHash.repGraphFor(spark, d))
    t("member_attrs")(MinHash.dupsFor(spark, d)) // builds the member_attrs memo
    t("delta_sig_store")(MinHash.sigStoreFor(spark, d))
    t("grams")(Grams.gramsFor(spark, d))
    t("fuzzy_index")(Contamination.fuzzyIxFor(spark, d))
    t("metrics")(Quality.metricsFor(spark, d))
    t("reasons")(Quality.reasonsFor(spark, d))
    t("passed_ids")(Quality.passedIdsFor(spark, d))
    t("lm_scores")(LangModel.scoresFor(spark, d)
      .write.format("noop").mode("overwrite").save())
    t("emb_count")(graft.relational.Similarity.embCountFor(spark, d))
    t("ivf_index")(graft.relational.Similarity.ivfIndexFor(spark, d))
    t("doc_count")(TextEmbed.docCountFor(spark, d))
    t("bench_grams")(Contamination.benchGramsFor(spark, d))
    t("lexicon")(Bpe.lexiconFor(spark, d))
    spark.stop()
  }
}
