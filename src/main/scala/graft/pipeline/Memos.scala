package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Force-build every cross-query [[QueryMemo]] for a table directory.
  *
  * The localCheckpoint memos (MinHash rep graph + dup map, Cluster CC
  * labels, LangModel transition scores) deliberately survive the bench
  * harness's per-rep `CacheScope.drain()`/`clearCache()` barrier — they
  * are the "build the dedup index once, query it many times" model a
  * production pipeline amortizes the same way. That made median-of-N
  * timing dishonest: the one cold rep that actually built a memo was
  * discarded by the median, so the signature/band/verify cost appeared
  * in NO reported mark. [[graft.Bench]] calls this ONCE, timed, and
  * reports it as the `memo_build_shared` entry included in the total;
  * every query median then measures warm steady-state.
  */
object Memos {
  /** Per-component stderr timing: the memo build is the top mark of
    * every 100x sweep, so its internal split is the first thing a
    * perf investigation needs (scale-probe sweeps read these lines). */
  private def timed(name: String)(f: => Any): Unit = {
    val t0 = System.nanoTime()
    f
    System.err.println(
      f"[graft.memos] $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** The builds form independent DEPENDENCY CHAINS and run concurrently
    * (round 12): Spark's scheduler interleaves jobs submitted from
    * multiple threads, and most builds leave cores idle in their scan
    * or driver-collect phases — sequentially the memo was the top mark
    * of every 100x sweep while the cluster sat underutilized. Each
    * chain is sequential within itself (dupmap/cc consume the rep
    * graph; reasons/passed derive from metrics; fuzzy consumes grams),
    * so every shared [[QueryMemo]] is populated before its dependents
    * look it up, and each memo's own lock serializes any residual race
    * to a single evaluation. Results are build-order independent; the
    * per-build `timed` lines now overlap in wall-clock. */
  private val chains: Seq[Seq[(String, (SparkSession, String) => Any)]] = Seq(
    Seq( // rep graph: eager checkpoints; ONE member-attribution pass
      // (round 13) materializes dup-map + cluster labels together —
      // dupsFor / clustersFor are filter-projections of its checkpoint.
      "rep_graph" -> ((s, d) => MinHash.repGraphFor(s, d)),
      "member_attrs" -> ((s, d) => MinHash.memberAttrsFor(s, d))),
    Seq( // delta-dedup signature store: the corpus-snapshot index every
      // incremental batch probes (signatures + pre-exploded bands).
      "delta_sig_store" -> ((s, d) => MinHash.sigStoreFor(s, d))),
    Seq( // shared trigram relation; the fuzzy index derives from it.
      "grams" -> ((s, d) => Grams.gramsFor(s, d)),
      "fuzzy_index" -> ((s, d) => Contamination.fuzzyIxFor(s, d))),
    Seq( // config-independent scalar metrics; verdicts + passed ids derive.
      "metrics" -> ((s, d) => Quality.metricsFor(s, d)),
      "reasons" -> ((s, d) => Quality.reasonsFor(s, d)),
      "passed_ids" -> ((s, d) => Quality.passedIdsFor(s, d))),
    Seq("lm_scores" -> ((s, d) =>
      LangModel.scoresFor(s, d).write.format("noop").mode("overwrite").save())),
    Seq("emb_count" -> ((s, d) => graft.relational.Similarity.embCountFor(s, d)),
      "ivf_index" -> ((s, d) => graft.relational.Similarity.ivfIndexFor(s, d)),
      "doc_count" -> ((s, d) => TextEmbed.docCountFor(s, d))),
    Seq("bench_grams" -> ((s, d) => Contamination.benchGramsFor(s, d))),
    Seq("lexicon" -> ((s, d) => Bpe.lexiconFor(s, d))))

  /** Builds the chains concurrently, one thread per chain (measured on
    * the gate corpus: ~25-35% under the sequential build). */
  def build(s: SparkSession, d: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(chains.size)
    try {
      val futs = chains.map { steps =>
        pool.submit(new Runnable {
          def run(): Unit = steps.foreach { case (n, f) => timed(n)(f(s, d)) }
        })
      }
      futs.foreach(_.get()) // propagate the first failing chain
    } finally pool.shutdown()
  }
}
