package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Force-build the cross-query [[QueryMemo]]s of a table directory:
  * every chain, or only those a filtered run's queries read.
  *
  * The localCheckpoint memos (MinHash rep graph + dup map, Cluster CC
  * labels, LangModel transition scores) deliberately survive the bench
  * harness's per-query [[graft.CacheScope]] release — they are the
  * "build the dedup index once, query it many times" model a
  * production pipeline amortizes the same way. That made median-of-N
  * timing dishonest: the one cold rep that actually built a memo was
  * discarded by the median, so the signature/band/verify cost appeared
  * in NO reported mark. [[graft.Bench]] calls this ONCE, timed, and
  * reports it as the `memo_build_shared` entry included in the total;
  * every query median then measures warm steady-state.
  */
object Memos {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-component timing: the memo build is the top mark of every 100x
    * sweep, so its internal split is the first thing a perf
    * investigation needs (scale-probe sweeps read these lines). */
  private def timed(name: String)(f: => Any): Unit = {
    val t0 = System.nanoTime()
    f
    log.info(f"[graft.memos] $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** One dependency chain: the registered queries that read its memos,
    * and its build steps in order. */
  private[graft] final case class Chain(consumers: Set[String],
      steps: Seq[(String, (SparkSession, String) => Any)])

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
    * per-build `timed` lines now overlap in wall-clock. `graft.Probe memo`
    * times the same steps one at a time, in list order. */
  private[graft] val chains: Seq[Chain] = Seq(
    Chain( // rep graph: eager checkpoints; ONE member-attribution pass
      // (round 13) materializes dup-map + cluster labels together —
      // dupsFor / clustersFor are filter-projections of its checkpoint.
      Set("dedup_minhash", "dedup_minhash_dupmap", "dedup_minhash_pairs",
        "dedup_minhash_stats", "pipeline_unique_docs", "dedup_minhash_clusters",
        "dedup_minhash_cluster_stats", "dedup_cluster_histogram", "dedup_keep_best"),
      Seq("rep_graph" -> ((s, d) => MinHash.repGraphFor(s, d)),
        "member_attrs" -> ((s, d) => MinHash.memberAttrsFor(s, d)))),
    Chain( // delta-dedup signature store: the corpus-snapshot index every
      // incremental batch probes (signatures + pre-exploded bands).
      Set("dedup_delta_minhash"),
      Seq("delta_sig_store" -> ((s, d) => MinHash.sigStoreFor(s, d)))),
    Chain( // shared trigram relation; the fuzzy index derives from it.
      Set("corpus_novelty", "dedup_jaccard_dupmap",
        "decontaminate_fuzzy", "decontaminate_attribution"),
      Seq("grams" -> ((s, d) => Grams.gramsFor(s, d)),
        "fuzzy_index" -> ((s, d) => Contamination.fuzzyIxFor(s, d)))),
    Chain( // config-independent scalar metrics; verdicts + passed ids derive.
      Set("lang_distribution", "quality_cascade", "quality_histogram",
        "quality_histogram_refdefaults", "quality_by_source", "quality_reason_report",
        "quality_passed", "mix_dsir_weights", "mix_dsir_weights_bigram"),
      Seq("metrics" -> ((s, d) => Quality.metricsFor(s, d)),
        "reasons" -> ((s, d) => Quality.reasonsFor(s, d)),
        "passed_ids" -> ((s, d) => Quality.passedIdsFor(s, d)))),
    Chain(Set("quality_lm_transition", "quality_lm_buckets"),
      Seq("lm_scores" -> ((s, d) =>
        LangModel.scoresFor(s, d).write.format("noop").mode("overwrite").save()))),
    Chain(Set("sim_ivf_topk", "sim_ivfpq_topk", "sim_ivfpq_rerank", "sim_ann_lsh",
        "sim_semdedup", "sim_embed_dedup", "sim_embed_dedup_mp", "dedup_semantic_text"),
      Seq("emb_count" -> ((s, d) => graft.relational.Similarity.embCountFor(s, d)),
        "ivf_index" -> ((s, d) => graft.relational.Similarity.ivfIndexFor(s, d)),
        "doc_count" -> ((s, d) => TextEmbed.docCountFor(s, d)))),
    Chain(Set("decontaminate_flags", "decontaminate_overlap"),
      Seq("bench_grams" -> ((s, d) => Contamination.benchGramsFor(s, d)))),
    Chain(WordEncoder.queries.keySet,
      Seq("lexicon" -> ((s, d) => Bpe.lexiconFor(s, d)))))

  /** The chains a run of the queries `only` reads; every chain when
    * `only` is empty (an unfiltered run). */
  private[graft] def chainsFor(only: Set[String]): Seq[Chain] =
    if (only.isEmpty) chains else chains.filter(_.consumers.exists(only))

  /** Builds `selected` concurrently, one thread per chain (measured on
    * the gate corpus: ~25-35% under the sequential build). Each chain is
    * a [[graft.CacheScope.within]] scope on its own thread: the frames a
    * chain persists live until its last step has read them, and no
    * chain releases another's. */
  def build(s: SparkSession, d: String, selected: Seq[Chain]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(selected.size)
    try {
      val futs = selected.map { chain =>
        pool.submit(new Runnable {
          def run(): Unit = graft.CacheScope.within {
            chain.steps.foreach { case (n, f) => timed(n)(f(s, d)) }
          }
        })
      }
      futs.foreach(_.get()) // propagate the first failing chain
    } finally pool.shutdown()
  }
}
