package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.SortExec

/** Plan-shape regression tests (round-6 verdict #6): pin the number of
  * shuffle exchanges, broadcast exchanges, and sorts in the INITIAL
  * physical plan of the headline queries. Rounds 3 and 5 each re-found
  * planner regressions (AQE mis-coalescing, pushdown inlining) by bench
  * archaeology; a failing count here is the cheap early alarm. Counts are
  * taken before execution (AQE's initial plan), so they are partition-
  * and data-volume independent — a changed count means the QUERY SHAPE
  * changed: an added shuffle, a join strategy flip, a lost reuse.
  *
  * When a pin fails legitimately (an intentional plan improvement),
  * update the expected triple and say why in the commit.
  */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def shape(df: DataFrame): (Int, Int, Int) = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def count(p: SparkPlan, f: SparkPlan => Boolean): Int = {
      // collect() on SparkPlan stops at exchange boundaries' reused
      // subtrees only in AQE final plans; the initial plan is one tree.
      var n = 0
      p.foreach(node => if (f(node)) n += 1)
      n
    }
    (count(plan, _.isInstanceOf[ShuffleExchangeLike]),
      count(plan, _.isInstanceOf[BroadcastExchangeLike]),
      count(plan, _.isInstanceOf[SortExec]))
  }

  private def shapeOf(name: String): (Int, Int, Int) =
    shape(SparkEntry.queries(name)(spark, sfDir))

  /** (query, (shuffle exchanges, broadcast exchanges, sorts)). */
  private val pins: Seq[(String, (Int, Int, Int))] = Seq(
    // round 9: per-prefix-gram min-partner kernel replaces the candidate
    // self-join + two verify joins (+ their size-gated corpus broadcast):
    // no corpus-cardinality broadcast anywhere. Round 11: the chunk
    // machinery (posting-position windows + `posted` persist + chunk
    // branch — round 10's unconditional +4 shuffles/+2 sorts) is now
    // behind a 1-row max-posting-length probe, so at gate scales the
    // plan is the round-9 single-pass kernel shape; the chunk branch
    // (only taken when a posting list exceeds PostingChunkLen) stays
    // pinned by NearDupPropertySpec's forced chunkLen=2 run.
    // Round 12: the singleton-posting pre-filter joins the persisted
    // posting counts back into `prefix` before the gidArr payload join
    // (lossless by the prefix lemma; kernel stage 17.8 -> 1.7 s on the
    // realistic 100x corpus). At THIS fixture scale the filter's BHJ
    // inflates the size estimate of its output, so the gidArr join
    // plans SMJ (+2 shuffles, +2 sorts) where it used to broadcast the
    // tiny prefix side — a small-scale estimation artifact; at 100x
    // that join is SMJ either way and the query got 2x faster.
    // One attribution (MinHash.duplicateOfRepGraph): the kernel's
    // (rep, partner) rows fold into the min-partner groupBy by gb, and
    // members LEFT-join it, so only the partner side can be the build
    // side. At this fixture's estimates that join plans SMJ (+2 sorts,
    // the member side's exchange standing in for the dropped
    // groupBy(doc_id) one) where the inner member-expansion join
    // broadcast: (5, 2, 2) -> (5, 1, 4). AQE still turns it into a
    // broadcast at run time when the partner side is small.
    "dedup_jaccard_dupmap" -> ((5, 1, 4)),
    // round 9: the minhash family rides the memoized localCheckpoint
    // dupmap (MinHash.dupsFor) — the signature/band/verify subtree runs
    // once per (session, dir), so the per-query plans are a checkpoint
    // scan plus the query's own join/aggregate.
    "dedup_minhash" -> ((3, 0, 2)),
    "dedup_minhash_dupmap" -> ((0, 0, 0)),
    "dedup_minhash_stats" -> ((4, 1, 0)),
    "dedup_exact" -> ((2, 0, 2)),
    // round 11: lineitem loads as a PLAIN scan (no parallelizing spread
    // — a scan-agg reduces in place, so the round-robin exchange shipped
    // the full table to buy nothing); the one exchange left is the
    // 6-group aggregate's.
    "r_q1_pricing_summary" -> ((1, 0, 0)),
    "r_hourly_event_stats" -> ((2, 0, 0)),
    // round 10: the registered query reads the memoized IVF/PQ index
    // (Similarity.ivfIndexFor) — the cell-assign/PQ-encode subtree is a
    // checkpoint scan, dropping the shuffle the inline build carried.
    "sim_ivfpq_topk" -> ((1, 1, 2)),
    // round 11: rides the memoized cascade-verdict checkpoint — the
    // under-split spread the inline cascade carried is gone; one
    // ≤12-key rollup exchange remains.
    "quality_histogram" -> ((1, 0, 0)),
    "corpus_top_bigrams" -> ((2, 0, 0)),
    // round 7: verify stage is a per-bucket min-partner kernel replacing
    // the all-pairs join that shipped both vectors per candidate pair
    // (30x->100x exp 1.43). Round 11: vector + bucket come off the scan
    // in one HashedBow kernel pass — the (doc,dim) exchange, the
    // collect_list re-assembly, and the broadcast plane join are gone;
    // what remains is the gh collapse repartition, the per-bucket verify
    // groupBy, and the member-expansion broadcast (100x 8.1 -> 3.8 s).
    // (The collapse repartition sits inside the persisted
    // bucketedVectors frame, which this count does not enter: the two
    // shuffles are the verify groupBy's and the attribution's.)
    // One attribution (MinHash.duplicateOfRepGraph): the min-partner
    // groupBy by gb takes the exchange of the retired groupBy(doc_id),
    // and the members left-join broadcasts its output where the member
    // expansion broadcast the kernel pairs — no Union, same counts:
    // still (2, 1, 0).
    "dedup_semantic_text" -> ((2, 1, 0)),
    "doc_tfidf_keywords" -> ((4, 2, 2)),
    "mix_temperature" -> ((4, 3, 1)),
    // round 10: the per-row quality/diversity operators must stay
    // scan-local — the ONE exchange here is Tables.parallelized's
    // under-split ingest spread (absent at real scale by its size
    // check); a SECOND exchange means a rewrite broke the
    // zero-operator-shuffle property that makes these free at 100 TB.
    "doc_char_diversity" -> ((1, 0, 0)),
    "doc_word_diversity" -> ((1, 0, 0)),
    "quality_lang_margin" -> ((1, 0, 0)),
    "quality_dup_ngrams" -> ((1, 0, 0)),
    // ingest spread (hash on user_id) + (user, day) distinct + final
    // (cohort, offset) rollup; the user-keyed cohort join is satisfied
    // by the shared hash spread (1 broadcast at fixture stats, SMJ on
    // the co-hashed sides at scale).
    "r_cohort_retention" -> ((3, 1, 0)),
    // round 11: the exact decontamination tier is a scan-local kernel
    // probe of the driver-built broadcast bench gram set — the exploded
    // gram relation, its broadcast join, and both doc_id exchanges are
    // gone (the fuzzy-tier shape, applied to the exact tier). The one
    // shuffle is the documents under-split spread (Tables.parallelized),
    // which the per-doc gram kernel is exactly the consumer class for.
    "decontaminate_overlap" -> ((1, 0, 0)),
    "decontaminate_flags" -> ((1, 0, 0)),
    // round 11: shuffle-shard = range bucketing + the bucket-count
    // rollup + carry exchanges, the broadcast carry join, and the two
    // sorts (range partitioner sample + in-bucket rank order).
    "pack_shuffle_shards" -> ((3, 1, 2)),
    // round 11: novelty = spread + gram-winner groupBy chain; the
    // doc-cardinality output join plans broadcast from the estimated
    // aggregate size at this scale (unhinted — SMJ once stats exceed
    // the threshold at corpus scale).
    "corpus_novelty" -> ((2, 1, 0)))

  for ((name, want) <- pins)
    test(s"plan shape pinned: $name") {
      val got = shapeOf(name)
      info(s"$name -> shuffles=${got._1} broadcasts=${got._2} sorts=${got._3}")
      assert(got == want, s"$name plan shape drifted: got $got, pinned $want")
    }


  test("plan shape pinned: MinHash.duplicateOf (unmemoized dedup of Pipeline.run)") {
    // Start from an empty cache: earlier pins in this suite run
    // repGraphFor, whose persists the cache manager would match on
    // canonicalized-plan equality, so the plan below would depend on
    // which suites ran first.
    spark.catalog.clearCache()
    val dups = graft.pipeline.MinHash.duplicateOf(Tables.documents(spark, sfDir))
    val got = shape(dups)
    info(s"duplicateOf -> shuffles=${got._1} broadcasts=${got._2} sorts=${got._3}")
    // This pin held the CC edge list (MinHash.clusterEdges) until that
    // unmemoized clustering path, which nothing called, was deleted; it
    // now holds the composition Pipeline.run's dedup executes on the
    // same fixture. The repGraph collapse is persisted, so its window
    // is an in-memory scan here. What is left is the (band, bh) bucket
    // shuffle and the hot-bucket key broadcast of the verified pairs,
    // plus the attribution's min-partner groupBy by gb and the members
    // sort-merge join on gid (the member side's exchange and both sorts).
    assert(got == ((3, 1, 2)), s"duplicateOf plan shape drifted: got $got")
  }

  /** Node names of a query's executed plan after a collect: each adaptive
    * plan's initial and final plan (AQE drops a Union at run time when
    * its inputs turn out empty, as the embedding dedups' are on this
    * fixture), together with the plans of the cached frames it scans. */
  private def executedNodeNames(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    object H extends AdaptiveSparkPlanHelper
    df.collect()
    def names(p: SparkPlan): Seq[String] = H.collect(p) {
      case a: AdaptiveSparkPlanExec => a.nodeName +: names(a.initialPlan)
      case s: InMemoryTableScanExec => s.nodeName +: names(s.relation.cachedPlan)
      case n => Seq(n.nodeName)
    }.flatten
    names(df.queryExecution.executedPlan)
  }

  // Every near-dup operator builds its dup map through one attribution
  // (MinHash.duplicateOfRepGraph): members join the per-group min
  // partner, with no member x partner union and no corpus-wide groupBy.
  for (name <- Seq("dedup_simhash_dupmap", "dedup_jaccard_dupmap", "dedup_semantic_text",
      "sim_embed_dedup", "sim_embed_dedup_mp", "sim_semdedup"))
    test(s"no Union in the executed plan: $name") {
      val nodes = executedNodeNames(SparkEntry.queries(name)(spark, sfDir))
      assert(nodes.nonEmpty)
      assert(!nodes.contains("Union"), s"$name executes a Union: ${nodes.mkString(", ")}")
    }
}
