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
    "dedup_jaccard_dupmap" -> ((5, 2, 2)),
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


  test("plan shape pinned: minhash cluster edge list (CC per-round input)") {
    // Start from an empty cache: earlier pins in this suite run
    // repGraphFor, whose persists the cache manager would match on
    // canonicalized-plan equality, so the plan below would depend on
    // which suites ran first.
    spark.catalog.clearCache()
    val edges = graft.pipeline.MinHash.clusterEdges(Tables.documents(spark, sfDir))
    val got = shape(edges)
    info(s"clusterEdges -> shuffles=${got._1} broadcasts=${got._2} sorts=${got._3}")
    // round 11: the per-bucket verify kernel (one groupBy on (band, bh))
    // replaced the band self-join + distinct + two broadcast verify
    // joins; the one broadcast is the hot-bucket key pre-filter (the
    // payload shuffle only ships reps whose bucket can pair).
    // Round 13: the adaptive unique-row collapse bypass (this corpus
    // takes it) adds the narrow gh-count shuffle + the dup-branch
    // window repartition (its window sorts are the two sorts) and two
    // broadcasts for the dup-key anti/semi joins — the trade that
    // keeps corpus-wide SIGNATURE BYTES out of the collapse exchange
    // (only the narrow 8-byte key pass and the duplicate-candidate
    // subset shuffle).
    // Since repGraph persists the collapse (its bucket-stats probe, the
    // verified pairs and the members all read it, and each read re-ran
    // the window), the collapse subtree this plan reads twice (members
    // and reps) is an in-memory scan on both reads: its window
    // repartitions, window sorts and dup-key broadcasts are gone from
    // the plan. What is left is the (band, bh) bucket shuffle and the
    // hot-bucket key broadcast: (3, 4, 2) -> (1, 1, 0).
    assert(got == ((1, 1, 0)), s"clusterEdges plan shape drifted: got $got")
  }
}
