package graft.pipeline

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The rest of the near-duplicate family from the builder brief:
  * SimHash, exact n-gram Jaccard join, and winnowing fingerprints.
  * (Exact hash dedup: [[Dedup]]; MinHash LSH: [[MinHash]];
  * embedding-cosine: [[graft.relational.Similarity.embedDedup]].)
  *
  * All three follow the MinHash playbook: deterministic integer
  * arithmetic shared bit-for-bit with a DuckDB oracle, narrow per-row
  * hashing, and block/inverted-index joins instead of all-pairs.
  */
object NearDup {

  // -----------------------------------------------------------------------
  // SimHash (32-bit) with pigeonhole-blocked Hamming join
  // -----------------------------------------------------------------------

  val SimBits = 62 // 31 bits from h, 31 from a derived second hash
  val NumChunks = 4 // 16-bit chunks; Hamming <= 3 guarantees a shared chunk
  val MaxHamming = 3
  val ChunkBits = 16
  /** second-hash affine constants (same LCG family, seed 99). */
  val A2 = 1431655765L % MinHash.P
  val B2 = 858993459L % MinHash.P

  /** 62-bit SimHash over the shingle-hash multiset: bit b is the sign of
    * the +-1 vote sum of each shingle's bit b; bits 31..61 come from the
    * affine-derived second hash (the poly hash only carries 31 bits — 32
    * bits proved too coarse: same-vocabulary corpora collapse to within
    * 3 Hamming of each other). Window duplicates weight the vote —
    * identically in the oracle. */
  def simHash(text: String): Long = {
    val hashes = MinHash.shingleHashes(text)
    val h2 = new Array[Long](hashes.length)
    var i = 0
    while (i < hashes.length) { h2(i) = (A2 * hashes(i) + B2) % MinHash.P; i += 1 }
    var result = 0L
    var b = 0
    while (b < SimBits) {
      var w = 0L
      var j = 0
      while (j < hashes.length) {
        val src = if (b < 31) hashes(j) >> b else h2(j) >> (b - 31)
        w += (if ((src & 1L) == 1L) 1L else -1L)
        j += 1
      }
      if (w > 0) result |= (1L << b)
      b += 1
    }
    result
  }

  /** Native codegen'd expression form (graft.functions.SimHashExpression). */
  private def simHashUdf(c: org.apache.spark.sql.Column) = graft.functions.SimHash(c)

  /** Duplicate -> original attribution: block on the 4 16-bit chunks
    * (pigeonhole: Hamming <= 3 differing bits cannot touch all 4 chunks),
    * then enumerate + verify each bucket in a tight JVM loop
    * (`groupByKey.flatMapGroups`): all (a < b, popcount(xor) <=
    * MaxHamming) pairs among the bucket's (doc_id, sh) members. Only
    * survivors leave the group function, so a hot bucket of k docs costs
    * k^2 xor+popcounts in registers instead of k^2 join-machinery rows —
    * a same-vocabulary 50k-doc corpus produced 75M chunk collisions but
    * only ~44k true pairs (a self-join spent ~30 s on enumeration alone).
    * Skew note: one bucket = one task either way (identical to the
    * SMJ's per-key group); pathological buckets would be capped/salted
    * upstream, as with the MinHash bands. A pair sharing several chunks
    * is emitted once per shared bucket; the final groupBy(id_b).min(id_a)
    * is duplicate-insensitive. */
  def simhashDuplicateOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ss = docs.sparkSession
    import ss.implicits._
    // Hot-bucket skew guard (same argument as MinHash.duplicateOf): docs
    // with an IDENTICAL simhash collapse to one representative before
    // blocking — a k-copy boilerplate cluster costs one bucket row, not a
    // k^2 pair enumeration. Hamming verification is a pure function of
    // the two sh values and a group's min member below any doc is the
    // group's global min, so the expansion below is result-identical.
    // The window key is a plain long — the cheapest possible shuffle.
    val withG = docs.select(col("doc_id"), simHashUdf(col("text")).as("sh"))
      .withColumn("gid", min(col("doc_id")).over(Window.partitionBy(col("sh"))))
      .transform(graft.CacheScope.persist)
    val reps = withG.filter(col("doc_id") === col("gid")).select(col("gid"), col("sh"))
    val blocks = reps.select(col("gid"), col("sh"),
      explode(expr(
        s"transform(sequence(0, ${NumChunks - 1}), c -> c * ${1L << ChunkBits} + ((sh >> ($ChunkBits * c)) & ${(1 << ChunkBits) - 1}))"))
        .as("bucket")).as[(Long, Long, Long)]
    val repPairs = blocks.groupByKey(_._3)
      .flatMapGroups { (_, members) =>
        val buf = members.toArray
        val n = buf.length
        val out = List.newBuilder[(Long, Long)]
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            if (java.lang.Long.bitCount(buf(i)._2 ^ buf(j)._2) <= MaxHamming) {
              if (buf(i)._1 < buf(j)._1) out += ((buf(i)._1, buf(j)._1))
              else if (buf(j)._1 < buf(i)._1) out += ((buf(j)._1, buf(i)._1))
            }
            j += 1
          }
          i += 1
        }
        out.result()
      }
      .toDF("ga", "gb")
    val partners = repPairs.select(col("ga").as("gid"), col("gb").as("cand"))
      .union(repPairs.select(col("gb").as("gid"), col("ga").as("cand")))
    val members = withG.select(col("doc_id"), col("gid"))
    members.join(partners, "gid")
      .filter(col("cand") < col("doc_id"))
      .select(col("doc_id"), col("cand"))
      .union(members.filter(col("doc_id") =!= col("gid"))
        .select(col("doc_id"), col("gid").as("cand")))
      .groupBy(col("doc_id").as("duplicate_id"))
      .agg(min(col("cand")).as("original_id"))
  }

  // -----------------------------------------------------------------------
  // Exact word-trigram Jaccard via inverted-index join
  // -----------------------------------------------------------------------

  /** jaccard >= 0.6 as the integer compare 10*inter >= 6*union. */
  val JaccardNumer = 6
  val JaccardDenom = 10

  /** Distinct word trigrams, first-occurrence order — the same semantics
    * as `array_distinct(transform(...))` over `filter(split(lower(text),
    * '\s+'), w -> w <> '')`, but as one tight JVM pass. The HOF spelling
    * re-evaluated the split per `element_at` lambda (CollapseProject +
    * Generate both inline the alias), which made the trigram build alone
    * cost 257 s at the 50k-doc probe; this kernel does it in <1 s. */
  def trigrams(text: String): Array[String] = {
    val w = WsSplitJac.split(text.toLowerCase(Locale.ROOT), -1).filter(_.nonEmpty)
    if (w.length < 3) Array.empty[String]
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + 2 < w.length) { seen.add(w(i) + " " + w(i + 1) + " " + w(i + 2)); i += 1 }
      seen.toArray(new Array[String](seen.size))
    }
  }
  private val WsSplitJac = java.util.regex.Pattern.compile("\\s+")

  /** Exact set-similarity self-join with PREFIX FILTERING (Bayardo
    * et al.'s All-Pairs): candidates only need to collide on the
    * `n - ceil(t*n) + 1` globally-rarest grams of each doc, so hot grams
    * (quadratic pair blowup — a naive inverted-index join ran >540 s on
    * the 10x/50k-doc scale probe because a 31-word vocabulary makes
    * every trigram hot) never generate candidates. Exact: the prefix
    * lemma guarantees no false negatives, and the naive DuckDB oracle
    * arbitrates that — results are hash-identical to the unpruned join. */
  /** Posting-list chunk bound for the min-partner kernel: a gram whose
    * posting list exceeds this many docs is split into doc_id-ordered
    * chunks of at most this size and scanned per chunk PAIR instead of
    * as one row. Caps the bytes a single row can reach (a hot gram's
    * list materializes O(k·|ga|) into one collect_list row — 2 GB row
    * limit / executor OOM at corpus scale) and spreads the worst-case
    * O(k²) filter scan over C(C+1)/2 bounded tasks instead of one.
    * 4096 × a ~1 KB gram struct ≈ 4 MB per row — comfortably under any
    * limit while keeping every gate/bench corpus on the single-row
    * fast path (prefix grams are each doc's RAREST grams; a >4096-doc
    * posting list means a >4096-member near-dup cluster). */
  val PostingChunkLen = 4096

  def jaccardDuplicateOf(docs: DataFrame): DataFrame =
    jaccardDuplicateOf(docs, PostingChunkLen)

  private[graft] def jaccardDuplicateOf(docs: DataFrame, chunkLen: Int): DataFrame =
    jaccardOverGrams(Grams.triFrame(docs), chunkLen)

  /** The PPJoin chain over an already-built `(doc_id, ga)` trigram
    * relation ([[Grams.triFrame]] — or the [[Grams.gramsFor]]
    * checkpoint, which the `dedup_jaccard_dupmap` registration rides so
    * the trigram kernel + explode run once per table directory, shared
    * with `corpus_novelty` and the fuzzy decontamination index). */
  private[graft] def jaccardOverGrams(tri: DataFrame, chunkLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Explicit partition counts on the reused frames, each keyed by the
    // column its consumers join/group on, serve two purposes: (a) the
    // partitioning is REUSED across stages (groupBy/window/self-join run
    // exchange-free on top of the persisted layout), and (b) AQE never
    // coalesces user-specified counts. The latter matters: these frames
    // are small in BYTES (AQE's coalescing currency) but the self-join
    // below explodes them into millions of candidate pairs — size-based
    // coalescing once collapsed the whole chain to ONE partition and ran
    // the join single-threaded for 89 s.
    val numParts = tri.sparkSession.sparkContext.defaultParallelism
    // Hot-cluster skew guard (same argument as MinHash.duplicateOf): docs
    // with an IDENTICAL gram array collapse to one representative before
    // the join — a k-copy boilerplate cluster costs one prefix row, not a
    // k^2 candidate explosion. Jaccard is a pure function of the two gram
    // sets, so group-level verification + the member expansion at the end
    // is result-identical. Docs with NO grams (< 3 words) are dropped
    // outright by the tri frame: an empty set shares no gram with
    // anything, so they can never be candidates (identical to the
    // exploded form, where they contribute zero rows).
    // The collapse exchange is DRIVEN by the 8-byte xxhash64 of the gram
    // array (explicit repartition; HashPartitioning on a subset of the
    // window's ClusteredDistribution keys needs no second exchange), and
    // the window spec keeps the full array alongside the hash, so groups
    // are exact (gh, ga) pairs — a hash collision splits into distinct
    // groups, never merges. The sort comparator short-circuits on the
    // long, so raw ~60-string arrays are compared only within true groups.
    val withG = tri
      .withColumn("gh", xxhash64(col("ga")))
      .repartition(numParts, col("gh"))
      .withColumn("gid", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("gh"), col("ga"))))
      .drop("gh")
      .transform(graft.CacheScope.persist)
    val repsArr = withG.filter(col("doc_id") === col("gid"))
      .select(col("gid").as("doc_id"), col("ga"))
    // PERSISTED: `grams` feeds the df-count and the dictionary join;
    // `gramsG` feeds both the prefix index and the verification arrays —
    // persisting the reused skinny frames is the multi-use-subtree idiom.
    val grams = repsArr.withColumn("n", size(col("ga")))
      .select(col("doc_id"), col("n"), explode(col("ga")).as("g"))
      .repartition(numParts, col("g"))
      .transform(graft.CacheScope.persist)
    // Dictionary-encode grams as dense ints in global rarity order
    // (document frequency, gram) — EXACT (no hash collisions), and gid
    // order *is* the rarity order, so downstream sorts/windows use the
    // int. String join keys and per-pair string-array intersections were
    // ~2x the whole query's cost at the 50k-doc probe. Id assignment is
    // fully distributed: range-partition + sort by (df, g) gives a global
    // total order across partitions, and zipWithIndex turns that into
    // dense ranks with per-partition offsets (one extra count job; no
    // row ever funnels through a single partition — a 100 TB corpus's
    // trigram universe is itself corpus-scale). The prefix-filter lemma
    // only needs SOME consistent total order, and (df, g) is a unique
    // key, so the ids are identical to what a global row_number would
    // assign.
    val ss = tri.sparkSession
    import ss.implicits._
    val gramDict = ss.createDataFrame(
        grams.groupBy("g").agg(count(lit(1)).as("df"))
          .repartitionByRange(numParts, col("df"), col("g"))
          .sortWithinPartitions(col("df"), col("g"))
          .select(col("g")).as[String].rdd
          .zipWithIndex().map { case (g, idx) => (g, (idx + 1).toInt) })
      .toDF("g", "gid")
    val gramsG = grams.join(gramDict, "g")
      .select(col("doc_id"), col("n"), col("gid"))
      .repartition(numParts, col("doc_id"))
      .transform(graft.CacheScope.persist)
    val t = JaccardNumer.toDouble / JaccardDenom
    // rk = position of gid in the doc's grams sorted by global rarity; kept
    // past the prefix cut because the positional filter below needs it.
    val prefix = gramsG
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("gid"))))
      .filter(col("rk") <= col("n") - ceil(lit(t) * col("n")) + 1)
      .select(col("doc_id"), col("gid"), col("n"), col("rk"))
      .repartition(numParts, col("gid"))
      .transform(graft.CacheScope.persist)
    // Candidate generation + verification, MIN-PARTNER KERNEL form
    // (round 9; the TextEmbed.minPartnerUdf idiom ported to set
    // similarity). The dup map only ever consumes ONE fact per
    // representative — its MINIMUM verified smaller-id partner: a rep's
    // own members carry the rep id as an in-group candidate that beats
    // any partner above the rep, and the rep's own row filters to
    // cand < rep — so of the old candidate-join/verify-join output, only
    // the per-rep minimum survives the final min. That licenses
    // replacing the prefix self-join (pair enumeration quadratic in
    // posting-list length — 71.9 s / exp 0.86 at the 100x probe, where a
    // planted cluster's pairs grow with factor²) with a per-prefix-gram
    // kernel over the id-sorted posting list: for each doc, scan earlier
    // docs ASCENDING and emit the first pair that passes the two PPJoin
    // prunes (Xiao et al.; with t = N/D, jaccard >= t ⟺ (D+N)·inter >=
    // N·(n_a+n_b)):
    //  - length filter: inter <= min(n_x, n_y), so N·max <= D·min is
    //    necessary (sizes differing >t-fold can never match);
    //  - positional filter: a first shared gram at prefix positions
    //    (rk_x, rk_y) bounds the intersection by 1 + min(n_x - rk_x,
    //    n_y - rk_y) — valid at the pair's FIRST shared gram, which is
    //    the only place the pair MUST be found (prefix lemma);
    // and then the exact merge verification. First verified ascending =
    // that gram's minimum; the cross-gram groupBy(min) recovers the true
    // minimum partner: every verified doc is a true partner, so nothing
    // below the true minimum can verify, and the minimum's own first
    // shared gram accepts it. LOSSLESS, arbitrated by the unpruned
    // DuckDB oracle as before.
    // Cost: a k-member near-dup cluster costs O(k) early-exit scans per
    // shared prefix gram, not k²/2 enumerated pairs; each gram array
    // ships once per prefix gram (~n(1-t)+1 copies) instead of twice per
    // candidate pair, and the old corpus-cardinality verify broadcast
    // (size-gated at 1M reps) disappears entirely — the kernel holds one
    // POSTING LIST at a time, the same frame the join enumerated
    // quadratically. Worst case (a posting list of mutual
    // non-duplicates) pays the join's k²/2 cheap-filter evaluations
    // in-kernel, without the exchange.
    val gidArr = gramsG.groupBy("doc_id")
      .agg(sort_array(collect_list(col("gid"))).as("ga"))
      .transform(graft.CacheScope.persist)
    // The explicit repartition pins the kernel's exchange: postings are
    // small in BYTES (AQE's coalescing currency) but the kernel is
    // CPU-dense — the round-2 probe showed byte-based coalescing
    // collapsing exactly this shape to one partition.
    //
    // ADAPTIVE chunk path (round 11; verdict r10 finding #1): the
    // posting-position/length windows, the extra `posted` persist, and
    // the chunk-pair branch exist only to bound OVERSIZED posting lists
    // (> chunkLen docs — a >chunkLen-member near-dup cluster, since
    // prefix grams are each doc's rarest). At every gate/bench scale no
    // list is oversized, yet the round-10 spelling paid the windows'
    // per-gid sort + the persist unconditionally (sf0.1 6.5 → 8.0 s).
    // One skinny 1-row probe over the already-persisted `prefix` frame
    // (groupBy gid → max count; the sanctioned 1-row-scalar collect
    // class) decides the shape up front: the common case takes the
    // round-9 single-pass groupBy-kernel form verbatim, and only a
    // corpus that actually HAS an oversized list pays the chunk
    // machinery. Both branches are hash-identical by the dup-map
    // algebra (NearDupPropertySpec forces chunkLen=2 to pin the chunk
    // branch against the single-pass one).
    val pcounts = prefix.groupBy(col("gid")).agg(count(lit(1)).as("c"))
      .transform(graft.CacheScope.persist) // feeds the probe AND the filter
    // One 1-row scalar pass over the persisted counts decides BOTH
    // adaptive shapes below (the chunk-path probe idiom, widened).
    val pst = pcounts.agg(
      coalesce(max(col("c")), lit(0L)),
      coalesce(sum(col("c")), lit(0L)),
      coalesce(sum(when(col("c") === 1, 1L).otherwise(0L)), lit(0L))).head()
    val (maxPosting, prefixRows, singleRows) =
      (pst.getLong(0), pst.getLong(1), pst.getLong(2))
    // Singleton-posting pre-filter (round 12; the MinHash hot-bucket idea
    // applied to the PPJoin index). A pair with jaccard >= t shares a gram
    // within BOTH prefixes (the prefix lemma), so the gram where any pair
    // is found has a >= 2-row posting list in THIS relation — a singleton
    // posting can never produce a candidate, yet it still rode the fat
    // join-with-gidArr exchange (one full int gram array per prefix row)
    // and materialized a collect_list group for the kernel to skip. On a
    // mostly-unique corpus the rarest-first prefix is dominated by df=1
    // grams, all singletons here (the realistic 500k sweep: ~94% of
    // prefix rows; standalone REPS=3 52.3 → 32.9 s). Both the groupBy
    // and this join ride the persisted gid partitioning — no new
    // exchange; LOSSLESS by the lemma, arbitrated as ever by the
    // unpruned DuckDB oracle. ADAPTIVE like the chunk path: a dense
    // corpus whose postings nearly all collide (< 25% singleton rows)
    // skips the extra pass — the filter would drop little.
    val prefixM = if (singleRows * 4L >= prefixRows)
      prefix.join(pcounts.filter(col("c") >= 2).select(col("gid")), Seq("gid"))
    else prefix
    val pairs = if (maxPosting <= chunkLen) {
      prefixM.join(gidArr, "doc_id")
        .repartition(numParts, col("gid"))
        .groupBy(col("gid"))
        .agg(sort_array(collect_list(
          struct(col("doc_id"), col("n"), col("rk"), col("ga")))).as("ps"))
        .select(explode(jaccardMinPartnerUdf(col("ps"))).as("p"))
    } else {
      // The windows (per-gram posting position + posting length, one
      // sort) split the lists into the bounded-single-row fast path vs
      // the chunk-pair path; both groupBys run exchange-free on top of
      // the pinned layout.
      val posted = prefixM.join(gidArr, "doc_id")
        .repartition(numParts, col("gid"))
        .withColumn("pp", row_number().over(
          Window.partitionBy(col("gid")).orderBy(col("doc_id"))))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("gid"))))
        .transform(graft.CacheScope.persist)
      val small = posted.filter(col("cnt") <= chunkLen)
        .groupBy(col("gid"))
        .agg(sort_array(collect_list(
          struct(col("doc_id"), col("n"), col("rk"), col("ga")))).as("ps"))
        .select(explode(jaccardMinPartnerUdf(col("ps"))).as("p"))
      // Oversized posting lists (ADVICE r9: a hot gram or giant cluster
      // put O(k·|ga|) bytes in ONE row and serialized the O(k²) scan on
      // one task): doc_id-ordered chunks of <= chunkLen members, scanned
      // per chunk pair (ci <= cj; every doc in chunk i precedes every doc
      // in chunk j, so cross-chunk scans need no id guard). LOSSLESS
      // under the dup-map algebra: per doc b, its first verified partner
      // within the whole list lives in SOME chunk <= b's, that pair-row
      // emits it, and the cross-gram groupBy(min) below absorbs the
      // per-pair-row candidates exactly as it absorbs per-gram ones.
      val chunks = posted.filter(col("cnt") > chunkLen)
        .withColumn("ci", ((col("pp") - 1) / chunkLen).cast("int"))
        .groupBy(col("gid"), col("ci"))
        .agg(sort_array(collect_list(
          struct(col("doc_id"), col("n"), col("rk"), col("ga")))).as("ps"))
      val large = chunks.as("l").join(chunks.as("r"),
          col("l.gid") === col("r.gid") && col("l.ci") <= col("r.ci"))
        .select(explode(jaccardChunkPairUdf(
          col("l.ps"), col("r.ps"), col("l.ci") === col("r.ci"))).as("p"))
      small.union(large)
    }
    val verified = pairs.select(col("p._1").as("rep"), col("p._2").as("mp"))
      .groupBy(col("rep"))
      .agg(min(col("mp")).as("mp"))
    // expand rep-level attributions back to members (the shared algebra
    // of MinHash.duplicateOf / TextEmbed): in-group members attribute to
    // their rep id; the rep (and transitively its members, mp < rep <=
    // member) to the minimum verified partner.
    val members = withG.select(col("doc_id"), col("gid"))
    members.join(verified, members("gid") === verified("rep"))
      .select(col("doc_id"), col("mp").as("cand"))
      .union(members.filter(col("doc_id") =!= col("gid"))
        .select(col("doc_id"), col("gid").as("cand")))
      .groupBy(col("doc_id").as("duplicate_id"))
      .agg(min(col("cand")).as("original_id"))
  }

  /** Per-prefix-gram min-partner kernel: `ps` is the gram's posting list
    * as (doc_id, n, rk, ga) structs, PRE-SORTED ascending by doc_id
    * (sort_array; doc_id is the leading struct field and unique within a
    * posting). For each doc, scan earlier docs in id order under the
    * PPJoin length + positional prunes and emit (doc, partner) for the
    * FIRST merge-verified one — ascending first = this gram's minimum,
    * which is the only row the dup-map algebra consumes. */
  /** Decoded posting list: (doc_ids, sizes, prefix-ranks, gram arrays). */
  private type Posting = (Array[Long], Array[Int], Array[Int], Array[Array[Int]])
  private def decodePosting(ps: Seq[Row]): Posting = {
    val L = ps.length
    val ids = new Array[Long](L)
    val ns = new Array[Int](L)
    val rks = new Array[Int](L)
    val gas = new Array[Array[Int]](L)
    var i = 0
    while (i < L) {
      val r = ps(i)
      ids(i) = r.getLong(0); ns(i) = r.getInt(1); rks(i) = r.getInt(2)
      gas(i) = r.getSeq[Int](3).toArray
      i += 1
    }
    (ids, ns, rks, gas)
  }

  /** The shared scan core: for each doc b on the RIGHT, scan LEFT docs
    * ascending under the PPJoin length + positional prunes and emit
    * (b, partner) for the FIRST merge-verified one. `same` = the two
    * sides are the same chunk, so only left indices < b's own index are
    * candidates; across chunks every left doc precedes every right doc
    * (chunks are doc_id-ordered) and the whole left side scans. */
  private def scanMinPartners(l: Posting, r: Posting, same: Boolean): Seq[(Long, Long)] = {
    val (lids, lns, lrks, lgas) = l
    val (rids, rns, rrks, rgas) = r
    val out = Seq.newBuilder[(Long, Long)]
    var b = if (same) 1 else 0
    while (b < rids.length) {
      val nb = rns(b); val slackB = nb - rrks(b)
      val aEnd = if (same) b else lids.length
      var a = 0
      var found = false
      while (a < aEnd && !found) {
        val na = lns(a)
        val lenOk = JaccardNumer * math.max(na, nb) <= JaccardDenom * math.min(na, nb)
        if (lenOk) {
          val ubound = 1 + math.min(na - lrks(a), slackB)
          if ((JaccardDenom + JaccardNumer) * ubound >= JaccardNumer * (na + nb) &&
              jaccardGE(lgas(a), rgas(b))) {
            out += ((rids(b), lids(a))); found = true
          }
        }
        a += 1
      }
      b += 1
    }
    out.result()
  }

  private val jaccardMinPartnerUdf = udf { ps: Seq[Row] =>
    val d = decodePosting(ps)
    scanMinPartners(d, d, same = true)
  }

  /** Chunk-pair form for oversized posting lists ([[PostingChunkLen]]). */
  private val jaccardChunkPairUdf = udf { (lps: Seq[Row], rps: Seq[Row], same: Boolean) =>
    if (same) { val d = decodePosting(lps); scanMinPartners(d, d, same = true) }
    else scanMinPartners(decodePosting(lps), decodePosting(rps), same = false)
  }

  /** jaccard(a, b) >= JaccardNumer/JaccardDenom over two SORTED int
    * arrays, by linear merge with early exit: returns as soon as the
    * remaining elements cannot change the verdict. Exactly equivalent to
    * `D * |a∩b| >= N * (|a| + |b| - |a∩b|)` ⟺ `(D+N)·inter >= N·(na+nb)`
    * — the integer-compare spelling shared with the DuckDB oracle. */
  def jaccardGE(a: Array[Int], b: Array[Int]): Boolean = {
    val need = { // ceil(N*(na+nb) / (D+N)): minimum intersection size
      val num = JaccardNumer * (a.length + b.length)
      val den = JaccardDenom + JaccardNumer
      (num + den - 1) / den
    }
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (inter >= need) return true
      // even matching every remaining element can't reach `need`
      if (inter + math.min(a.length - i, b.length - j) < need) return false
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter >= need
  }

  // -----------------------------------------------------------------------
  // Winnowing fingerprints (rolling-hash document sketch)
  // -----------------------------------------------------------------------

  val WinnowWindow = 8

  /** Per-doc winnowing sketch (Schleimer et al. 2003 shape): min shingle
    * hash per sliding window, deduplicated first-occurrence order, folded
    * into (count, checksum) summary scalars so the driver can hash-compare.
    * One O(n) JVM pass with a monotonic deque — the HOF spelling
    * (`transform(sequence, i -> array_min(slice(h, i, w)))`) is
    * interpreted, allocates a slice per window, and cost ~15 s at the
    * 50k-doc probe. */
  /** The sliding-window-min deque pass itself, shared by [[winnow]] and
    * [[winnowSet]]: calls `emit` with each window's min hash (the raw
    * Schleimer stream, repeats included — callers dedup/fold). ONE
    * kernel so the two spellings (and the oracle SQL mirroring them)
    * cannot silently drift on a future WinnowWindow or boundary change.
    * `Function1[Long, Unit]` is @specialized, so emit does not box. */
  private def winnowScan(text: String)(emit: Long => Unit): Unit = {
    val h = MinHash.shingleHashes(text)
    if (h.length < WinnowWindow) {
      var m = h(0); var i = 1
      while (i < h.length) { if (h(i) < m) m = h(i); i += 1 }
      emit(m)
    } else {
      // deque of indices with increasing hash values; head = window min
      val dq = new Array[Int](h.length)
      var lo = 0; var hi = 0 // dq[lo, hi) valid
      var i = 0
      while (i < h.length) {
        while (hi > lo && h(dq(hi - 1)) >= h(i)) hi -= 1
        dq(hi) = i; hi += 1
        if (dq(lo) <= i - WinnowWindow) lo += 1
        if (i >= WinnowWindow - 1) emit(h(dq(lo)))
        i += 1
      }
    }
  }

  def winnow(text: String): (Int, Long) = {
    val seen = new java.util.HashSet[java.lang.Long]()
    var count = 0
    var checksum = 0L
    winnowScan(text) { v =>
      if (seen.add(v)) { count += 1; checksum = (checksum + v) % MinHash.P }
    }
    (count, checksum)
  }
  /** Native codegen'd expression form (graft.functions.WinnowExpression). */
  private def winnowUdf(c: org.apache.spark.sql.Column) = graft.functions.Winnow(c)

  /** The fingerprint SET itself (first-occurrence-deduped), for
    * fingerprint-join operators — same deque pass as [[winnow]]. */
  def winnowSet(text: String): Array[Long] = {
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    winnowScan(text) { v => seen.add(v); () }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }
  private val winnowSetUdf = udf(winnowSet _)

  /** Ubiquitous fingerprints (boilerplate phrases) are dropped before
    * the pair join, MOSS-style: a fingerprint in more than [[FpDfCap]]
    * docs identifies nothing and would go quadratic in the join. */
  val FpDfCap = 50

  /** Containment threshold: shared >= half the smaller sketch. */
  val ContainmentNumer = 1
  val ContainmentDenom = 2

  /** Cross-document CONTAINMENT detection (Schleimer et al. 2003 / MOSS):
    * two docs sharing a large fraction of the SMALLER doc's winnowing
    * sketch indicate quotation/inclusion — a relation doc-level near-dup
    * misses (a doc embedded in a 10x larger one has low Jaccard but full
    * containment).
    *
    * Scale shape: sketch explode is narrow (~2/(w+1) of the shingle
    * count per doc); one df aggregation drops stop-fingerprints (the
    * skew control — every surviving posting list is <= [[FpDfCap]]
    * long, bounding the self-join at df² x a constant); the pair count
    * partial-aggregates. The containment filter compares exact integers
    * ([[ContainmentDenom]] * shared >= [[ContainmentNumer]] * min) and
    * only the reported score divides — one rounding, both engines. */
  def containmentQuery(docs: DataFrame): DataFrame = {
    val fps = docs
      .select(col("doc_id"), explode(winnowSetUdf(col("text"))).as("fp"))
    val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= FpDfCap)
      .select(col("fp"))
    val rare = fps.join(keep, "fp")
    val shared = rare.select(col("fp"), col("doc_id").as("id_a"))
      .join(rare.select(col("fp"), col("doc_id").as("id_b")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .filter(col("n_shared") * ContainmentDenom >= least(col("na"), col("nb")) * ContainmentNumer)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        (col("n_shared").cast("double") / least(col("na"), col("nb")).cast("double"))
          .as("containment"))
  }

  def fingerprintQuery(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), winnowUdf(col("text")).as("w"))
      .select(
        col("doc_id"),
        col("w.n_fingerprints").as("n_fingerprints"),
        col("w.fp_checksum").as("fp_checksum"))

  // -----------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_simhash_dupmap" -> ((s, d) => simhashDuplicateOf(Tables.documents(s, d))),
    "dedup_jaccard_dupmap" -> ((s, d) =>
      jaccardOverGrams(Grams.gramsFor(s, d), PostingChunkLen)),
    "doc_fingerprints" -> ((s, d) => fingerprintQuery(Tables.documents(s, d))),
    "dedup_containment" -> ((s, d) => containmentQuery(Tables.documents(s, d))))

  /** The DuckDB spelling of [[trigrams]] (distinct word trigrams of the
    * lowercased text), shared with [[Contamination]]'s fuzzy oracle. */
  private[pipeline] val TrigramsD: String =
    """list_distinct(CASE WHEN len(list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '')) >= 3
      |  THEN list_transform(range(1, len(list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '')) - 1),
      |    i -> concat(list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '')[i], ' ',
      |                list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '')[i + 1], ' ',
      |                list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '')[i + 2]))
      |  ELSE [] END)""".stripMargin

  def oracles: Map[String, String] = {
    val simBitsSql = (0 until SimBits).map { b =>
      val src = if (b < 31) s"(h >> $b)" else s"((($A2 * h + $B2) % ${MinHash.P}) >> ${b - 31})"
      s"(CASE WHEN list_sum(list_transform(hashes, h -> CASE WHEN ($src & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)"
    }.mkString(" + ")
    val gramsD = TrigramsD
    Map(
      "dedup_simhash_dupmap" ->
        s"""WITH ${MinHash.shingleCtesD},
           |sims AS (SELECT doc_id, $simBitsSql AS sh FROM hs),
           |blocks AS (SELECT doc_id, sh,
           |  unnest(range(0, $NumChunks)) AS chunk,
           |  unnest(list_transform(range(0, $NumChunks), c -> (sh >> ($ChunkBits * c)) & ${(1 << ChunkBits) - 1})) AS cv
           |  FROM sims),
           |cand AS (SELECT DISTINCT x.doc_id AS id_a, x.sh AS sh_a, y.doc_id AS id_b, y.sh AS sh_b
           |  FROM blocks x JOIN blocks y
           |    ON x.chunk = y.chunk AND x.cv = y.cv AND x.doc_id < y.doc_id)
           |SELECT id_b AS duplicate_id, min(id_a) AS original_id FROM cand
           |WHERE bit_count(xor(sh_a, sh_b)) <= $MaxHamming
           |GROUP BY id_b""".stripMargin,
      "dedup_jaccard_dupmap" ->
        s"""WITH grams AS (SELECT doc_id, unnest($gramsD) AS g FROM documents),
           |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
           |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
           |  FROM grams x JOIN grams y ON x.g = y.g AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2)
           |SELECT id_b AS duplicate_id, min(id_a) AS original_id
           |FROM inter
           |JOIN sizes sa ON sa.doc_id = id_a
           |JOIN sizes sb ON sb.doc_id = id_b
           |WHERE $JaccardDenom * inter >= $JaccardNumer * (sa.n + sb.n - inter)
           |GROUP BY id_b""".stripMargin,
      "doc_fingerprints" ->
        s"""WITH ${MinHash.shingleCtesD},
           |fp AS (SELECT doc_id,
           |  list_distinct(CASE WHEN len(hashes) >= $WinnowWindow
           |    THEN list_transform(range(1, len(hashes) - ${WinnowWindow - 2}),
           |                        i -> list_min(hashes[i : i + ${WinnowWindow - 1}]))
           |    ELSE [list_min(hashes)] END) AS fps
           |  FROM hs)
           |SELECT doc_id,
           |  CAST(len(fps) AS INT) AS n_fingerprints,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT), fps), (s, v) -> (s + v) % ${MinHash.P}) AS fp_checksum
           |FROM fp""".stripMargin,
      "dedup_containment" ->
        s"""WITH ${MinHash.shingleCtesD},
           |fp AS (SELECT doc_id,
           |  list_distinct(CASE WHEN len(hashes) >= $WinnowWindow
           |    THEN list_transform(range(1, len(hashes) - ${WinnowWindow - 2}),
           |                        i -> list_min(hashes[i : i + ${WinnowWindow - 1}]))
           |    ELSE [list_min(hashes)] END) AS fps
           |  FROM hs),
           |f AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
           |sizes AS (SELECT doc_id, count(*) AS n FROM f GROUP BY doc_id),
           |keep AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= $FpDfCap),
           |r AS (SELECT f.doc_id, f.fp FROM f JOIN keep USING (fp)),
           |shared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_shared
           |           FROM r x JOIN r y ON x.fp = y.fp AND x.doc_id < y.doc_id
           |           GROUP BY 1, 2)
           |SELECT id_a, id_b, n_shared,
           |       CAST(n_shared AS DOUBLE) / CAST(least(na, nb) AS DOUBLE) AS containment
           |FROM (SELECT s.id_a, s.id_b, s.n_shared, sa.n AS na, sb.n AS nb
           |      FROM shared s
           |      JOIN sizes sa ON sa.doc_id = s.id_a
           |      JOIN sizes sb ON sb.doc_id = s.id_b)
           |WHERE n_shared * $ContainmentDenom >= least(na, nb) * $ContainmentNumer""".stripMargin)
  }
}
