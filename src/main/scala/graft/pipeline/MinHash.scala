package graft.pipeline

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** MinHash + LSH near-duplicate detection (D1-D5, D7; reference:
  * src/processing/deduplicator.py:110-260, config pipeline_config.yaml:32-38:
  * num_perm=128, threshold=0.8, shingle_size=5).
  *
  * Everything is deterministic 64-bit integer arithmetic — polynomial
  * shingle hashes mod 2^31-1, 128 affine permutations from a fixed LCG,
  * 16 bands x 8 rows — so the DuckDB oracle replicates the EXACT pipeline
  * in SQL and the driver's hash compare holds bit-for-bit. (The reference
  * uses datasketch's SHA1-based permutations; we re-derive the algorithm,
  * not its constants.)
  *
  * Scale design (the 100 TB story):
  *  - signature: narrow per-row UDF (a tight JVM loop, ~40 K long ops per
  *    300-char doc) — embarrassingly parallel, no shuffle;
  *  - candidates: explode 16 (band, bandHash) keys per doc and self-join
  *    on them — the classic banded-LSH shuffle, never an all-pairs join.
  *    Bands carry only (doc_id, band, hash); signatures are re-joined by
  *    id afterwards so the wide sig arrays cross the wire once, not 16x;
  *  - hot buckets (boilerplate near-identical docs) are the skew risk:
  *    AQE skew-join handles moderate cases; pathological buckets would be
  *    capped/salted upstream.
  *
  * Semantics note (SURVEY §2.4): the reference's incremental index is
  * order-dependent; this set-oriented rebuild defines duplicates
  * pairwise — doc B is a duplicate iff some A < B shares an LSH band and
  * estimated Jaccard >= threshold; B's "original" is the smallest such A.
  * On transitive chains (A~B, B~C, A!~C) the two definitions diverge at
  * the margins; reference tests only exercise clusters of size <= 2.
  */
object MinHash {

  val NumPerm = 128
  val ShingleSize = 5
  val Threshold = 0.8
  val NumBands = 16
  val RowsPerBand = 8
  /** matches/NumPerm >= Threshold as an integer compare. */
  val MinMatches: Int = math.ceil(NumPerm * Threshold).toInt // 103
  val P = 2147483647L // 2^31 - 1 (Mersenne prime)
  val HashMult = 131L

  /** Affine permutation constants from a classic LCG, seed 42 — fixed
    * forever so signatures are reproducible across engines and rounds. */
  val (permA, permB): (Array[Long], Array[Long]) = {
    var x = 42L
    def next(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    val a = Array.fill(NumPerm)((next() % (P - 1)) + 1)
    val b = Array.fill(NumPerm)(next() % P)
    (a, b)
  }

  /** ASCII whitespace collapse, spelled identically in Java and RE2
    * (Java \s and RE2 \s disagree on \x0B, so neither is used). */
  private val WsRe = "[ \t\n\f\r]+"
  private val WsPattern = java.util.regex.Pattern.compile(WsRe)

  /** D1: normalized char-5-gram shingle hash multiset (all windows; min/
    * sign aggregations are duplicate-insensitive or duplicate-weighted by
    * design). Works on CODEPOINTS (matching DuckDB substr/ord semantics). */
  def shingleHashes(text: String): Array[Long] = {
    val norm = WsPattern.matcher(text.toLowerCase(Locale.ROOT)).replaceAll(" ")
    val cps = norm.codePoints().toArray
    if (cps.isEmpty) Array(0L)
    else if (cps.length < ShingleSize) Array(poly(cps, 0, cps.length))
    else Array.tabulate(cps.length - ShingleSize + 1)(i => poly(cps, i, ShingleSize))
  }

  /** x mod P for 0 <= x < 2^62, via the Mersenne identity 2^31 ≡ 1
    * (mod 2^31-1): fold twice, subtract once. Bit-identical to `% P`
    * (property-tested) at a fraction of a hardware divide. */
  @inline private def modP(x0: Long): Long = {
    var x = (x0 & P) + (x0 >>> 31) // < 2^32
    x = (x & P) + (x >>> 31) // <= P + 1
    if (x >= P) x - P else x
  }

  /** D2: 128 min-hashes over the shingle hashes. Deterministic.
    * The permutation loop runs over the DISTINCT shingle hashes — min is
    * duplicate-insensitive, so the signature is unchanged, and repetitive
    * corpora (the interesting ones for dedup) cut the 128x inner loop by
    * the repeat factor. */
  def signature(text: String): Array[Int] = {
    val hashes = shingleHashes(text)
    java.util.Arrays.sort(hashes)
    var n = 0
    var si = 0
    while (si < hashes.length) { // unique in place (array is sorted)
      if (si == 0 || hashes(si) != hashes(si - 1)) { hashes(n) = hashes(si); n += 1 }
      si += 1
    }
    val sig = Array.fill(NumPerm)(Long.MaxValue)
    si = 0
    while (si < n) {
      val h = hashes(si)
      var k = 0
      while (k < NumPerm) {
        val v = modP(permA(k) * h + permB(k))
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      si += 1
    }
    // Slot values are mod-P minima, 0 <= v < P = 2^31 - 1, so they fit
    // INT exactly (round 18, guide §2.3 "narrower types"): the signature
    // is the engine's fattest payload — the collapse exchange, the
    // rep/sigrep stores, the hot-band verify shuffle and the delta
    // broadcasts all carry it — and INT halves every one of those byte
    // counts. Arithmetic stays in longs above; only the storage narrows,
    // so values are unchanged and the DuckDB oracle (whose SQL twin
    // keeps BIGINT lists) still agrees on every derived result. An empty
    // hash set would leave every slot at Long.MaxValue, which narrows to
    // -1; shingleHashes never returns one, and the require below fails
    // loudly if that ever changes.
    require(n > 0, "signature: no shingle hashes")
    val out = new Array[Int](NumPerm)
    var k = 0
    while (k < NumPerm) { out(k) = sig(k).toInt; k += 1 }
    out
  }

  /** H(s) = reduceLeft over codepoints: h -> (h*131 + c) mod P. */
  private def poly(cps: Array[Int], from: Int, len: Int): Long = {
    var h = cps(from).toLong
    var i = from + 1
    while (i < from + len) { h = modP(h * HashMult + cps(i)); i += 1 }
    h
  }

  /** Native Catalyst expression form (codegen-participating; see
    * [[graft.functions.MinHashSigExpression]]) — same kernel, no UDF
    * closure/encoder indirection. */
  private def sigCol(c: org.apache.spark.sql.Column) = graft.functions.MinHashSig(c)

  /** D3: per-band hash over 8 signature slots, as a Spark SQL transform
    * (reduceLeft, same fold as the shingle hash). */
  // Band hashing is the native BandHashes kernel (round 11): the HOF
  // spelling `transform(sequence(0, 15), j -> aggregate(slice(sig,
  // j*8+2, 7), element_at(sig, j*8+1), (h, v) -> (h*131 + v) % P))`
  // ran interpreted per element; the kernel is the same fold (parity
  // spec in NativeExprSpec), and the DuckDB oracle keeps its own
  // independent SQL spelling of it.

  /** (doc_id, sig) — the narrow, shuffle-free stage. */
  def signatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), sigCol(col("text")).as("sig"))

  /** The D3 band-hash fold over an INT signature — the one spelling
    * shared by [[graft.functions.BandHashesExpression]] and the verify
    * kernel's in-kernel recomputation (the hot-band shuffle stopped
    * shipping `bhs` arrays in round 18; 16 x 8 mul-mods per posting is
    * noise next to the 128 B/row it saves). */
  def bandHashesOf(sig: Array[Int]): Array[Long] = {
    val out = new Array[Long](NumBands)
    var j = 0
    while (j < NumBands) {
      var h = sig(j * RowsPerBand).toLong
      var k = 1
      while (k < RowsPerBand) {
        h = (h * HashMult + sig(j * RowsPerBand + k)) % P
        k += 1
      }
      out(j) = h
      j += 1
    }
    out
  }

  /** (doc_id, band, bh) exploded band keys of a `(doc_id, sig)` frame —
    * the LSH bucket key both the batch self-join and the streaming
    * store join hash on. */
  def bandKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(graft.functions.BandHashes(col("sig"))).as(Seq("band", "bh")))

  /** Column form of [[sigMatchesGE]] for external joins. */
  def sigMatchCol(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sigMatchGeUdf(a, b)

  /** D4/D5: duplicate -> original attribution via banded LSH join, with
    * the hot-bucket skew mitigation built in: docs with byte-identical
    * signatures collapse to ONE representative (their min doc_id) before
    * the band join, so a 10k-copy boilerplate cluster — THE skew case for
    * LSH dedup at 100 TB, previously 16 x k^2/2 candidate pairs through
    * one bucket — contributes a single row per band. Moderate skew among
    * *distinct* signatures is left to AQE's runtime skew-join splitting.
    *
    * Result-identical to the member-level join: (a) verification is a
    * pure function of the two signatures, so it holds for a pair iff it
    * holds for their groups' representatives; (b) the min member of a
    * group G below any doc B is G's global min, so candidates
    * {G-min : G collides+verifies, G-min < B} + B's own group min cover
    * exactly the member-level candidate minimum.
    *
    * Signatures are persisted: the sig subtree (a 40k-op kernel per row)
    * feeds the grouping, the rep band join, verification, and the
    * per-member attribution (the multi-use-subtree idiom). */
  def duplicateOf(docs: DataFrame): DataFrame = duplicateOfSigs(signatures(docs))

  /** The contracted duplicate graph shared by attribution ([[duplicateOfSigs]])
    * and transitive clustering ([[Cluster.minhashClusters]]):
    * `withG` = `(doc_id, sig, gid)` where `gid` is the min doc_id among
    * byte-identical signatures (one shuffle keyed on the full sig array —
    * exact, no hash-collision risk; the wide arrays cross the wire once),
    * and `verified` = rep-level pairs `(ga < gb)` that share an LSH band
    * AND pass signature verification. Verification is a pure function of
    * the two signatures, so a rep-pair verdict holds for every member
    * pair between the two groups — the contraction is lossless. */
  /** Oversized-bucket bound for the verify kernel — the same
    * scale-safety class as [[NearDup.PostingChunkLen]]: a (band, bh)
    * bucket beyond this many reps is split into gid-ordered chunks
    * scanned per chunk PAIR, capping both the collect_list row size
    * (4096 × ~1.1 KB ≈ 4.5 MB, far under the 2 GB row limit) and the
    * longest single-task O(k²) scan. A >4096-rep bucket means >4096
    * DISTINCT-signature docs sharing one LSH band — templated spam at
    * corpus scale; every gate/bench corpus peaks in the dozens, so a
    * 1-row max-bucket probe keeps the common case on the single-pass
    * kernel with zero chunk bookkeeping (the jaccard adaptive-path
    * lesson: the fast path must not pay for the slow path). */

  val BandBucketChunkLen = 4096

  /** Broadcast cap for the hot-bucket key set (see the pre-filter in
    * [[repGraph]]): 4M (band, bh) keys ≈ 64 MB — comfortably
    * broadcastable; beyond it the filter falls back to the full frame. */
  val HotBucketKeysMax: Long = 4000000L

  private[pipeline] def repGraph(sigs: DataFrame): (DataFrame, DataFrame) =
    repGraph(sigs, BandBucketChunkLen)

  /** Per-call composition for the unmemoized consumers ([[dedup]],
    * streaming dedup, [[clusterEdges]], the chunk-path test hook). The
    * collapse is persisted through [[graft.CacheScope]]: the bucket-stats
    * probe, the verified pairs and the members all read it, and on a
    * duplicate-heavy corpus each read would otherwise re-run the
    * `repartition(gh)` window (the memoized path, [[repGraphFor]], fixed
    * the same re-execution in round 14). */
  private[pipeline] def repGraph(sigs: DataFrame, chunkLen: Int): (DataFrame, DataFrame) = {
    val withG = graft.CacheScope.persist(collapse(sigs))
    val reps = withG.filter(col("doc_id") === col("gid"))
      .select(col("gid"), col("sig"))
    (withG, verifiedPairsOfReps(reps, chunkLen))
  }

  /** The identical-signature collapse: `(doc_id, sig, gid, gsz)` where
    * `gid` is the min doc_id among byte-identical signatures and `gsz`
    * the group size. One probe job chooses between the unique-row
    * bypass and the full window (see inline notes). The result is lazy;
    * [[repGraph]] persists it, since its consumers read it several
    * times. */
  private def collapse(sigs: DataFrame): DataFrame =
    collapseWithTransients(sigs)._1

  /** [[collapse]] plus its two corpus-width transient persists (the
    * hashed signature frame and its gh counts), so the memoized build
    * path can release them the moment their last consumer has
    * materialized (round 18, guide §5): through round 17 both stayed
    * cached until the caller's post-query drain barrier, so the
    * band/verify phase — the build's GC-heavy half — ran with ~2×
    * corpus × 1.1 KB of dead blocks still pinned (the r17 driver sweep
    * read 20 s of task GC inside this one mark). Unpersist here is
    * lifecycle-only: [[graft.CacheScope]] still registers both frames,
    * and its later drain no-ops on the already-released entries. */
  private def collapseWithTransients(
      sigs: DataFrame): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    // The collapse exchange is keyed on the 8-byte xxhash64 of the
    // signature, not the 128-long array itself (the array still crosses
    // the wire — reps need it — but partitioning/sorting no longer hash
    // and compare 1 KiB keys per row). The window keeps the full sig next
    // to the hash, so groups are exact: a collision splits, never merges.
    val numParts = sigs.sparkSession.sparkContext.defaultParallelism
    // gsz rides the SAME window partition as gid (one window exec
    // computes both — no extra exchange or sort): the member-expansion
    // consumer (Cluster.clustersFor) needs per-group sizes, and reading
    // them here is free where a post-hoc groupBy+join over the
    // checkpointed members costs a corpus exchange (round-12 memo cut).
    //
    // Round 13 — unique-row bypass: on a realistic (~98%-unique)
    // corpus the collapse exchange shipped every row's 1 KiB signature
    // into a window that then grouped almost nothing (14.9 s of the
    // realistic rep_graph's 27 s). One NARROW pass (8-byte gh keys,
    // map-side combined) finds the duplicate-hash groups; rows whose
    // gh is unique ARE their own group (gid = doc_id, gsz = 1 —
    // xxhash64 collisions only ever SPLIT groups, and a unique gh
    // means no other row could share this sig) and skip the wide
    // exchange via a broadcast anti-join, so only duplicate
    // candidates take the window. Guarded by the same broadcast bound
    // as the hot-bucket filter: a corpus whose duplicate-hash key set
    // would not broadcast falls back to the round-12 full-window path.
    // Adaptive, the jaccard singleton-filter pattern: the 1-row stats
    // probe below reads the dup-ROW share; a corpus that collapses
    // heavily (the gate corpus: ~every row is in a duplicate group)
    // would pay two broadcast joins to bypass nothing, so it takes the
    // full-window path directly and pays only the narrow count pass.
    val hashed = sigs.withColumn("gh", xxhash64(col("sig")))
      .transform(graft.CacheScope.persist)
    val ghCounts = hashed.groupBy(col("gh")).agg(count(lit(1)).as("n"))
      .transform(graft.CacheScope.persist)
    val stats = ghCounts.agg(
      coalesce(sum(col("n")), lit(0L)).as("total"),
      coalesce(sum(when(col("n") >= 2, col("n"))), lit(0L)).as("dup_rows"),
      count(when(col("n") >= 2, lit(1))).as("dup_keys")).head()
    val (nTotal, nDupRows, nDupKeys) =
      (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    val grpW = Window.partitionBy(col("gh"), col("sig"))
    def windowed(df: DataFrame): DataFrame = df
      .repartition(numParts, col("gh"))
      .withColumn("gid", min(col("doc_id")).over(grpW))
      .withColumn("gsz", count(lit(1)).over(grpW))
      .select(col("doc_id"), col("sig"), col("gid"), col("gsz"))
    val withG = if (nDupKeys <= HotBucketKeysMax && nDupRows * 2 <= nTotal) {
      val dupGh = ghCounts.filter(col("n") >= 2).select(col("gh"))
      hashed.join(broadcast(dupGh), Seq("gh"), "left_anti")
        .select(col("doc_id"), col("sig"),
          col("doc_id").as("gid"), lit(1L).as("gsz"))
        .union(windowed(hashed.join(broadcast(dupGh), Seq("gh"), "left_semi")))
    } else windowed(hashed)
    (withG, Seq(hashed, ghCounts))
  }

  /** The banded-LSH verify chain over a `(gid, sig)` rep frame.
    * Callers pass either the lazy collapse filter ([[repGraph]]) or a
    * checkpointed rep frame ([[repGraphFor]] — which truncates the
    * lineage every downstream probe/action here would otherwise
    * re-analyze). */
  private def verifiedPairsOfReps(reps: DataFrame, chunkLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // PER-BUCKET verify kernel (round 11; the 100× internal split
    // showed the pair machinery, not the signatures, dominating the
    // rep-graph build: band self-join + distinct 10.7 s, verify joins
    // 8.5 s — dense planted cliques make 6.3M verified pairs with ~7
    // shared bands each, so the old shape shuffled ~56M pre-distinct
    // collision rows and then shipped both 1 KB signatures per pair
    // through two more joins, ~13 GB; a fused join spelling was probed
    // and is WORSE — it materializes the 56M collision rows wide). The
    // bucket form is the jaccard min-partner idiom adapted to emit ALL
    // verified pairs: one groupBy collects each (band, bh) bucket's
    // postings (a rep ships its INT signature once per hot band,
    // ~16 × 520 B since round 18 — the BIGINT + shipped-band-array form
    // was 16 × 1.25 KB, and both are a fraction of the retired verify
    // joins' per-pair bytes), and
    // the kernel enumerates in-bucket pairs, keeps a pair only in its
    // FIRST shared band (exactly-once without any distinct exchange —
    // the earlier-band scan is a few long compares over band hashes
    // recomputed in-kernel from the signature since round 18), and verifies with
    // the early-exit GE check; the exhaustive `matches` count runs only
    // on survivors (the pair report reads it; every other consumer
    // selects (ga, gb)). Bucket cardinality = same-band-hash near-dup
    // groups: oversized buckets ([[BandBucketChunkLen]]) take the
    // chunk-pair path below, chosen by a 1-row max-bucket probe over
    // the skinny band frame (the persisted collapse makes the probe a
    // cheap second pass); every gate/bench corpus stays on the
    // single-pass path.
    val numPartsB = reps.sparkSession.sparkContext.defaultParallelism
    val allBands = reps
      .select(col("gid"), col("sig"),
        posexplode(graft.functions.BandHashes(col("sig"))).as(Seq("band", "bh")))
    // Hot-bucket pre-filter (round 11): a singleton (band, bh) bucket
    // can produce no pair, yet the payload shuffle shipped its rep's
    // full signature + band array anyway — ~17 KB per rep across the 16
    // bands, the dominant bytes of the build. One SKINNY count pass
    // (column pruning keeps sig out of its exchange; it also feeds the
    // max-bucket probe) finds the >= 2-member bucket keys, and a
    // broadcast semi-join drops singleton rows BEFORE the payload
    // shuffle. Lossless by construction: a pair's every shared band is
    // a >= 2 bucket, so both the pair set and the first-shared-band
    // dedup (which reads the kept rows' full `bhs` arrays, not the
    // bucket list) are unchanged. On a corpus where nearly every rep
    // collides (or the hot key set would not broadcast), the filter
    // buys nothing — fall back to the full frame past
    // [[HotBucketKeysMax]].
    val counts = allBands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.CacheScope.persist) // feeds probe, hot count, hot keys
    // One probe job for both bucket statistics (round 14: was two
    // driver round-trips — max(c) then a count — each re-analyzing the
    // counts lineage).
    val cstats = counts.agg(coalesce(max(col("c")), lit(0L)),
      count(when(col("c") >= 2, lit(1)))).head()
    val (maxBucket, nHot) = (cstats.getLong(0), cstats.getLong(1))
    val bands = if (nHot <= HotBucketKeysMax)
      allBands.join(broadcast(counts.filter(col("c") >= 2).select("band", "bh")),
        Seq("band", "bh"))
    else allBands
    val pairs = if (maxBucket <= chunkLen) {
      bands
        .repartition(numPartsB, col("band"), col("bh"))
        .groupBy(col("band"), col("bh"))
        .agg(collect_list(struct(col("gid"), col("sig"))).as("ps"))
        .filter(size(col("ps")) >= 2)
        .select(explode(verifyBucketUdf(col("band"), col("ps"))).as("p"))
    } else {
      // Chunk-pair path (mirrors NearDup's): gid-ordered chunks of
      // <= chunkLen postings per bucket; ci <= cj, and every gid in
      // chunk i precedes every gid in chunk j, so cross-chunk pairs
      // orient (left, right) directly. LOSSLESS: each unordered pair
      // lives in exactly one (bucket, chunk-pair) per shared band, and
      // the first-shared-band rule dedups across bands exactly as on
      // the single-pass path.
      val wsp = Window.partitionBy(col("band"), col("bh"))
      val posted = bands
        .repartition(numPartsB, col("band"), col("bh"))
        .withColumn("pp", row_number().over(wsp.orderBy(col("gid"))))
        .withColumn("cnt", count(lit(1)).over(wsp))
        .transform(graft.CacheScope.persist)
      val small = posted.filter(col("cnt") <= chunkLen)
        .groupBy(col("band"), col("bh"))
        .agg(collect_list(struct(col("gid"), col("sig"))).as("ps"))
        .filter(size(col("ps")) >= 2)
        .select(explode(verifyBucketUdf(col("band"), col("ps"))).as("p"))
      val chunks = posted.filter(col("cnt") > chunkLen)
        .withColumn("ci", ((col("pp") - 1) / chunkLen).cast("int"))
        .groupBy(col("band"), col("bh"), col("ci"))
        .agg(sort_array(collect_list(
          struct(col("gid"), col("sig")))).as("ps"))
      val large = chunks.as("l").join(chunks.as("r"),
          col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
            col("l.ci") <= col("r.ci"))
        .select(explode(verifyBucketChunkUdf(col("l.band"),
          col("l.ps"), col("r.ps"), col("l.ci") === col("r.ci"))).as("p"))
      small.union(large)
    }
    pairs.select(col("p._1").as("ga"), col("p._2").as("gb"),
        col("p._3").as("matches"), col("p._4").as("tree"))
  }

  /** Decoded (band, bh) bucket posting: (gids, band-hash arrays, sigs).
    * Band-hash arrays are RECOMPUTED from the signature (round 18) —
    * the shuffle ships (gid, sig) only; one [[bandHashesOf]] fold per
    * posting replaces 16 x 8 B of shipped bytes per posting row. */
  private type BandPosting = (Array[Long], Array[Array[Long]], Array[Array[Int]])
  private def decodeBandPosting(ps: Seq[Row]): BandPosting = {
    val k = ps.length
    val ids = new Array[Long](k)
    val bhs = new Array[Array[Long]](k)
    val sigs = new Array[Array[Int]](k)
    var i = 0
    while (i < k) {
      val r = ps(i)
      ids(i) = r.getLong(0)
      sigs(i) = r.getSeq[Int](1).toArray
      bhs(i) = bandHashesOf(sigs(i))
      i += 1
    }
    (ids, bhs, sigs)
  }

  /** Scan-local union-find for the spanning-forest tag (round 12): as
    * pairs verify inside one kernel invocation, union their indices; a
    * pair whose endpoints were ALREADY connected by this scan's earlier
    * verified pairs is redundant FOR CONNECTIVITY and gets tree=false.
    * [[Cluster]] consumes only tree edges — a k-member clique found in
    * one bucket feeds CC k-1 edges instead of k(k-1)/2 — while the dup
    * map and the pair report keep every verified pair. Lossless for
    * components: per scan, tree edges span exactly the components of
    * that scan's emitted subgraph, and the global graph is the union of
    * the per-scan subgraphs, so replacing each by its own spanning
    * forest preserves the transitive closure. (Pairs SKIPPED by the
    * first-shared-band rule are never unioned — they were emitted, and
    * spanned, in their own earlier bucket.) */
  private final class ScanUF(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    private def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    /** Union a and b; true iff they were in distinct components. */
    def merge(a: Int, b: Int): Boolean = {
      val ra = find(a); val rb = find(b)
      if (ra == rb) false else { parent(ra) = rb; true }
    }
  }

  /** Shared verify core: the pair (a, b) with ids(a) < ids(b) survives
    * iff NO band before `band` already collided for it (its first
    * shared band — exactly-once across buckets) AND the signatures
    * verify; emits (ga, gb, exact match count, spanning-forest tag).
    * `ua`/`ub` are the pair's indices in the scan's union-find space. */
  private def verifyAt(p1: BandPosting, a: Int, p2: BandPosting, b: Int, band: Int,
      uf: ScanUF, ua: Int, ub: Int,
      out: scala.collection.mutable.Builder[(Long, Long, Int, Boolean), Seq[(Long, Long, Int, Boolean)]]): Unit = {
    var e = 0
    var earlier = false
    while (e < band && !earlier) { earlier = p1._2(a)(e) == p2._2(b)(e); e += 1 }
    if (!earlier && sigMatchesGE(p1._3(a), p2._3(b)))
      out += ((p1._1(a), p2._1(b), sigMatchCount(p1._3(a), p2._3(b)),
        uf.merge(ua, ub)))
  }

  /** In-bucket pair verification: enumerate postings pairs, orient by
    * ascending gid, verify via [[verifyAt]]. */
  private val verifyBucketUdf = udf { (band: Int, ps: Seq[Row]) =>
    val p = decodeBandPosting(ps)
    val ids = p._1
    val uf = new ScanUF(ids.length)
    val out = Seq.newBuilder[(Long, Long, Int, Boolean)]
    var i = 0
    while (i < ids.length) {
      var j = i + 1
      while (j < ids.length) {
        if (ids(i) < ids(j)) verifyAt(p, i, p, j, band, uf, i, j, out)
        else verifyAt(p, j, p, i, band, uf, j, i, out)
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** Chunk-pair form for oversized buckets ([[BandBucketChunkLen]]):
    * chunks are gid-sorted, and ci < cj ⇒ every left gid precedes every
    * right gid, so cross-chunk pairs orient (left, right) directly. The
    * union-find space is per chunk-pair scan (left ++ right) — a forest
    * per scan, still lossless by the per-scan argument above. */
  private val verifyBucketChunkUdf = udf { (band: Int, lps: Seq[Row], rps: Seq[Row], same: Boolean) =>
    if (same) {
      val p = decodeBandPosting(lps)
      val uf = new ScanUF(p._1.length)
      val out = Seq.newBuilder[(Long, Long, Int, Boolean)]
      var i = 0
      while (i < p._1.length) {
        var j = i + 1
        while (j < p._1.length) { verifyAt(p, i, p, j, band, uf, i, j, out); j += 1 }
        i += 1
      }
      out.result()
    } else {
      val l = decodeBandPosting(lps)
      val r = decodeBandPosting(rps)
      val uf = new ScanUF(l._1.length + r._1.length)
      val out = Seq.newBuilder[(Long, Long, Int, Boolean)]
      var i = 0
      while (i < l._1.length) {
        var j = 0
        while (j < r._1.length) {
          verifyAt(l, i, r, j, band, uf, i, l._1.length + j, out)
          j += 1
        }
        i += 1
      }
      out.result()
    }
  }

  /** Test hook: the verified rep pairs at a forced chunk bound, for
    * pinning the chunk-pair path against the single-pass kernel. */
  private[graft] def verifiedPairsOf(docs: DataFrame, chunkLen: Int): DataFrame =
    repGraph(signatures(docs), chunkLen)._2

  /** Undirected duplicate-graph edges `(id_a < id_b)` with the SAME
    * connectivity as the full member-level verified-pair graph, without
    * materializing k^2 in-group pairs: star edges member->group-min inside
    * each identical-signature group, plus the verified rep pairs across
    * groups. Input to [[Cluster.connectedComponents]]. */
  def clusterEdges(docs: DataFrame): DataFrame = {
    val (withG, verifiedPairs) = repGraph(signatures(docs))
    clusterEdgesOf(withG.select(col("doc_id"), col("gid")), verifiedPairs)
  }

  /** [[clusterEdges]] over an already-derived skinny rep graph —
    * the [[repGraphFor]] consumer path. */
  private[pipeline] def clusterEdgesOf(members: DataFrame,
      verifiedPairs: DataFrame): DataFrame =
    members.filter(col("doc_id") =!= col("gid"))
      .select(col("gid").as("id_a"), col("doc_id").as("id_b"))
      // CC needs connectivity, not multiplicity: the kernel's
      // spanning-forest tag drops in-scan-redundant pairs (a k-clique
      // found in one bucket ships k-1 edges, not k²/2) — same
      // components by the per-scan forest argument at [[ScanUF]].
      .union(verifiedPairs.filter(col("tree"))
        .select(col("ga").as("id_a"), col("gb").as("id_b")))

  /** [[duplicateOf]] over a precomputed `(doc_id, sig)` frame — lets the
    * streaming path share one signature-kernel evaluation between the
    * in-batch join and the store join. */
  def duplicateOfSigs(sigs: DataFrame): DataFrame = {
    val (withG, verifiedPairs) = repGraph(sigs)
    duplicateOfRepGraph(withG.select(col("doc_id"), col("gid")), verifiedPairs)
  }

  /** Per-group min verified partner: `pm(gid)` = the smallest gid among
    * groups that collide + verify with `gid` (both pair orientations).
    * Rep-graph-cardinality — two scans of the skinny pair checkpoint
    * and one tiny groupBy. */
  private def minPartners(verifiedPairs: DataFrame): DataFrame =
    verifiedPairs.select(col("ga").as("gid"), col("gb").as("cand"))
      .union(verifiedPairs.select(col("gb").as("gid"), col("ga").as("cand")))
      .groupBy(col("gid")).agg(min(col("cand")).as("pm"))

  /** The duplicate→original column in closed form over `(doc_id, gid,
    * pm)` — provably the old member×partner explode + groupBy(doc_id)
    * min (round 13; the explode shipped k×p rows per group and paid a
    * corpus-cardinality aggregation):
    *
    * A member's candidate set is {cand ∈ partners(gid) : cand < doc_id}
    * ∪ {gid | doc_id ≠ gid}, and its original is the set's min.
    *  - doc_id ≠ gid: gid < doc_id (gid is the group MIN), so gid is a
    *    candidate. If pm < gid then pm < doc_id too, so pm survives the
    *    filter and min = pm = least(gid, pm). If pm ≥ gid, every
    *    filtered partner ≥ pm ≥ gid, so min = gid = least(gid, pm).
    *    (pm null ⇒ least skips it ⇒ gid.)
    *  - doc_id = gid: candidates are partners < gid. pm < gid ⇒ min =
    *    pm (pm is the global partner min); pm ≥ gid ⇒ empty ⇒ null
    *    (not a duplicate).
    * So original = IF(doc_id ≠ gid, least(gid, pm), IF(pm < gid, pm)).
    */
  private def originalIdCol: org.apache.spark.sql.Column =
    when(col("doc_id") =!= col("gid"), least(col("gid"), col("pm")))
      .otherwise(when(col("pm") < col("gid"), col("pm")))

  /** The dup-map algebra over an already-derived skinny rep graph:
    * members join the per-group [[minPartners]] frame once and the
    * original falls out of [[originalIdCol]] — no member×partner
    * explode, no corpus-wide groupBy. */
  private def duplicateOfRepGraph(members: DataFrame,
      verifiedPairs: DataFrame): DataFrame =
    members.join(minPartners(verifiedPairs), Seq("gid"), "left")
      .select(col("doc_id"), originalIdCol.as("original_id"))
      .filter(col("original_id").isNotNull)
      .select(col("doc_id").as("duplicate_id"), col("original_id"))

  /** `matches(a, b) >= MinMatches` with early exit both ways — the JVM
    * form of `size(filter(zip_with(sig_a, sig_b, (x,y) -> x = y), v -> v))
    * >= MinMatches` (the HOF spelling runs interpreted and allocates two
    * intermediate arrays per candidate pair). */
  def sigMatchesGE(a: Array[Int], b: Array[Int]): Boolean = {
    var i = 0; var m = 0
    while (i < NumPerm) {
      if (a(i) == b(i)) {
        m += 1
        if (m >= MinMatches) return true
      } else if (m + (NumPerm - i - 1) < MinMatches) return false
      i += 1
    }
    m >= MinMatches
  }
  private val sigMatchGeUdf = udf(sigMatchesGE _)

  /** Exact matched-slot count (no early exit — the count itself is the
    * output for the pair report; est. Jaccard = matches / NumPerm). */
  def sigMatchCount(a: Array[Int], b: Array[Int]): Int = {
    var i = 0; var m = 0
    while (i < NumPerm) { if (a(i) == b(i)) m += 1; i += 1 }
    m
  }
  private val sigMatchCountUdf = udf(sigMatchCount _)

  /** D5: the surviving documents (near-dups removed, lowest id wins).
    * `docs` is read twice — by the signature pass and by the survivors'
    * anti-join — so it is persisted through [[graft.CacheScope]]: an
    * expensive upstream (the pipeline's clean chain) runs once. */
  def dedup(docs: DataFrame): DataFrame = {
    val once = graft.CacheScope.persist(docs)
    dedupAgainst(once, duplicateOf(once))
  }

  private def dedupAgainst(docs: DataFrame, dups: DataFrame): DataFrame =
    docs.join(dups, docs("doc_id") === dups("duplicate_id"), "left_anti")

  /** D7: DeduplicationResult counters (deduplicator.py:29-43, 210-215). */
  def statsQuery(docs: DataFrame): DataFrame = statsOf(docs, duplicateOf(docs))

  private def statsOf(docs: DataFrame, dups: DataFrame): DataFrame =
    docs.select(count(lit(1)).as("total_documents"))
      .crossJoin(dups.select(
        count(lit(1)).as("duplicate_documents"),
        countDistinct(col("original_id")).as("duplicate_clusters")))
      .select(
        col("total_documents"),
        (col("total_documents") - col("duplicate_documents")).as("unique_documents"),
        col("duplicate_documents"),
        col("duplicate_clusters"))

  /** ONE signature + band-join + verify evaluation per table directory,
    * shared by the whole minhash family — the four dupmap consumers
    * (`dedup_minhash`, `dedup_minhash_dupmap`, `dedup_minhash_stats`,
    * `pipeline_unique_docs`) AND the CC clustering family
    * (`dedup_minhash_clusters`, `_cluster_stats`, `dedup_keep_best`),
    * which before round 10 each re-derived the same chain cold (the
    * 100x profile's top block: ~48 s dupmap + ~66 s CC over the SAME
    * signatures). The memoized state is the SKINNY rep graph — members
    * `(doc_id, gid)` and verified rep pairs `(ga, gb, matches)`, two
    * longs + one int per row — eagerly `localCheckpoint`ed while the signature subtree's
    * CacheScope persist is still alive, so the wide 128-int signatures
    * never outlive the build. Same capacity-bounded-LRU + fingerprint
    * invalidation story as every [[QueryMemo]]. On a real cluster the
    * members frame is corpus-cardinality × 16 bytes in executor block
    * storage — the price of sharing; a deployment with flaky executors
    * would swap in reliable `checkpoint()` (the [[Cluster]] pattern). */
  private val repMemo = new QueryMemo[(DataFrame, DataFrame)](name = "rep_graph")
  private[graft] def repGraphFor(s: SparkSession, d: String): (DataFrame, DataFrame) =
    repMemo.getOrElseUpdate(s, d) {
      // Materialization order (round 14): the pre-14 shape planned FIVE
      // actions over the full collapse lineage (bucket probes, pairs
      // checkpoint, members checkpoint), re-running the Catalyst
      // analyze/optimize/codegen cycle on the same big tree each time
      // (measured: ~1.5 s of job execution inside a 6.2 s rep_graph at
      // sf0.1 — the rest driver-side planning) and re-EXECUTING the
      // collapse window three times at 100×. Now: persist withG, the
      // skinny members checkpoint materializes it (window executes
      // ONCE), the wide rep frame checkpoints off the cache, and the
      // whole band/verify chain — bucket probes included — plans over
      // that small checkpointed lineage. Transient block cost: withG
      // (corpus × ~1.1 KB, MEMORY_AND_DISK, released at CacheScope
      // drain) plus the rep checkpoint (unique-sig × ~1.1 KB, released
      // by the ContextCleaner once this build returns — only the two
      // skinny memoized frames outlive it), the same
      // one-build-lifetime class as the signature persist it joins.
      val (withG0, transients) =
        collapseWithTransients(signatures(Tables.documents(s, d)))
      val withG = graft.CacheScope.persist(withG0)
      val members = QueryMemo.materialize(
        withG.select(col("doc_id"), col("gid"), col("gsz")))
      // The members checkpoint materialized the withG persist (the
      // window executed once); the hashed/ghCounts transients have no
      // further consumer — release them BEFORE the band/verify phase
      // runs, instead of holding ~corpus × 1.1 KB of dead blocks
      // through the build's GC-heavy half (guide §5; the r17 driver
      // sweep read 20 s task GC inside this mark).
      transients.foreach(_.unpersist(blocking = false))
      val reps = QueryMemo.materialize(withG.filter(col("doc_id") === col("gid"))
        .select(col("gid"), col("sig")))
      // Same lifecycle cut: reps/members are checkpointed, so the wide
      // withG cache is dead from here on — the verify chain plans over
      // the reps checkpoint alone.
      withG.unpersist(blocking = false)
      val pairs = QueryMemo.materialize(
        verifiedPairsOfReps(reps, BandBucketChunkLen))
      (members, pairs)
    }

  /** ONE member-level attribution pass per table directory, shared by
    * the dup-map family (`dedup_minhash*`, `pipeline_unique_docs`) AND
    * the CC clustering family (`dedup_minhash_clusters`,
    * `_cluster_stats`, `dedup_cluster_histogram`, `dedup_keep_best`) —
    * round 13: both families join the corpus-cardinality members frame
    * against per-GROUP attributes (min verified partner for the dup
    * map, transitive component label for clustering), and before this
    * memo each paid its own members join + corpus-level checkpoint.
    * Per-gid frames ([[minPartners]] and the contracted-graph CC
    * labels) are rep-graph-sized, so ONE members join emits
    * `(doc_id, gid, gsz, original_id, cluster_id)` — the dup map is
    * `original_id IS NOT NULL` ([[originalIdCol]]'s closed form) and
    * the cluster labels are `gsz ≥ 2 OR cluster_id IS NOT NULL` with
    * `coalesce(cluster_id, gid)` (the rep-CC relabeling argument at
    * [[Cluster.clustersFor]]) — one corpus exchange and one checkpoint
    * where round 12 paid two of each.
    * (`pipeline_unique_docs` deduplicates the UNCLEANED documents
    * table — reference parity, src/main.py:250-256 — which is why it
    * can share this memo while `pipeline_summary`'s post-clean exact
    * dedup cannot.) */
  private val attrsMemo = new QueryMemo[DataFrame](name = "member_attrs")
  private[pipeline] def memberAttrsFor(s: SparkSession, d: String): DataFrame =
    attrsMemo.getOrElseUpdate(s, d) {
      val (members, pairs) = repGraphFor(s, d)
      val repCc = Cluster.componentsOfPairs(
          pairs.filter(col("tree"))
            .select(col("ga").as("id_a"), col("gb").as("id_b")))
        .select(col("doc_id").as("gid"), col("cluster_id"))
      // pm and cluster_id have identical support (a gid has a verified
      // partner iff it sits in a tree pair's component — the forest
      // keeps every paired rep), but full_outer costs nothing and
      // leaves the invariant to the data rather than the reader.
      val gidAttrs = minPartners(pairs).join(repCc, Seq("gid"), "full_outer")
      QueryMemo.materialize(members.join(gidAttrs, Seq("gid"), "left")
        .select(col("doc_id"), col("gid"), col("gsz"),
          originalIdCol.as("original_id"), col("cluster_id")))
    }

  /** The duplicate_id → original_id map — a filter-projection of the
    * [[memberAttrsFor]] checkpoint (no second materialization). */
  def dupsFor(s: SparkSession, d: String): DataFrame =
    memberAttrsFor(s, d)
      .filter(col("original_id").isNotNull)
      .select(col("doc_id").as("duplicate_id"), col("original_id"))

  // -----------------------------------------------------------------------
  // Batch DELTA near-dup dedup (round 16, verdict #5): dedup a new slice
  // against an existing corpus snapshot WITHOUT re-banding the corpus.
  // -----------------------------------------------------------------------

  /** Persisted signature store of the corpus snapshot (everything NOT in
    * the `doc_id % DeltaMod == 0` delta slice): `(doc_id, sig)` plus its
    * pre-exploded LSH band keys `(doc_id, band, bh)` — the batch twin of
    * the streaming near-dup store's state
    * ([[graft.streaming.StreamPipeline]]), built ONCE per table
    * directory and reused by every delta run. This is the production
    * pattern for a growing 100 TB corpus: the index (signatures + bands)
    * is materialized when the corpus is ingested — bucketed parquet on a
    * real deployment, [[QueryMemo.materialize]] state here — so an
    * incremental batch never recomputes a corpus signature and never
    * re-bands the history; it is the amortization the reference's
    * in-memory incremental index gets for free (deduplicator.py:150-180),
    * re-expressed as shared state.
    *
    * The store is CONTRACTED to identical-signature representatives
    * `(gid, sig)`, `gid` = min member doc_id — the same lossless
    * collapse the batch rep graph runs, and here the expansion back to
    * members is FREE: signature-identical store docs verify identically
    * against any probe, so a delta doc's minimal store partner over all
    * members is the minimal `gid` over matched GROUPS (each gid IS its
    * group's min). On the duplicate-heavy gate corpus this is the
    * difference between a delta doc colliding with one rep versus its
    * whole boilerplate family (measured: the member-level spelling read
    * 78.6 s for a 51k-doc delta at 100×; see SCALE.md §16).
    *
    * Storage is [[ScratchCache]] parquet, NOT a checkpoint: the store is
    * ~1 KB/row (128 longs) and corpus-width on a unique-heavy corpus,
    * i.e. the Grams class of fat shared frame — materializing it into
    * the block manager would pin gigabytes at the 100× shapes and evict
    * the per-query persists (the round-12 Grams measurement). Parquet
    * streams on scan, reuses across processes, and with a checkpoint
    * dir configured lands on shared multi-node storage. Band keys are
    * derived on scan (a 128-long fold per row) rather than stored
    * 16-fold wide. The contraction window is one ingest-time exchange,
    * keyed on xxhash64(sig) with the full sig riding in the partition
    * key (collisions split, never merge — the round-5 collapse-key
    * pattern). */
  private val storeMemo = new QueryMemo[(DataFrame, DataFrame)](name = "delta_sig_store")
  private[graft] def sigStoreFor(s: SparkSession, d: String): (DataFrame, DataFrame) =
    storeMemo.getOrElseUpdate(s, d) {
      def built = storeRepsDerived(s, d)
      // name versions the FORMAT: "sigrepi" = rep-contracted (gid, sig)
      // with INT signature elements (round 18); the BIGINT "sigrep" and
      // the member-level "sigstore" layouts are legacy-swept.
      val reps = ScratchCache.parquetFor(s, d, "sigrepi")(built)
        .getOrElse(QueryMemo.materialize(built)) // no stable key: heap fallback
      (reps, repBands(reps))
    }

  /** Broadcast bound for the derived store-rep ID set (8 B/row — 4M ids
    * ≈ 32 MB, the [[HotBucketKeysMax]] class); a corpus with more
    * store reps falls back to the self-contained [[storeRepsOf]]
    * spelling. */
  val StoreRepIdsMax: Long = HotBucketKeysMax

  /** The cold-build spelling of the sigrep store, derived from the
    * shared rep graph instead of a SECOND corpus-wide signature pass
    * (round 18, guide §2.4): [[storeRepsOf]] re-runs the 40k-op
    * signature kernel over every store doc and pays a corpus-width
    * sig-keyed window exchange — work the rep-graph memo chain has
    * already done for the same corpus in the same build. Derivation:
    * store groups = corpus identical-signature groups restricted to
    * store members, so
    *   sgid := min store member doc_id per corpus group (a skinny
    *           16 B/row aggregation over the members checkpoint), and
    *   sig(sgid doc) = its group's signature (identical within the
    *           group by construction),
    * hence ONE broadcast-semi-join fetch of the sgid docs plus the
    * signature kernel at REP cardinality reproduces [[storeRepsOf]]'s
    * output row-for-row (StoreRepsParitySpec pins it on a mixed
    * corpus). Exactness: corpus groups are exact full-sig groups
    * (collapse windows on (xxhash64(sig), sig) — collisions split,
    * never merge), each corpus group holds at most one store group,
    * distinct corpus groups have distinct sigs, so the (sgid, sig)
    * sets coincide. Beyond [[StoreRepIdsMax]] reps the id broadcast
    * would not fit — fall back to the old spelling. */
  private[graft] def storeRepsDerived(s: SparkSession, d: String): DataFrame = {
    val storeDocs =
      Tables.documents(s, d).filter(col("doc_id") % Dedup.DeltaMod =!= 0)
    val (members, _) = repGraphFor(s, d)
    val sgids = members.filter(col("doc_id") % Dedup.DeltaMod =!= 0)
      .groupBy(col("gid")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .transform(graft.CacheScope.persist) // feeds the bound probe AND the semi join
    if (sgids.count() <= StoreRepIdsMax)
      signatures(storeDocs.join(broadcast(sgids), Seq("doc_id"), "left_semi"))
        .withColumnRenamed("doc_id", "gid")
    else storeRepsOf(storeDocs)
  }

  /** The rep-contracted store relation `(gid, sig)` of an arbitrary
    * corpus-snapshot docs frame — the library building block behind
    * [[sigStoreFor]] (tests, probes, callers with their own snapshot). */
  def storeRepsOf(storeDocs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(xxhash64(col("sig")), col("sig"))
    signatures(storeDocs)
      .withColumn("gid", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("gid"))
      .select(col("gid"), col("sig"))
  }

  /** Pre-exploded LSH band keys of a rep store: `(gid, band, bh)`. */
  def repBands(reps: DataFrame): DataFrame =
    bandKeys(reps.withColumnRenamed("gid", "doc_id"))
      .withColumnRenamed("doc_id", "gid")

  /** `dedup_delta_minhash`: the delta slice's duplicate→original map
    * under INCREMENTAL first-seen semantics — every store doc was "seen
    * before" every delta doc (whatever its id), delta docs among
    * themselves in ascending-doc_id order. A delta doc's original is
    * therefore its smallest verified STORE partner if any exists, else
    * its smallest verified EARLIER-DELTA partner. */
  def deltaMinhashDupmap(s: SparkSession, d: String): DataFrame = {
    val (storeSigs, storeBands) = sigStoreFor(s, d)
    deltaDupMapOf(
      signatures(Tables.documents(s, d)
        .filter(col("doc_id") % Dedup.DeltaMod === 0)),
      storeSigs, storeBands)
  }

  /** The delta attribution algebra over a rep-contracted store. Cost
    * scales with the DELTA, not the corpus: the store contributes one
    * scan of its skinny pre-banded rep keys into the (band, bh)
    * candidate join (no store shuffle of signatures, no banding, no
    * signature kernel), wide store signatures are fetched only for the
    * candidate-MATCHED groups, and the in-delta leg runs the full
    * [[duplicateOfSigs]] machinery on the delta alone.
    *
    * BOTH sides are identical-signature-contracted before the band join
    * (round 16, after the member-level spelling measured 78.6 s on a
    * 51k-doc delta at the duplicate-heavy 100× gate corpus — every
    * delta doc collided with its whole boilerplate family): candidates,
    * verification and the min-partner resolution all run at rep
    * cardinality, then ONE delta-scale members join expands the group
    * verdict. Lossless: verification is a pure function of the two
    * signatures, so a group verdict holds for every member pair, and
    * min over matched members = min over matched groups' gids (a gid IS
    * its group's min). */
  def deltaDupMapOf(deltaSigs0: DataFrame, storeReps: DataFrame,
      storeBands: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val deltaSigs = graft.CacheScope.persist(deltaSigs0)
    // Small-delta fast path (round 17, verdict #4): the contracted
    // spelling below is a ~15-job chain whose driver floor (~2-4 s)
    // dominates PRODUCTION incremental cadence — hourly batches of a
    // few hundred docs against a 100 TB store. Below the broadcast
    // bound, the whole attribution runs as ONE pass over the rep-store
    // parquet with the delta riding as broadcasts (the count here is
    // one cheap job against the just-persisted sigs, and it warms the
    // persist the big path reuses). Result-identical — see
    // [[deltaDupMapSmall]]'s equality argument; the scale legs keep
    // both paths oracle-covered (sf0.001/0.01 take this branch, sf0.1
    // and the 100x gates take the contracted one).
    if (deltaSigs.count() <= DeltaBroadcastMax)
      deltaDupMapSmall(deltaSigs, storeReps)
    else
      deltaDupMapContracted(deltaSigs, storeReps, storeBands)
  }

  /** The contracted (big-delta) spelling — both sides identical-
    * signature-collapsed before the band join; see [[deltaDupMapOf]]'s
    * scaladoc for the algebra. Exposed at library scope so the parity
    * spec can pin small-path == contracted-path on the same input. */
  private[graft] def deltaDupMapContracted(deltaSigs: DataFrame,
      storeReps: DataFrame, storeBands: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // delta-side contraction (delta-scale window, xxhash64-keyed)
    val dW = Window.partitionBy(xxhash64(col("sig")), col("sig"))
    val dMembers = graft.CacheScope.persist(
      deltaSigs.withColumn("dgid", min(col("doc_id")).over(dW)))
    val dReps = dMembers.filter(col("doc_id") === col("dgid"))
      .select(col("dgid"), col("sig"))
    val dBands = bandKeys(dReps.withColumnRenamed("dgid", "doc_id"))
      .withColumnRenamed("doc_id", "dgid")
    val cand = storeBands.select(col("gid"), col("band"), col("bh"))
      .join(dBands, Seq("band", "bh"))
      .select(col("dgid"), col("gid")).distinct()
      .transform(graft.CacheScope.persist) // feeds the gid semi-join AND the verify join
    val matchedReps = storeReps
      .join(cand.select(col("gid")).distinct(), Seq("gid"), "left_semi")
    // rep-level verify, then per delta-group min store partner
    val minStore = cand
      .join(matchedReps.withColumnRenamed("sig", "ssig"), "gid")
      .join(dReps.withColumnRenamed("sig", "dsig"), "dgid")
      .filter(sigMatchCol(col("dsig"), col("ssig")))
      .groupBy(col("dgid")).agg(min(col("gid")).as("cand_id"))
    // expand the group verdict to members: every member of a matched
    // delta group (its rep included) attributes to the store partner
    val vsStore = dMembers.select(col("doc_id"), col("dgid"))
      .join(minStore, "dgid")
      .select(col("doc_id").as("duplicate_id"), col("cand_id"),
        lit(0).as("pri"))
    // pri 1: the delta against itself — the standard batch dup map
    // (min earlier verified partner per doc) over the delta alone.
    val inDelta = duplicateOfSigs(deltaSigs)
      .select(col("duplicate_id"), col("original_id").as("cand_id"),
        lit(1).as("pri"))
    vsStore.union(inDelta)
      .groupBy(col("duplicate_id"))
      .agg(min(struct(col("pri"), col("cand_id"))).as("m"))
      .select(col("duplicate_id"), col("m.cand_id").as("original_id"))
  }

  /** Deltas at or under this row count take [[deltaDupMapSmall]]. Sized
    * so every broadcast is bounded by construction: band keys ≤ 4096 x
    * [[NumBands]] skinny rows, signatures ≤ 4096 x 1 KB ≈ 4 MB. */
  val DeltaBroadcastMax = 4096L

  /** Broadcast spelling of the delta attribution for small deltas — the
    * production shape for high-cadence incremental ingest, where the
    * contracted path's multi-stage driver chain IS the cost. The store
    * leg is ONE pass over the rep-store parquet: band keys are derived
    * on scan with the signature riding (no store shuffle, nothing
    * persisted), matched map-side against the broadcast delta band
    * keys, verified in place, and reduced by one tiny aggregation. The
    * in-delta leg is the member-level band self-join of the delta alone
    * with the build side broadcast.
    *
    * Result-identical to the contracted path: (a) store side — the
    * store is already rep-contracted, and a delta MEMBER's bands equal
    * its group rep's bands (identical signature), so the matched
    * (store gid, delta doc) set — and min gid per doc — is the same
    * whether the delta is contracted or not; duplicate band matches per
    * pair cost ≤ NumBands extra verifications and collapse in the min.
    * (b) in-delta — [[duplicateOfSigs]]'s rep-graph algebra equals the
    * member-level "min earlier verified partner" (its own scaladoc
    * equality argument, run in reverse: group min = gid, identical sigs
    * always collide and verify, so candidate sets are group-closed).
    * (c) resolution — same (pri, cand) ordering as the big path. */
  private[graft] def deltaDupMapSmall(deltaSigs: DataFrame, storeReps: DataFrame): DataFrame = {
    val dBands = bandKeys(deltaSigs)
    val dSigs = deltaSigs.withColumnRenamed("sig", "dsig")
    val sBands = storeReps.select(col("gid"), col("sig").as("ssig"),
      posexplode(graft.functions.BandHashes(col("sig"))).as(Seq("band", "bh")))
    val vsStore = sBands
      .join(broadcast(dBands), Seq("band", "bh"))
      .join(broadcast(dSigs), "doc_id")
      .filter(sigMatchCol(col("dsig"), col("ssig")))
      .groupBy(col("doc_id").as("duplicate_id"))
      .agg(min(col("gid")).as("cand_id"))
      .select(col("duplicate_id"), col("cand_id"), lit(0).as("pri"))
    // In-delta leg mirrors the store leg's slimming: the broadcast build
    // side carries band KEYS only (the signature would otherwise ride
    // every one of the NumBands rows — a NumBands-fold fatter broadcast
    // for no information); the partner's signature joins back from the
    // once-per-doc dSigs broadcast after the da < db cut.
    val dbs = deltaSigs.select(col("doc_id"), col("sig"),
      posexplode(graft.functions.BandHashes(col("sig"))).as(Seq("band", "bh")))
    val inDelta = dbs
      .select(col("doc_id").as("da"), col("sig").as("sa"), col("band"), col("bh"))
      .join(broadcast(dBands.select(col("doc_id").as("db"), col("band"), col("bh"))),
        Seq("band", "bh"))
      .filter(col("da") < col("db"))
      .join(broadcast(dSigs.select(col("doc_id").as("db"), col("dsig").as("sb"))), "db")
      .filter(sigMatchCol(col("sa"), col("sb")))
      .groupBy(col("db").as("duplicate_id"))
      .agg(min(col("da")).as("cand_id"))
      .select(col("duplicate_id"), col("cand_id"), lit(1).as("pri"))
    vsStore.union(inDelta)
      .groupBy(col("duplicate_id"))
      .agg(min(struct(col("pri"), col("cand_id"))).as("m"))
      .select(col("duplicate_id"), col("m.cand_id").as("original_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_delta_minhash" -> ((s, d) => deltaMinhashDupmap(s, d)),
    "dedup_minhash" -> ((s, d) =>
      dedupAgainst(Tables.documents(s, d), dupsFor(s, d)).select("doc_id", "n_chars")),
    "dedup_minhash_dupmap" -> ((s, d) => dupsFor(s, d)),
    "dedup_minhash_stats" -> ((s, d) => statsOf(Tables.documents(s, d), dupsFor(s, d))),
    // Pair-similarity report: the verified rep-level near-dup pairs with
    // their estimated Jaccard (matches/NumPerm — exact power-of-two
    // division, bit-identical cross-engine). The per-pair similarity is
    // what threshold-tuning and dedup audits read; a checkpoint scan of
    // the shared rep graph, zero recomputation.
    "dedup_minhash_pairs" -> ((s, d) => repGraphFor(s, d)._2
      .select(col("ga").as("id_a"), col("gb").as("id_b"),
        col("matches").cast("long").as("n_matches"),
        (col("matches").cast("double") / lit(NumPerm.toDouble)).as("est_jaccard"))))

  // -----------------------------------------------------------------------
  // DuckDB oracle: the identical pipeline in SQL (integer-exact).
  // -----------------------------------------------------------------------

  private def lit128(xs: Array[Long]): String = xs.mkString("[", ",", "]")

  /** DuckDB CTEs for the shingle-hash multiset (shared with the SimHash
    * and fingerprint oracles). */
  private[pipeline] val shingleCtesD: String =
    s"""nrm AS (SELECT doc_id, regexp_replace(lower(text), '$WsRe', ' ', 'g') AS nrm FROM documents),
       |hs AS (SELECT doc_id,
       |  CASE WHEN length(nrm) = 0 THEN [CAST(0 AS BIGINT)]
       |  ELSE list_transform(
       |    CASE WHEN length(nrm) >= $ShingleSize
       |         THEN list_transform(range(1, length(nrm) - ${ShingleSize - 2}), i -> substr(nrm, i, $ShingleSize))
       |         ELSE [nrm] END,
       |    s -> list_reduce(list_transform(range(1, length(s) + 1), i -> CAST(ord(substr(s, i, 1)) AS BIGINT)),
       |                     (h, c) -> (h * $HashMult + c) % $P)) END AS hashes
       |  FROM nrm)""".stripMargin

  /** Shared CTE prefix: norm -> shingle hashes -> signatures -> bands ->
    * candidate pairs -> verified pairs -> dup map. Reused by the
    * pipeline semi-join oracle. */
  private[pipeline] val oraclePrefix: String =
    s"""WITH consts AS (SELECT ${lit128(permA)} AS pa, ${lit128(permB)} AS pb),
       |$shingleCtesD,
       |sigs AS (SELECT doc_id,
       |  list_transform(range(1, ${NumPerm + 1}), k ->
       |    list_min(list_transform(hashes, h -> (pa[k] * h + pb[k]) % $P))) AS sig
       |  FROM hs, consts),
       |bnds AS (SELECT doc_id,
       |  unnest(range(0, $NumBands)) AS band,
       |  unnest(list_transform(range(0, $NumBands), j ->
       |    list_reduce(sig[$RowsPerBand * j + 1 : $RowsPerBand * j + $RowsPerBand],
       |                (h, v) -> (h * $HashMult + v) % $P))) AS bh
       |  FROM sigs),
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bnds x JOIN bnds y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |ver AS (SELECT id_a, id_b FROM cand
       |  JOIN sigs sa ON sa.doc_id = id_a
       |  JOIN sigs sb ON sb.doc_id = id_b
       |  WHERE list_sum(list_transform(range(1, ${NumPerm + 1}), k ->
       |          CASE WHEN sa.sig[k] = sb.sig[k] THEN 1 ELSE 0 END)) >= $MinMatches),
       |dups AS (SELECT id_b AS duplicate_id, min(id_a) AS original_id FROM ver GROUP BY id_b)""".stripMargin

  def oracles: Map[String, String] = Map(
    // Delta semantics in SQL: candidates are banded collisions where the
    // duplicate side is a delta doc and the partner is EITHER a store doc
    // (pri 0 — "seen before" regardless of id) or an earlier delta doc
    // (pri 1); the original is the (pri, id)-minimal verified partner.
    "dedup_delta_minhash" ->
      s"""$oraclePrefix,
         |dcand AS (SELECT y.doc_id AS duplicate_id, x.doc_id AS cand_id,
         |    CASE WHEN x.doc_id % ${Dedup.DeltaMod} <> 0 THEN 0 ELSE 1 END AS pri
         |  FROM bnds x JOIN bnds y ON x.band = y.band AND x.bh = y.bh
         |  WHERE y.doc_id % ${Dedup.DeltaMod} = 0 AND x.doc_id <> y.doc_id
         |    AND (x.doc_id % ${Dedup.DeltaMod} <> 0 OR x.doc_id < y.doc_id)
         |  GROUP BY 1, 2, 3),
         |dver AS (SELECT duplicate_id, cand_id, pri FROM dcand
         |  JOIN sigs sa ON sa.doc_id = cand_id
         |  JOIN sigs sb ON sb.doc_id = duplicate_id
         |  WHERE list_sum(list_transform(range(1, ${NumPerm + 1}), k ->
         |          CASE WHEN sa.sig[k] = sb.sig[k] THEN 1 ELSE 0 END)) >= $MinMatches)
         |SELECT duplicate_id, cand_id AS original_id FROM (
         |  SELECT duplicate_id, cand_id,
         |         row_number() OVER (PARTITION BY duplicate_id
         |                            ORDER BY pri, cand_id) AS rk
         |  FROM dver)
         |WHERE rk = 1""".stripMargin,
    "dedup_minhash" ->
      s"""$oraclePrefix
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT duplicate_id FROM dups)""".stripMargin,
    "dedup_minhash_dupmap" ->
      s"""$oraclePrefix
         |SELECT duplicate_id, original_id FROM dups""".stripMargin,
    "dedup_minhash_stats" ->
      s"""$oraclePrefix
         |SELECT (SELECT count(*) FROM documents) AS total_documents,
         |       (SELECT count(*) FROM documents) - (SELECT count(*) FROM dups) AS unique_documents,
         |       (SELECT count(*) FROM dups) AS duplicate_documents,
         |       (SELECT count(DISTINCT original_id) FROM dups) AS duplicate_clusters""".stripMargin,
    // Rep-level pairs = member-level banded candidates restricted to
    // identical-signature group minima (reps share their group's sig,
    // hence its bands — the same contraction argument as repGraph).
    "dedup_minhash_pairs" ->
      s"""$oraclePrefix,
         |grp AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY sig) AS gid FROM sigs),
         |reps AS (SELECT doc_id FROM grp WHERE doc_id = gid)
         |SELECT id_a, id_b, n_matches,
         |       CAST(n_matches AS DOUBLE) / CAST($NumPerm AS DOUBLE) AS est_jaccard
         |FROM (SELECT c.id_a, c.id_b,
         |        CAST(list_sum(list_transform(range(1, ${NumPerm + 1}), k ->
         |          CASE WHEN sa.sig[k] = sb.sig[k] THEN 1 ELSE 0 END)) AS BIGINT)
         |          AS n_matches
         |      FROM cand c
         |      JOIN sigs sa ON sa.doc_id = c.id_a
         |      JOIN sigs sb ON sb.doc_id = c.id_b
         |      WHERE c.id_a IN (SELECT doc_id FROM reps)
         |        AND c.id_b IN (SELECT doc_id FROM reps))
         |WHERE n_matches >= $MinMatches""".stripMargin)
}
