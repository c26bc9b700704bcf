package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic hashed bag-of-words text embeddings + semantic dedup
  * over them — the model-free bridge between the text pipeline and the
  * embedding-dedup family: when no learned embedding rides the corpus,
  * the feature-hashing trick (Weinberger et al. 2009, "Feature Hashing
  * for Large Scale Multitask Learning") gives every document a
  * deterministic sparse vector cheap enough to compute inline, and
  * cosine over it IS word-multiset similarity — near-dup detection that
  * survives word reordering, which the shingle family does not.
  *
  * Cross-engine exactness: the word→dimension hash is the first 8 hex
  * digits of md5 (both engines spell it: Spark `conv(substring(md5(w),
  * 1, 8), 16, 10)`, DuckDB `CAST('0x' || substr(md5(w), 1, 8) AS
  * BIGINT)`), weights are integer COUNTS, and the LSH planes are ±1
  * integers — so every sum (plane projections, dot products, norms) is
  * an EXACT integer aggregation, order-independent by construction.
  * Only the final cosine divides into doubles: deterministic IEEE ops
  * on exact ints, so the oracle hash-agrees with no fold gymnastics.
  * (Contrast the float-embedding family, which needs left-fold
  * spellings for every sum.)
  *
  * Scale shape: embedding is one explode + (doc, dim) count — narrow,
  * scan-shaped; dedup blocks pairs by an 8-bit sign-LSH bucket (the
  * same [[graft.relational.Similarity.planes]] constants, consumed as
  * integers), pairs join on bucket, and verification joins the two
  * sparse vectors dim-to-dim — work ∝ shared dims per candidate pair,
  * never corpus². Exact-text duplicates should be removed by the exact
  * dedup stage FIRST (standing pipeline order) — identical texts
  * produce identical vectors and would otherwise pair quadratically
  * inside their bucket, the same reason the embedding family collapses
  * identical vectors. */
object TextEmbed {

  val Dim = 64
  val DedupCosine = 0.9

  /** Margin-directed multi-probe flips per vector (round 13; the
    * query-directed probing idea of Lv et al. 2007, "Multi-Probe LSH",
    * adapted to symmetric dedup blocking): besides its own bucket,
    * each vector probes the buckets reached by flipping its
    * [[ProbeFlips]] SMALLEST-|margin| planes — margin = |n·proj_p −
    * Σproj_p|, the exact-integer distance to plane p's centered
    * boundary. A near-dup pair that straddles a plane straddles it
    * NEAR the boundary (the pair's vectors are close), so the
    * straddled plane is precisely a low-margin plane for both — the
    * probe set recovers most single-flip misses at (1+T)+1 keys
    * instead of full Hamming-1's (1+np)×, and the extra CO-FLIP key
    * (both smallest margins XORed together) extends coverage to two-
    * and three-plane straddles, whose XORs compose across the pair.
    * To keep the bucket join occupancy-neutral in TOTAL KEYS, the
    * plane count is derived from n·(T+2): more, finer buckets, with
    * the probes covering the extra straddle risk exactly where it
    * concentrates.
    *
    * Measured by `graft.Probe recall` (planted near-pairs, both
    * standing 100× corpora, round 13): exact-bucket recall was 0.39
    * realistic / 0.52 gate; at T=4 the probed blocking reads 0.94 /
    * 0.97, costing dedup_semantic_text 5.3 → 10.9 s realistic and
    * 5.3 → 13.2 s gate at 100× — the measured realistic T sweep
    * (T = 2/3/4/5, with co-flip → 0.84/0.90/0.94/0.96) picked T=4 as
    * the knee (gate cost is flat in T: 13.3 s at T=3 vs 13.2 at T=4);
    * an extra-plane "sharpen" probe (halving occupancy) did NOT
    * reduce the cost, so the price is candidate verification, not
    * bucket scans. The oracle spells the identical probe set, so the
    * candidate net stays bit-comparable.
    *
    * Round 14 — default raised to T=5 from the measured realistic-100×
    * frontier (recall / verify-pairs / wall, calibration-comparable
    * hosts): T=4+1co 0.9375 / 254M / 38.4 s; T=5+1co **0.9609 / 341M /
    * 36.6 s**; T=4+3co 0.9453 / 442M / 47.9 s; T=4+3co+triple 0.9453 /
    * 303M / 37.7 s; T=3+3co 0.9141 / 340M / 40.9 s. Extra co-flips buy
    * almost nothing (straddles beyond 2 planes rarely sit in the top-3
    * margins together); the fifth single flip is the efficient key —
    * wall at or below baseline (the +34% candidate pairs are absorbed
    * by the ascending early-exit kernel and the one extra plane's finer
    * buckets), recall over the 0.96 bar. */
  val ProbeFlips: Int = 5

  /** Extra bucket sharpening beyond key-count occupancy neutrality:
    * each doubling halves expected occupancy (quartering in-bucket
    * pair work) at the cost of one more straddleable plane — the
    * probes absorb most of that risk. */
  val OccSharpen: Int = 1

  /** Co-flip probe-key count (round 14, from the recall/cost frontier
    * sweep): how many XOR-composed keys each vector emits
    * beyond its bucket and the [[ProbeFlips]] single flips. The defs
    * below list them in fixed order — pairs over the three
    * smallest-|margin| planes, then the triple — so C=1 is exactly the
    * round-13 behavior ({1,2} only). A pair straddling two planes {p,q}
    * is caught when one side's co-flip XORs both against the other's
    * true bucket; the extra pairs/triple widen which straddle
    * combinations compose. Total keys per vector = 1 + T + C, and the
    * plane count derives from that product, keeping the bucket join
    * occupancy-neutral in total keys. */
  val CoFlips: Int = 1

  /** 1-based sorted-margin index sets of the co-flip keys, in fixed
    * order; defs needing a plane index beyond np drop out (the oracle's
    * rn-joins self-guard identically: a missing rn row yields no key). */
  private def coflipDefs(np: Int): Seq[Seq[Int]] =
    Seq(Seq(1, 2), Seq(1, 3), Seq(2, 3), Seq(1, 2, 3))
      .take(CoFlips).filter(_.forall(_ <= np))

  /** Corpus-proportional plane count (round-6 scale rule, same formula
    * and clamps as the float-embedding family): buckets track n/128 so
    * per-bucket occupancy — and the candidate pair join — stays bounded
    * as the corpus grows. Derived from the RAW document count on both
    * sides (Spark counts `docs`, the oracle counts `documents`), so the
    * two engines always block identically; occupancy-exact down to one
    * plane on small corpora (round 12 — see
    * [[graft.relational.Similarity.planesFor]]). Recall trade documented
    * on [[semanticDedupQuery]]. */
  private def planesFor(n: Long): Int = graft.relational.Similarity.planesFor(n)

  /** Sparse hashed-BoW embedding: one `(doc_id, dim, weight)` row per
    * populated dimension; weight = term count landing in the bucket.
    * Round 11: computed in-row by the [[hashedBowKernel]] native
    * expression — the word-occurrence explode, the md5-per-occurrence,
    * and the (doc_id, dim) exchange are gone; each distinct word is
    * hashed once per doc. */
  def hashEmbeddingQuery(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.HashedBow(col("text"), 0).getField("vec")).as("e"))
      .select(col("doc_id"), col("e.dim").as("dim"), col("e.weight").as("weight"))

  /** Per-thread MD5 scratch (the LangModel bigram-kernel pattern: the
    * JCA provider lookup is not a per-row cost; the dense vector is
    * reused across rows on a thread). */
  private val embedScratch =
    new ThreadLocal[(java.security.MessageDigest, Array[Long])] {
      override def initialValue() =
        (java.security.MessageDigest.getInstance("MD5"), new Array[Long](Dim))
    }

  /** JVM kernel behind [[graft.functions.HashedBowExpression]]: one
    * doc's hashed-BoW vector — (dim, weight) pairs dim-ascending — plus
    * its np RAW ±1-plane projections (exact integer sums), in one pass.
    * dim = first 32 md5 bits of the (lowercased, Locale.ROOT) word mod
    * [[Dim]], bit-identical to the
    * `conv(substring(md5(word), 1, 8), 16, 10)` spelling both engines
    * share; weights are occurrence counts. The SIGN threshold is not
    * taken here: count vectors are non-negative, so the corpus lives in
    * one orthant and raw `> 0` signs concentrate into a handful of
    * buckets (the round-12 realistic-corpus sweep measured a 31k-doc
    * hot bucket and 1.7e9 candidate pairs at 500k docs) —
    * [[semanticDedupQuery]] centers each plane at its corpus mean
    * instead, which needs the raw projections. np = 0 skips them (the
    * hash-embedding query's form). */
  def hashedBowKernel(text: String, np: Int): (Array[(Long, Long)], Array[Long]) = {
    val wcs = LangModel.wordTypeCounts(text, lower = true)
    val (md, dense) = embedScratch.get()
    java.util.Arrays.fill(dense, 0L)
    var i = 0
    while (i < wcs.length) {
      md.reset()
      md.update(wcs(i)._1.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val d = md.digest()
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      dense((h % Dim).toInt) += wcs(i)._2
      i += 1
    }
    var nnz = 0
    var dd = 0
    while (dd < Dim) { if (dense(dd) > 0L) nnz += 1; dd += 1 }
    val vec = new Array[(Long, Long)](nnz)
    var t = 0
    dd = 0
    while (dd < Dim) {
      if (dense(dd) > 0L) { vec(t) = (dd.toLong, dense(dd)); t += 1 }
      dd += 1
    }
    val projs = new Array[Long](np)
    var p = 0
    while (p < np) {
      var s = 0L
      dd = 0
      while (dd < Dim) {
        if (dense(dd) != 0L)
          s += dense(dd) * graft.relational.Similarity.planes(p)(dd).toLong
        dd += 1
      }
      projs(p) = s
      p += 1
    }
    (vec, projs)
  }

  /** The ±1 plane entries as integer rows `(p, dim, sign)` — the SAME
    * LCG constants as the float-embedding family's planes, consumed
    * exactly (prefix-stable: `np` planes are always the first `np`). */
  private def planeRows(np: Int): Seq[(Int, Int, Int)] =
    for (p <- 0 until np; d <- 0 until Dim)
      yield (p, d, graft.relational.Similarity.planes(p)(d).toInt)

  /** Memoized documents cardinality (the Similarity.embCountFor
    * pattern): [[semanticDedupQuery]]'s plane derivation needs only n,
    * and an un-memoized count opened a full-table job per query
    * invocation. */
  private val docCountMemo = new QueryMemo[java.lang.Long](name = "doc_count")
  private[graft] def docCountFor(s: org.apache.spark.sql.SparkSession, d: String): Long =
    docCountMemo.getOrElseUpdate(s, d)(
      java.lang.Long.valueOf(Tables.documents(s, d).count())).longValue()

  /** Semantic near-dup over the hashed vectors: identical-vector
    * collapse, MEAN-CENTERED sign-LSH bucket blocking over the
    * REPRESENTATIVES, dim-to-dim exact-integer dot verification,
    * cosine >= [[DedupCosine]]; lowest partner id wins.
    *
    * Centering (round 12): count vectors are non-negative, so the whole
    * corpus lives in one orthant and a through-the-origin sign split
    * degenerates — most docs land on the SAME side of most planes (the
    * realistic-corpus sweep measured a 31k-doc hot bucket and 1.7e9
    * candidate pairs at 500k docs; 361 s). Bucket bit p is therefore
    * `n·proj_p(v) > Σ_corpus proj_p` — the sign of the projection of
    * the MEAN-CENTERED vector, in exact integer algebra (multiply
    * through by n instead of dividing the mean; overflow bound:
    * n·proj < 2^63 holds to ~10^12 docs of ~10^6 tokens). Centering the
    * split at the data mean is the standard correction for cosine-LSH
    * over skewed/non-centered data, and rebalances the same planes:
    * the 500k-doc probe fills all 4096 buckets (max occupancy 31k→1.2k,
    * candidate pairs 1.7e9→5.2e7, 33x). The recall trade every LSH
    * blocking makes (a near-dup pair can straddle a plane) now sits at
    * the data median rather than in empty space — the oracle spells the
    * identical centered blocking, so the two engines still compare the
    * exact same candidate set.
    *
    * The collapse is the same hot-cluster guard every dedup operator
    * here carries (MinHash.repGraph, jaccard, the embedding family):
    * byte-identical texts hash to IDENTICAL vectors, so a k-copy
    * boilerplate cluster would otherwise meet itself in one bucket as
    * k²/2 candidate pairs — the 10x probe measured 216 s before the
    * collapse, 8 s after, hash-identical results (cosine is a pure
    * function of the two vectors; a group's min member below any doc is
    * the group's global min, so rep-level verification +
    * [[MinHash.duplicateOfRepGraph]]'s member expansion reproduces the
    * all-pairs answer the oracle computes). */
  def semanticDedupQuery(docs: DataFrame, threshold: Double = DedupCosine,
      nOpt: Option[Long] = None): DataFrame = {
    val collapsed = bucketedVectors(docs, nOpt)
    val members = collapsed.select(col("doc_id"), col("gid"))
    // packed sparse vector: dim << 32 | weight in one Long per entry —
    // the verify kernel reads a primitive array instead of deserializing
    // a struct Row per entry per candidate pair.
    val repVecs = collapsed.filter(col("doc_id") === col("gid"))
      .select(col("doc_id"),
        expr("transform(vec, x -> x.dim * 4294967296L + x.weight)").as("pv"),
        // one kernel bucket per probe key; a pair found through several
        // shared keys emits several (gid, bucket-min-partner) rows —
        // harmless, the attribution below takes the min over all.
        // (A canonical-bucket gate — verify a pair only in its minimum
        // shared key's bucket — was probed in round 13 and REJECTED:
        // counters showed it breaks the early exit on dup-dense buckets
        // (gate-corpus scans 31M -> 238M pairs) to save only 16% of
        // cosines on the realistic corpus.)
        explode(col("keys")).as("bucket"))
    // verification, min-partner form: the attribution
    // (MinHash.duplicateOfRepGraph) only ever reads ONE fact per rep —
    // its MINIMUM qualifying smaller-id co-bucket partner (the proof is
    // at its originalIdCol; the per-pair cosine is a pure function of
    // the two vectors). That licenses a per-bucket kernel over the
    // id-sorted rep list with an ASCENDING EARLY-EXIT scan: the first
    // qualifying smaller partner IS the min, so a planted k-member
    // near-dup cluster costs O(k) kernel calls, not the k²/2 of the
    // pair-join form — the 30x→100x probe measured exponent 1.43 on the
    // join spelling (the generator grows cluster size with the factor,
    // so true pair count grows quadratically) vs sub-linear on this one.
    // It also ships each packed vector once per bucket instead of once
    // per candidate pair. Worst case (a bucket of mutual non-duplicates)
    // degrades to the same k²/2 merges the join form always paid — with
    // k capped near 128 by the occupancy-targeted plane count.
    val verified = repVecs
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pv")))).as("rs"))
      // singleton buckets (common under multi-probe keys) can emit no
      // pair — skip the kernel row decode for them
      .filter(size(col("rs")) >= 2)
      .select(explode(minPartnerUdf(threshold)(col("rs"))).as("p"))
      // each kernel row is (rep, its min partner below it in the bucket)
      .select(col("p._2").as("ga"), col("p._1").as("gb"))
    MinHash.duplicateOfRepGraph(members, verified)
  }

  /** The blocking relation of [[semanticDedupQuery]], extracted (round
    * 13) so `graft.Probe recall` can measure the blocking's recall
    * against brute-force cosine on a sample: `(doc_id, vec, bucket,
    * gid)` — zero-word docs dropped, identical vectors collapsed to
    * their min-id gid, bucket = full-corpus MEAN-CENTERED sign-LSH over
    * [[planesFor]] planes. Persisted (two consumers inside the dedup
    * query; the probe collects a sample). */
  private[graft] def bucketedVectors(docs: DataFrame,
      nOpt: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ss = docs.sparkSession
    val numParts = ss.sparkContext.defaultParallelism
    // Occupancy-neutral in total keys under multi-probe: each vector
    // emits 1 + ProbeFlips + CoFlips keys (own bucket, T single flips,
    // the configured co-flips — default 1), so the plane count targets
    // TargetBucketOccupancy against that many keys per vector (see
    // [[ProbeFlips]], [[CoFlips]]).
    val np = planesFor(
      nOpt.getOrElse(docs.count()) * (1 + ProbeFlips + CoFlips) * OccSharpen)
    // Round 11: vector AND bucket come off the scan in one native
    // kernel pass (HashedBow) — the exploded (doc, dim, weight) frame,
    // its (doc_id, dim) exchange, the collect_list re-assembly, and the
    // broadcast plane join + two bucket exchanges are all gone. The
    // identical-vector collapse below is unchanged: canonical
    // dim-ascending (dim, weight) array, exchange keyed on its 8-byte
    // xxhash64, exact (gh, vec) grouping.
    val base = docs.select(col("doc_id"),
        Stage.once(graft.functions.HashedBow(col("text"), np)).as("vb"))
      .select(col("doc_id"), col("vb.vec").as("vec"), col("vb.projs").as("projs"))
      .filter(size(col("vec")) > 0) // zero-word docs: no vector, never candidates
      .transform(graft.CacheScope.persist)
    // Per-plane centering statistics: Σ proj_p over the corpus and the
    // doc count — np+1 driver scalars off one map-side-combined pass
    // over the persisted scan (bounded collect: ≤ MaxPlanes rows).
    val tps: Map[Int, Long] = base
      .select(posexplode(col("projs")).as(Seq("p", "pv")))
      .groupBy(col("p")).agg(sum(col("pv")).as("tp"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nVecs = base.count()
    val bucketCol = (0 until np).map { p =>
      when(col("projs").getItem(p) * lit(nVecs) > lit(tps.getOrElse(p, 0L)),
        lit(1L << p)).otherwise(lit(0L))
    }.reduceOption(_ + _).getOrElse(lit(0L))
    // Probe keys: own bucket, flips of the T smallest-|margin| planes,
    // plus ONE co-flip of the two smallest together (ties to the lower
    // plane index — array_sort on (m, p) structs; the oracle's
    // ORDER BY m, p row_number spells the same order). The co-flip is
    // what breaks the single-flip ceiling: a pair straddling TWO planes
    // {p, q} is caught when one side co-flips {p, q} against the
    // other's true bucket, and a THREE-plane straddle when a co-flip
    // meets a single flip (the XORs compose to the full diff). All
    // integer-exact, so both engines emit the identical key set.
    val t = math.min(ProbeFlips, np)
    val marginSql = (0 until np).map { p =>
      s"named_struct('m', abs(projs[$p] * ${nVecs}L - ${tps.getOrElse(p, 0L)}L), 'p', $p)"
    }.mkString("array(", ", ", ")")
    val defs = coflipDefs(np)
    val coflipSql = if (defs.isEmpty) "array()" else
      defs.map(ks => "bucket" + ks.map(i =>
          s" ^ shiftleft(CAST(1 AS BIGINT), element_at(array_sort($marginSql), $i).p)")
        .mkString)
        .mkString("array(", ", ", ")")
    base
      .withColumn("bucket", bucketCol)
      .withColumn("keys", expr(
        s"""concat(array(bucket),
           |  transform(slice(array_sort($marginSql), 1, $t),
           |    s -> bucket ^ shiftleft(CAST(1 AS BIGINT), s.p)),
           |  $coflipSql)""".stripMargin))
      .withColumn("gh", xxhash64(col("vec")))
      .repartition(numParts, col("gh"))
      .withColumn("gid", min(col("doc_id")).over(
        Window.partitionBy(col("gh"), col("vec"))))
      .drop("gh", "projs")
      .transform(graft.CacheScope.persist)
  }

  /** [[cosineGe]] for the probe (packed sparse vectors). */
  private[graft] def cosineGeProbe(a: Array[Long], b: Array[Long],
      threshold: Double): Boolean = cosineGe(a, b, threshold)

  /** Per-bucket min-partner kernel: `rs` is the bucket's reps as
    * (doc_id, packed vector) structs, PRE-SORTED ascending by doc_id
    * (sort_array on the struct; doc_id is the leading field). For each
    * rep, scan earlier reps in id order and emit (rep, partner) for the
    * FIRST cosine-qualifying one — ascending first = minimum, which is
    * the only row [[MinHash.duplicateOfRepGraph]] reads.
    *
    * Norms are precomputed ONCE PER REP (round 13): the cosine merge
    * recomputed both squared norms per CANDIDATE PAIR — two ~|vec| loops
    * against the merge's one, i.e. ~2/3 of kernel work on buckets where
    * the early exit rarely fires (the realistic corpus runs ~254M cosine
    * calls over ~60k reps). Same exact integers, same final IEEE
    * expression — verdicts are bit-identical. */
  private def minPartnerUdf(threshold: Double) =
    udf { rs: Seq[Row] =>
      val n = rs.length
      val ids = new Array[Long](n)
      val vecs = new Array[Array[Long]](n)
      val norms = new Array[Long](n)
      var i = 0
      while (i < n) {
        ids(i) = rs(i).getLong(0)
        val v = rs(i).getSeq[Long](1).toArray
        vecs(i) = v
        var nn = 0L
        var k = 0
        while (k < v.length) { val w = v(k) & 0xFFFFFFFFL; nn += w * w; k += 1 }
        norms(i) = nn
        i += 1
      }
      val out = Seq.newBuilder[(Long, Long)]
      var b = 1
      while (b < n) {
        var a = 0
        var found = false
        while (a < b && !found) {
          if (cosineGe(vecs(a), vecs(b), norms(a), norms(b), threshold)) {
            out += ((ids(b), ids(a))); found = true
          }
          a += 1
        }
        b += 1
      }
      out.result()
    }

  /** cosine(a, b) >= t over two dim-SORTED packed sparse vectors
    * (entry = dim << 32 | weight), by linear merge: dot over shared dims
    * and both norms accumulate as EXACT Longs in one pass; the final
    * compare is the same `CAST(dot AS DOUBLE) / (sqrt(na) * sqrt(nb))
    * >= t` double sequence the oracle spells, so verdicts are
    * bit-identical. Packing keeps dim-order sorting (dim is the high
    * word) and weights positive 32-bit (counts). */
  private def cosineGe(a: Array[Long], b: Array[Long], threshold: Double): Boolean = {
    val M = 0xFFFFFFFFL
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < a.length) { val w = a(i) & M; na += w * w; i += 1 }
    var j = 0
    while (j < b.length) { val w = b(j) & M; nb += w * w; j += 1 }
    cosineGe(a, b, na, nb, threshold)
  }

  /** Merge-only form with the exact squared norms precomputed by the
    * caller — identical integers, identical final IEEE expression. */
  private def cosineGe(a: Array[Long], b: Array[Long], na: Long, nb: Long,
      threshold: Double): Boolean = {
    val M = 0xFFFFFFFFL
    var i = 0
    var j = 0
    var dot = 0L
    while (i < a.length && j < b.length) {
      val da = a(i) >>> 32
      val db = b(j) >>> 32
      if (da == db) { dot += (a(i) & M) * (b(j) & M); i += 1; j += 1 }
      else if (da < db) i += 1
      else j += 1
    }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)) >= threshold
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_hash_embedding" -> ((s, d) => hashEmbeddingQuery(Tables.documents(s, d))),
    "dedup_semantic_text" -> ((s, d) =>
      semanticDedupQuery(Tables.documents(s, d), DedupCosine, Some(docCountFor(s, d)))))

  // -----------------------------------------------------------------------
  // DuckDB oracle — same integer algebra; planes interpolated as VALUES.
  // -----------------------------------------------------------------------

  private val dimExprD =
    s"CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) % $Dim"

  /** The co-flip key unions of the dedup oracle, generated from the SAME
    * index sets as the engine's [[coflipDefs]] (unfiltered by np: a def
    * needing rn = k past the plane count finds no mrg row and emits no
    * key — exactly the engine's np filter). */
  private def coflipUnionsSql: String =
    Seq(Seq(1, 2), Seq(1, 3), Seq(2, 3), Seq(1, 2, 3)).take(CoFlips).map { ks =>
      val joins = ks.zipWithIndex.map { case (rn, i) =>
        s"  JOIN mrg m$i ON m$i.doc_id = b.doc_id AND m$i.rn = $rn"
      }.mkString("\n")
      val xorExpr = ks.indices.foldLeft("b.bucket") { (acc, i) =>
        s"xor($acc, CAST(1 << m$i.p AS BIGINT))"
      }
      s"""  UNION ALL
         |  SELECT b.doc_id, CAST($xorExpr AS BIGINT)
         |  FROM bkt b
         |$joins""".stripMargin
    }.mkString("\n")

  private val embedCte =
    s"""e AS (
       |  SELECT doc_id, $dimExprD AS dim, count(*) AS weight FROM (
       |    SELECT doc_id,
       |           unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |                              x -> x <> '')) AS word
       |    FROM documents)
       |  GROUP BY doc_id, dim)""".stripMargin

  def oracles: Map[String, String] = {
    import graft.relational.Similarity.{MaxPlanes, TargetBucketOccupancy}
    val planeVals = planeRows(MaxPlanes)
      .map { case (p, d, s) => s"($p, $d, $s)" }.mkString(", ")
    Map(
      "doc_hash_embedding" ->
        s"""WITH $embedCte
           |SELECT doc_id, dim, weight FROM e""".stripMargin,
      "dedup_semantic_text" ->
        s"""WITH $embedCte,
           |params AS (SELECT greatest(1, least($MaxPlanes,
           |  length(bin(greatest(1, ((SELECT count(*) FROM documents) * ${(1 + ProbeFlips + CoFlips) * OccSharpen}) // $TargetBucketOccupancy))))) AS np),
           |planes(p, pdim, sign) AS (VALUES $planeVals),
           |pv AS (
           |  SELECT doc_id, p, CAST(sum(weight * sign) AS BIGINT) AS pv
           |  FROM e JOIN planes ON e.dim = planes.pdim
           |  WHERE planes.p < (SELECT np FROM params)
           |  GROUP BY doc_id, p),
           |tot AS (SELECT p, CAST(sum(pv) AS BIGINT) AS tp FROM pv GROUP BY p),
           |nv AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM e),
           |bkt AS (
           |  SELECT doc_id,
           |         CAST(sum(CASE WHEN pv.pv * (SELECT n FROM nv) > tot.tp
           |                       THEN (1 << pv.p) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM pv JOIN tot ON pv.p = tot.p GROUP BY doc_id),
           |mrg AS (
           |  SELECT pv.doc_id, pv.p,
           |         row_number() OVER (PARTITION BY pv.doc_id
           |           ORDER BY abs(pv.pv * (SELECT n FROM nv) - tot.tp), pv.p) AS rn
           |  FROM pv JOIN tot ON pv.p = tot.p),
           |keys AS (
           |  SELECT doc_id, bucket AS key FROM bkt
           |  UNION ALL
           |  SELECT b.doc_id, CAST(xor(b.bucket, CAST(1 << m.p AS BIGINT)) AS BIGINT)
           |  FROM bkt b JOIN mrg m ON m.doc_id = b.doc_id
           |  WHERE m.rn <= least($ProbeFlips, (SELECT np FROM params))
           |${coflipUnionsSql}),
           |nrm AS (SELECT doc_id, CAST(sum(weight * weight) AS BIGINT) AS nn
           |        FROM e GROUP BY doc_id),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |  FROM keys x JOIN keys y ON x.key = y.key AND x.doc_id < y.doc_id),
           |dots AS (
           |  SELECT id_a, id_b, CAST(sum(ea.weight * eb.weight) AS BIGINT) AS dot
           |  FROM cand
           |  JOIN e ea ON ea.doc_id = id_a
           |  JOIN e eb ON eb.doc_id = id_b AND eb.dim = ea.dim
           |  GROUP BY id_a, id_b)
           |SELECT id_b AS duplicate_id, min(id_a) AS original_id
           |FROM dots
           |JOIN nrm na ON na.doc_id = id_a
           |JOIN nrm nb ON nb.doc_id = id_b
           |WHERE CAST(dot AS DOUBLE)
           |        / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
           |      >= $DedupCosine
           |GROUP BY id_b""".stripMargin)
  }
}
