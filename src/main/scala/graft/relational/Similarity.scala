package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.pipeline.MinHash

/** Similarity search over the `embeddings` table (64-dim float vectors) —
  * the builder brief's ANN component. Two variants:
  *
  *  - [[topK]] (`sim_topk`): exact brute-force cosine top-k for a small,
  *    broadcast query set. The scan side stays narrow (no shuffle until
  *    the per-query top-k window). This is the CORRECTNESS baseline.
  *  - [[annTopK]] (`sim_ann_lsh`): random-hyperplane LSH — a
  *    [[planesFor]]-bit sign signature buckets the vectors; a query
  *    scores the Hamming-<=R ball around its bucket, R derived from the
  *    [[ScanBudget]] serving law. This is the SCALE path: at 100 TB the
  *    bucket id is a shuffle/partition key, each query touches
  *    ~ScanBudget/n of the data, and recall is tuned by the budget (and
  *    the env radius override). The oracle replicates the same planes
  *    and radius, so results compare exactly — ANN-vs-exact recall is
  *    visible by diffing the two queries.
  *
  * Float determinism: every dot/norm is a LEFT FOLD over
  * double-cast elements starting at 0.0, written identically in Spark
  * (`aggregate(zip_with(...))`) and DuckDB (`list_reduce(list_prepend(...))`)
  * — same operations in the same order ⇒ bit-identical IEEE doubles, so
  * the driver's value-hash agrees with no rounding tricks.
  *
  * [[topK]] runs as a two-phase top-k (partial top-k map-side via a typed
  * Aggregator, merge reduce-side), so only O(k) rows per partition reach
  * the per-query shuffle. The bucketed variants keep the window form:
  * their scored relations are already cut to 1/cells of the data.
  */
object Similarity {

  val Dim = 64
  val TopK = 10
  val NumQueries = 5 // query set: vec_id < 5
  val NumPlanes = 8

  // ---------------------------------------------------------------------
  // Corpus-proportional blocking constants (round-6 verdict #2).
  //
  // At FIXED constants the within-bucket/within-cell pair joins grow with
  // occupancy² — the one super-linear growth left in the engine at round
  // 5 (10x→30x exponent 0.79 on sim_embed_dedup_mp). The counts below
  // derive from the input cardinality instead, so occupancy — and the
  // quadratic term — is held at a target as the corpus grows:
  //
  //  - hyperplane count p = bitlen(n / 128): 2^p sign buckets keep the
  //    EXPECTED bucket occupancy near 128; the per-row bucket cost grows
  //    only log(n). Clamped to [8, 20] — 8 keeps every existing small-
  //    fixture golden bit-identical, 20 (≈134M vectors at occupancy 128)
  //    is the point where you'd re-shard the corpus anyway.
  //  - IVF/SemDeDup cell count = 2^(bitlen(n)/2) ≈ sqrt(n) (the FAISS
  //    sizing guideline): balances the per-row argmin O(cells) against
  //    within-cell pair work O(n²/cells) — both ~n^1.5 total, the best a
  //    flat (non-hierarchical) coarse quantizer can do. Clamped to
  //    [16, 1024]: 16 preserves small-fixture behavior, 1024 bounds the
  //    driver-resident codebook; beyond that a real deployment swaps in
  //    a hierarchical assignment (IMI/HNSW) — documented, not needed at
  //    bench scale. SemDeDup's paper runs ~100k cells at LAION scale;
  //    the growth LAW is what matters here and sqrt(n) provides it.
  //
  // Both formulas are INTEGER-EXACT and spelled identically in the
  // DuckDB oracle (`length(bin(n))` = 64 - numberOfLeadingZeros(n) for
  // n >= 1), so engine and oracle always agree on the derived constant —
  // the same parameterized-oracle pattern as MinHash's band constants.
  // ---------------------------------------------------------------------

  val NumCells = 16 // minimum cell count (small-corpus clamp)
  val MaxPlanes = 20
  val MaxCells = 1024
  val TargetBucketOccupancy = 128

  // ---------------------------------------------------------------------
  // Serving-default law (round-13 verdict #1): ONE constant — a per-query
  // SCAN BUDGET of rows the serving layer is willing to touch — and every
  // ANN family's probe width derives from it and the corpus cardinality:
  //
  //  - IVF nprobe   = ceil(ScanBudget / expected-cell-occupancy), so a
  //    query scans ~ScanBudget rows whatever n is. Below n = ScanBudget
  //    this derives to nprobe = cells (exhaustive — correct serving for a
  //    corpus that fits the budget); above it the scanned FRACTION decays
  //    as ScanBudget/n.
  //  - LSH probe radius R = smallest R with C(p, <=R) x occupancy >=
  //    ScanBudget (occupancy = n / 2^p): probing the full Hamming ball of
  //    radius R spends the same budget, and again degrades to exhaustive
  //    (R = p) on small corpora.
  //  - PQ flat fallback: when n <= ScanBudget the ADC stage serves the
  //    EXACT squared L2 instead of the compressed estimate — the FAISS
  //    index_factory sizing rule ("Flat below ~10k vectors"): compression
  //    exists to fit RAM, and at a size where one query's budget covers
  //    the corpus it only costs recall (measured at sf0.01: exhaustive
  //    8x8-bit ADC reads recall@10 = 0.32 on the mid-similarity geometry
  //    where rank-10/rank-11 sims differ by ~1e-3 — information-limited
  //    for ANY 32x-compressed code, not a codebook-size problem: the
  //    measured sweep reads 0.32/0.50/0.84 at 8/16/32 subspaces).
  //
  // All three derivations are INTEGER-EXACT and mirrored in the oracle's
  // params CTE, so engine and oracle agree at every corpus size.
  // ---------------------------------------------------------------------

  val ScanBudget = 4096L

  /** Derived IVF probe width: ceil(ScanBudget x cells / n), clamped to
    * [1, cells]. Integer-exact (ceil division). */
  def nprobeFor(n: Long, cells: Int): Int = {
    val nn = math.max(1L, n)
    math.min(cells.toLong, math.max(1L, (ScanBudget * cells + nn - 1) / nn)).toInt
  }

  /** Derived LSH probe radius: smallest R with C(p, <=R) x n >=
    * ScanBudget x 2^p (i.e. the expected Hamming-<=R ball holds at least
    * the budget), else p (exhaustive). BigInt-exact. */
  def lshRadiusFor(n: Long, p: Int): Int = {
    val target = BigInt(ScanBudget) << p
    var cum = BigInt(0)
    var c = BigInt(1) // C(p, 0)
    var r = 0
    var found = -1
    while (r <= p && found < 0) {
      cum += c
      if (cum * math.max(1L, n) >= target) found = r
      c = c * (p - r) / (r + 1) // C(p, r+1), exact in this order
      r += 1
    }
    if (found < 0) p else found
  }

  /** Integer bit length: bitLen(x) = length(bin(x)) for x >= 1. */
  private def bitLen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)

  /** Hyperplane count for an n-vector corpus (clamped [1, MaxPlanes]).
    * Occupancy-EXACT since round 12: the former [[NumPlanes]] floor
    * forced 8 planes (256 buckets) onto corpora the
    * [[TargetBucketOccupancy]] contract says need 1-2 — harmless while
    * the dedup blockings were sign-degenerate (everything shared a
    * bucket anyway), actively recall-hostile once the text family's
    * splits were centered at the data mean (8 balanced cuts across a
    * 4-doc fixture must sever its near-dup pair). Inactive above
    * ~2^8 x occupancy ≈ 33k vectors, so gate-scale and 100x blocking
    * is unchanged. (Since round 14 [[annTopK]] derives its plane count
    * from this formula too; [[NumPlanes]] survives only as the
    * small-fixture default of [[bucketC]] and its spec pins.) */
  def planesFor(n: Long): Int =
    math.max(1, math.min(MaxPlanes, bitLen(math.max(1L, n / TargetBucketOccupancy))))

  /** IVF/SemDeDup cell count for an n-vector corpus: 2^(bitlen(n)/2) ≈ sqrt(n),
    * clamped [NumCells, MaxCells]. */
  def cellsFor(n: Long): Int =
    math.max(NumCells, math.min(MaxCells, 1 << (bitLen(math.max(1L, n)) / 2)))

  /** SQL spellings of the two formulas — interpolated into every oracle
    * that blocks by cell or bucket, so the oracle derives the SAME
    * constant from the SAME input cardinality. */
  private val cellsSql =
    s"greatest($NumCells, least($MaxCells, 1 << (length(bin(greatest(1, (SELECT count(*) FROM embeddings)))) // 2)))"
  private val planesSql =
    s"greatest(1, least($MaxPlanes, length(bin(greatest(1, (SELECT count(*) FROM embeddings) // $TargetBucketOccupancy)))))"

  /** Deterministic ±1 hyperplane components, LCG seed 7 — fixed forever.
    * [[MaxPlanes]] rows are drawn; a query built with p < MaxPlanes planes
    * uses the FIRST p rows, so the row-major LCG fill makes every smaller
    * plane set a strict prefix — growing the corpus never changes the
    * planes a smaller corpus hashed with. */
  val planes: Array[Array[Double]] = {
    var x = 7L
    def next(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    Array.fill(MaxPlanes, Dim)(if (((next() >> 16) & 1L) == 1L) 1.0 else -1.0)
  }

  /** Row-major flattened [[planes]] for the native bucket kernel. */
  private lazy val planesFlat: Array[Double] = {
    val out = new Array[Double](MaxPlanes * Dim)
    var p = 0
    while (p < MaxPlanes) { System.arraycopy(planes(p), 0, out, p * Dim, Dim); p += 1 }
    out
  }

  /** Spark-side deterministic left-fold dot product of two vector
    * columns — since round 17 a native codegen'd kernel
    * ([[graft.functions.VecDot]]) doing the same left fold as the
    * retired `aggregate(zip_with(...))` HOF spelling (which ran on the
    * interpreted higher-order path: an intermediate array plus two
    * boxed-lambda evaluations per element, ×3 folds per candidate pair
    * in the cosine verify — the last interpreted hot loop in the menu).
    * Fold order is unchanged, so the doubles are bit-identical and the
    * DuckDB oracles (`list_reduce(list_prepend(...))`) still compare
    * exactly; [[graft.VecKernelsSpec]] pins kernel-vs-HOF bit-equality. */
  private def dotC(a: Column, b: Column): Column = graft.functions.VecDot(a, b)

  /** Left-fold squared L2 — the same ascending-element fold as the
    * oracle's l2D and the JVM argmin loops (native kernel, same parity
    * argument as [[dotC]]). */
  private def l2C(a: Column, b: Column): Column = graft.functions.VecL2(a, b)

  /** LSH bucket id from the sign bits of the first `np` plane
    * projections ([[planes]], via the native kernel — per-plane fold
    * order and the CASE-sum null/mismatch-to-0 semantics of the retired
    * HOF spelling preserved; see [[graft.functions.VecKernels.bucket]]).
    * Every production caller ([[annTopK]] included since round 14)
    * passes [[planesFor]] of the input cardinality. */
  private def bucketC(emb: Column, np: Int = NumPlanes): Column =
    graft.functions.PlanesBucket(emb, np, planesFlat, Dim)

  private def queriesDf(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** One scored candidate; ordering is (sim DESC, vec_id ASC) — the
    * doubles are bit-identical across engines (left-fold arithmetic), so
    * the sort is deterministic. */
  case class Scored(vec_id: Long, sim: Double, label: Long)

  /** Partial top-k aggregator: `reduce` keeps the running state bounded
    * at ~2k entries, so the map-side (partial) aggregation ships only
    * O(k) rows per partition per query into the final shuffle — versus
    * the window form, which funnels the ENTIRE scored relation onto
    * n_queries partitions (the 100 TB risk previously only documented
    * here; now implemented away). */
  private class TopKAgg(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[(Long, Scored), List[Scored], Seq[Scored]] {
    private def best(xs: List[Scored]): List[Scored] =
      xs.sortBy(s => (-s.sim, s.vec_id)).take(k)
    def zero: List[Scored] = Nil
    def reduce(b: List[Scored], a: (Long, Scored)): List[Scored] = {
      val nb = a._2 :: b
      if (nb.length > 2 * k) best(nb) else nb
    }
    def merge(x: List[Scored], y: List[Scored]): List[Scored] = best(x ::: y)
    def finish(r: List[Scored]): Seq[Scored] = best(r)
    def bufferEncoder: org.apache.spark.sql.Encoder[List[Scored]] =
      org.apache.spark.sql.Encoders.kryo[List[Scored]]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Exact cosine top-k per query vector (self excluded), two-phase:
    * partial top-k map-side, merge reduce-side. */
  def topK(emb: DataFrame, k: Int = TopK): DataFrame = {
    val ss = emb.sparkSession
    import ss.implicits._
    val scored = emb.crossJoin(broadcast(queriesDf(emb)))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dot", dotC(col("embedding"), col("q_emb")))
      .withColumn("na", dotC(col("embedding"), col("embedding")))
      .withColumn("nb", dotC(col("q_emb"), col("q_emb")))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("sim", col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
    scored
      .select(col("q_id"),
        struct(col("vec_id"), col("sim"), col("label")).as("s"))
      .as[(Long, Scored)]
      .groupByKey(_._1)
      .agg(new TopKAgg(k).toColumn.name("top"))
      .flatMap { case (q, xs) =>
        xs.iterator.zipWithIndex.map { case (s, i) => (q, i + 1, s.vec_id, s.sim, s.label) }
      }
      .toDF("q_id", "rn", "vec_id", "sim", "label")
  }

  /** LSH-bucketed ANN top-k: score the Hamming-<=R ball around the
    * query's sign-bucket, with the plane count corpus-proportional
    * ([[planesFor]], occupancy-targeted) and the radius derived from the
    * scan budget ([[lshRadiusFor]]) — the round-13 fix for the fixed
    * 8-plane / own-bucket default whose recall@10 measured 0.00 at
    * sf0.01 (true neighbors near cosine 0.5 sit ~1/3-flip-per-plane from
    * the query; an exact-bucket probe almost never holds them). On small
    * corpora the derived radius reaches p (exhaustive = exact); as n
    * grows the probed fraction decays toward ScanBudget/n.
    *
    * Join shape: the 5-row query side broadcasts and the ball membership
    * is ONE integer op per (row, query) — `bit_count(bucket ^ q_bucket)`
    * — so the expensive 64-dim cosine only runs on ball members. At
    * cluster scale the bucket is the table's partition key and the ball
    * enumerates C(p, <=R) probe buckets for partition pruning; the
    * predicate spelling here is the local[n] equivalent (a 5-row
    * broadcast nested-loop is a per-row loop of 5). */
  def annTopK(emb: DataFrame, k: Int = TopK, nOpt: Option[Long] = None): DataFrame = {
    val n = nOpt.getOrElse(emb.count())
    val np = planesFor(n)
    val r = lshRadiusFor(n, np)
    val bucketed = emb.withColumn("bucket", bucketC(col("embedding"), np))
    val q = queriesDf(bucketed.select(col("vec_id"), col("embedding")))
      .withColumn("q_bucket", bucketC(col("q_emb"), np))
    val scored = bucketed.join(broadcast(q),
        expr(s"bit_count(bucket ^ q_bucket) <= $r") && col("vec_id") =!= col("q_id"))
      .withColumn("dot", dotC(col("embedding"), col("q_emb")))
      .withColumn("na", dotC(col("embedding"), col("embedding")))
      .withColumn("nb", dotC(col("q_emb"), col("q_emb")))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("sim", col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("vec_id"), col("sim"), col("label"))
  }

  /** Document-prior weight midpoint: a doc of this length scores 0.5. */
  val PriorMidpoint = 300

  /** Hybrid retrieval: exact cosine similarity blended with a
    * document-quality prior (here length-based: n_chars/(n_chars+300),
    * a saturating preference for substantial documents — the stand-in
    * for any scalar quality score riding the corpus). The candidate
    * table joins its prior BEFORE scoring — a shuffled hash join keyed
    * on vec_id (the prior derives from the corpus-sized documents table,
    * so it is NOT broadcastable at scale; co-partitioning on the id is
    * the right shape) — then the blend is one multiply in the scoring
    * projection; the prior is exact-integer in, one double division out,
    * and `score = cosine * prior` adds a single rounding — both engines
    * bit-agree. Same two-phase partial top-k as [[topK]]: only O(k) rows
    * per partition reach the per-query shuffle. */
  def hybridTopK(emb: DataFrame, docs: DataFrame, k: Int = TopK): DataFrame = {
    val ss = emb.sparkSession
    import ss.implicits._
    val prior = docs.select(col("doc_id").as("vec_id"),
      (col("n_chars").cast("double") /
        (col("n_chars") + lit(PriorMidpoint)).cast("double")).as("prior"))
    val scored = emb.join(prior, "vec_id")
      .crossJoin(broadcast(queriesDf(emb)))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dot", dotC(col("embedding"), col("q_emb")))
      .withColumn("na", dotC(col("embedding"), col("embedding")))
      .withColumn("nb", dotC(col("q_emb"), col("q_emb")))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("score",
        (col("dot") / (sqrt(col("na")) * sqrt(col("nb")))) * col("prior"))
    scored
      .select(col("q_id"),
        struct(col("vec_id"), col("score").as("sim"), col("label")).as("s"))
      .as[(Long, Scored)]
      .groupByKey(_._1)
      .agg(new TopKAgg(k).toColumn.name("top"))
      .flatMap { case (q, xs) =>
        xs.iterator.zipWithIndex.map { case (s, i) => (q, i + 1, s.vec_id, s.sim, s.label) }
      }
      .toDF("q_id", "rn", "vec_id", "score", "label")
  }

  // -----------------------------------------------------------------------
  // IVF (inverted-file) ANN — the second scale path from the brief
  // -----------------------------------------------------------------------

  /** IVF top-k: a coarse quantizer of [[cellsFor]]-many data-sampled centroids
    * (the embeddings of fixed vec_ids — the deterministic stand-in for a
    * k-means codebook; FAISS-style IVF training at zero effort) assigns
    * every vector to its nearest-L2 cell; a query scores only its
    * [[nprobeFor]]-many nearest cells. At 100 TB the cell id is the partition/
    * cluster key: each query touches nprobe/k of the data, recall tuned
    * by k and nprobe. Distances and similarities are the same left-fold
    * double arithmetic as [[topK]], so the DuckDB oracle is bit-exact;
    * diffing `sim_ivf_topk` against `sim_topk` exposes the recall loss.
    * Ties (equal distance) break by centroid id — identically in both
    * engines. */
  /** The coarse codebook is DRIVER-RESIDENT by design (an IVF codebook is
    * centroids-in-RAM at any corpus scale — k cells, not k rows; this
    * collect is bounded at NumCells by construction). It stays a SAMPLED
    * codebook (no Lloyd refinement) deliberately: a Lloyd update sums
    * floats across rows, and float addition is order-dependent, so the
    * refined centroids — and every downstream assignment — would vary
    * with partitioning. Sampling keeps the whole pipeline a pure
    * function of the input set, the reproducibility property everything
    * else here maintains. */
  private def codebook(emb: DataFrame, cells: Int): Array[(Long, Array[Double])] = emb
    .filter(col("vec_id") >= NumQueries && col("vec_id") < NumQueries + cells)
    .select(col("vec_id"), col("embedding")).collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    .sortBy(_._1)

  /** Per-row argmin over the broadcast-closure centroids inside one
    * projection — no crossJoin x row_number window, so the whole-table
    * exchange+sort the window form needed is gone. Arithmetic parity
    * with the DuckDB oracle: the JVM loop accumulates (x_i - y_i)^2
    * left-to-right in doubles — the same fold order as the SQL
    * aggregate/list_reduce spelling — and sorts by (l2, c_id), so cell
    * choice is bit-identical. */
  private def nearestCellsUdf(cents: Array[(Long, Array[Double])], probes: Int) =
    udf { (e: Seq[Float]) =>
      val scored = cents.map { case (cid, c) =>
        var s = 0.0
        var j = 0
        while (j < c.length) {
          val d = e(j).toDouble - c(j); s += d * d; j += 1
        }
        (s, cid)
      }
      scored.sortBy(identity).take(probes).map(_._2)
    }

  def ivfTopK(emb: DataFrame, k: Int = TopK): DataFrame =
    ivfTopKIx(buildIvfIndex(emb), k)

  private def ivfTopKIx(ix: IvfIndex, k: Int): DataFrame = {
    val cells = ix.coded.drop("codes")
    val q = queriesDf(ix.coded)
      .withColumn("q_cell",
        explode(nearestCellsUdf(ix.cents, nprobeFor(ix.n, ix.cells))(col("q_emb"))))
    val scored = cells.join(broadcast(q),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .withColumn("dot", dotC(col("embedding"), col("q_emb")))
      .withColumn("na", dotC(col("embedding"), col("embedding")))
      .withColumn("nb", dotC(col("q_emb"), col("q_emb")))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("sim", col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("vec_id"), col("sim"), col("label"))
  }

  // -----------------------------------------------------------------------
  // IVF-PQ — product-quantized ADC scoring inside IVF cells
  // -----------------------------------------------------------------------

  val PqSub = 8 // subspaces
  val PqSubDim: Int = Dim / PqSub

  /** Per-subspace codebooks sliced from the same sampled vectors the IVF
    * coarse quantizer uses: codebook m holds the 16 centroids'
    * m-th 8-dim slice. Driver-resident like [[codebook]] (k*Dim doubles
    * at any corpus scale). */
  private def pqCodebook(base: Array[(Long, Array[Double])]): Array[Array[Array[Double]]] =
    Array.tabulate(PqSub)(m =>
      base.map { case (_, v) => v.slice(m * PqSubDim, (m + 1) * PqSubDim) })

  /** Sub-L2 between a vector's m-th slice and one sub-centroid —
    * left-fold over ascending j, the shared fold order of every engine
    * spelling here. */
  private def subL2(e: Seq[Float], m: Int, cvec: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < PqSubDim) {
      val d = e(m * PqSubDim + j).toDouble - cvec(j); s += d * d; j += 1
    }
    s
  }

  // PQ encode (per subspace, index of the nearest sub-centroid; strict <
  // over ascending c = lowest index wins ties, the oracle's ORDER BY
  // dist, c) lives in the fused native kernel
  // (graft.functions.IvfKernels.encodeCompute) since round 11; 64 floats
  // become [[PqSub]] small ints — the 32x memory cut that makes
  // billion-vector search fit a cluster.

  /** The IVF/PQ *index*: the coarse codebook, the per-subspace PQ
    * codebooks, and the fully encoded corpus frame
    * `(vec_id, label, cell, codes, embedding)` — one row per vector.
    * This is the "build the index once, serve many queries" object every
    * production ANN deployment amortizes (FAISS persists exactly this);
    * before round 10 each of `sim_ivf_topk` / `sim_ivfpq_topk` /
    * `sim_ivfpq_rerank` re-ran the O(corpus × cells × dim) cell-assign +
    * PQ-encode scan independently — the whole family's 100× cost was
    * three copies of the same index build. */
  private[graft] final case class IvfIndex(
      cents: Array[(Long, Array[Double])],
      cb: Array[Array[Array[Double]]],
      coded: DataFrame,
      n: Long,
      cells: Int)

  private[graft] def buildIvfIndex(emb: DataFrame): IvfIndex = {
    val n = emb.count()
    val cells = cellsFor(n)
    val cents = codebook(emb, cells)
    val cb = pqCodebook(cents) // sliced from the one collected codebook
    // Fused native cell-assign + PQ-encode (round 11): ONE codegen'd
    // kernel pass decodes each embedding once and runs both argmins over
    // the flat centroid matrix — replacing two Scala UDFs whose generic
    // Seq[Float] access dominated the shared index build (100× memo
    // split: ivf_index 27.3 s). Bit-identical by the shared fold order
    // and lowest-index tie rule (IvfKernels doc; IvfKernelSpec pins it
    // against the retired UDF spelling).
    val coded = emb
      .withColumn("r", graft.functions.IvfEncode(col("embedding"), cents, PqSub))
      .select(col("vec_id"), col("label"), col("r.cell").as("cell"),
        col("r.codes").as("codes"), col("embedding"))
    IvfIndex(cents, cb, coded, n, cells)
  }

  /** Cross-query memo of the built index (same localCheckpoint + LRU +
    * data-fingerprint story as MinHash.repGraphFor): the encoded frame is
    * checkpointed once and all three IVF consumers read its blocks. */
  /** Memoized embeddings cardinality (round-14 review): the
    * corpus-proportional knob derivations (planes, cells, nprobe,
    * radius) each opened a count job PER QUERY INVOCATION — three
    * bench reps of `sim_ann_lsh` paid three table scans before the
    * query plan even built. One count per (session, dir, fingerprint),
    * built in `Memos.build` so it lands in the memo_build mark, not a
    * consumer's. Raw `emb.count()` remains the fallback for library
    * callers that pass their own frame. */
  private val embCountMemo = new graft.pipeline.QueryMemo[java.lang.Long](name = "emb_count")
  private[graft] def embCountFor(s: SparkSession, d: String): Long =
    embCountMemo.getOrElseUpdate(s, d)(
      java.lang.Long.valueOf(Tables.embeddings(s, d).count())).longValue()

  private val ivfMemo = new graft.pipeline.QueryMemo[IvfIndex](name = "ivf_index")
  private[graft] def ivfIndexFor(s: SparkSession, d: String): IvfIndex =
    ivfMemo.getOrElseUpdate(s, d) {
      val ix = buildIvfIndex(Tables.embeddings(s, d))
      ix.copy(coded = graft.pipeline.QueryMemo.materialize(ix.coded))
    }

  /** IVF-PQ top-k (FAISS's workhorse layout): the coarse quantizer cuts
    * the scan to the query's [[nprobeFor]]-derived cells, and inside a cell the
    * asymmetric-distance computation (ADC) ranks by table lookups over
    * the 8-int PQ codes — the raw embedding column is DROPPED before the
    * join, so the shuffled/scanned payload is ~32x smaller than the
    * float vectors. Per-query distance tables (PqSub x 16 doubles) are
    * computed once on the driver from the bounded query set and ride the
    * UDF closure. Approximation error vs `sim_ivf_topk` is the PQ
    * reconstruction error — diff the two queries to see it. */
  def ivfPqTopK(emb: DataFrame, k: Int = TopK): DataFrame =
    ivfPqTopKIx(buildIvfIndex(emb), k)

  private def ivfPqTopKIx(ix: IvfIndex, k: Int): DataFrame = {
    val cents = ix.cents
    val cb = ix.cb
    val nprobe = nprobeFor(ix.n, ix.cells)
    val flat = ix.n <= ScanBudget
    // Bounded collect: the NumQueries query vectors (driver-side tables
    // and probe cells replicate the UDF loops exactly — same arithmetic).
    val qRows = ix.coded.filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val qCells = qRows.flatMap { case (qid, q) =>
      cents.map { case (cid, c) =>
        var s = 0.0
        var j = 0
        while (j < c.length) { val d = q(j).toDouble - c(j); s += d * d; j += 1 }
        (s, cid)
      }.sortBy(identity).take(nprobe).map { case (_, cell) => (qid, cell) }
    }
    val ss = ix.coded.sparkSession
    import ss.implicits._
    val scored =
      if (flat) {
        // Flat fallback (serving-default law above): n fits the scan
        // budget, so `adc` IS the exact squared L2 against the raw
        // vector — zero reconstruction error, and the derived nprobe is
        // already exhaustive at this size, so the stage is exact. The
        // query vector rides the same (q_id, q_cell) broadcast rows the
        // ADC path ships, so the probed-cell join shape — and the rerank
        // stage downstream — is identical either way.
        val qVec = qRows.toMap
        val qFlatDf = qCells.toSeq.map { case (qid, cell) => (qid, cell, qVec(qid)) }
          .toDF("q_id", "q_cell", "q_vec")
        ix.coded.drop("codes")
          .join(broadcast(qFlatDf), col("cell") === col("q_cell") &&
            col("vec_id") =!= col("q_id"))
          .withColumn("adc", l2C(col("embedding"), col("q_vec")))
      } else {
        // ADC per-query distance tables (PqSub x cells doubles) ride the
        // UDF closure; the raw embedding column is DROPPED — the scanned
        // payload is the 8-int codes, ~32x smaller than the vectors.
        // (Built HERE, not above: the flat branch never reads them —
        // round-14 review.)
        val qTab: Map[Long, Array[Array[Double]]] = qRows.map { case (qid, q) =>
          qid -> Array.tabulate(PqSub)(m => cb(m).map(cvec => subL2(q, m, cvec)))
        }.toMap
        val qDf = qCells.toSeq.toDF("q_id", "q_cell")
        val adcUdf = udf { (qId: Long, codes: Seq[Int]) =>
          val t = qTab(qId)
          var s = 0.0
          var m = 0
          while (m < PqSub) { s += t(m)(codes(m)); m += 1 }
          s
        }
        ix.coded.drop("embedding")
          .join(broadcast(qDf), col("cell") === col("q_cell") &&
            col("vec_id") =!= col("q_id"))
          .withColumn("adc", adcUdf(col("q_id"), col("codes")))
      }
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("vec_id"), col("adc"), col("label"))
  }

  /** Candidate depth for the exact re-rank stage (4x the final k — the
    * usual retrieve-rerank oversampling). */
  val RerankDepth: Int = TopK * 4

  /** Two-stage retrieval (the production ANN layout): stage 1 ranks by
    * PQ's approximate ADC inside the probed IVF cells ([[ivfPqTopK]] at
    * [[RerankDepth]]); stage 2 re-scores ONLY those candidates with the
    * exact cosine against the raw vectors and re-ranks to top-k. The
    * expensive exact math touches nprobe-cells' worth of 8-int codes in
    * stage 1 and `RerankDepth x queries` raw vectors in stage 2 — at any
    * corpus size the full-precision reads are bounded by the candidate
    * count, which is the point of the layout (FAISS's refine/rerank
    * stage). Candidate set and final order are both deterministic
    * (adc/sim with vec_id tie-breaks), so the oracle reproduces the
    * two-stage pipeline bit-exactly. */
  def ivfPqRerank(emb: DataFrame, k: Int = TopK, depth: Int = RerankDepth): DataFrame =
    ivfPqRerankIx(buildIvfIndex(emb), k, depth)

  private def ivfPqRerankIx(ix: IvfIndex, k: Int, depth: Int): DataFrame = {
    val cand = ivfPqTopKIx(ix, depth).select(col("q_id"), col("vec_id"))
    val scored = cand
      .join(ix.coded.select(col("vec_id"), col("embedding"), col("label")), "vec_id")
      .join(broadcast(queriesDf(ix.coded)), "q_id")
      .withColumn("dot", dotC(col("embedding"), col("q_emb")))
      .withColumn("na", dotC(col("embedding"), col("embedding")))
      .withColumn("nb", dotC(col("q_emb"), col("q_emb")))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("sim", col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("vec_id"), col("sim"), col("label"))
  }

  val DedupCosine = 0.95

  /** Embedding-cosine near-duplicate detection (builder-brief dedup
    * family): pairs inside the same LSH sign-bucket with cosine >=
    * [[DedupCosine]]; lowest vec_id wins. Near-identical vectors agree on
    * every sign bit, so bucket blocking loses only boundary cases — and
    * keeps the join ~1/256 of all-pairs at any scale. (The driver's
    * synthetic embeddings top out at cosine 0.51, so the sf result is
    * legitimately empty; SimilaritySpec plants real near-dups.)
    *
    * Scale knob: at fixed hyperplane count the per-bucket pair join grows
    * quadratically with bucket occupancy (measured 0.64 s → 6.7 s for 10x
    * vectors at the 10x probe), so the bit count GROWS with the corpus —
    * [[planesFor]] targets ~[[TargetBucketOccupancy]] vectors per bucket
    * (each added plane halves expected occupancy, quartering the pairs) at
    * the cost of more boundary misses; [[embedDedupMultiProbe]] wins the
    * recall back. The oracle derives the same count from the same
    * cardinality, so results stay hash-comparable at every scale.
    *
    * AS-DESIGNED baseline (round-15 close of the r14 watch item): this
    * exact-bucket variant is deliberately kept single-probe — it is the
    * measured floor of the recall/cost knob, and its delta vs the
    * multiprobe form IS the measurement (ProbeRecall round-14 close:
    * 0.985 sf0.01 / 0.955 gate and realistic 100× here, vs 1.000 ×3
    * scales for [[embedDedupMultiProbe]] at (1+planes)× join width).
    * A consumer wanting recall picks `sim_embed_dedup_mp` or
    * `sim_semdedup`; lifting THIS variant would erase the baseline the
    * knob curve is measured against. */
  def embedDedup(emb: DataFrame, threshold: Double = DedupCosine,
      nOpt: Option[Long] = None): DataFrame = {
    val np = planesFor(nOpt.getOrElse(emb.count()))
    val (members, reps) = collapseIdenticalVectors(emb)
    val b = reps.select(col("gid"), col("embedding"),
      bucketC(col("embedding"), np).as("bucket"))
    val verified = b.select(col("gid").as("ga"), col("embedding").as("e_a"), col("bucket"))
      .join(b.select(col("gid").as("gb"), col("embedding").as("e_b"), col("bucket")),
        "bucket")
      .filter(col("ga") < col("gb"))
      .filter(cosineGE("e_a", "e_b", threshold))
      .select(col("ga"), col("gb"))
    MinHash.duplicateOfRepGraph(members.withColumnRenamed("vec_id", "doc_id"), verified)
  }

  /** Hot-cluster collapse for the embedding joins (same argument as
    * MinHash.duplicateOfSigs): byte-identical embedding arrays group to
    * a min-id representative BEFORE the bucket join — a k-copy embedded
    * corpus (re-crawls, mirrored shards) costs one bucket row instead of
    * a k² pair explosion, and cosine is a pure function of the two
    * arrays, so rep-level verification + the member expansion of
    * [[MinHash.duplicateOfRepGraph]] is result-identical (measured: the
    * 10x probe's replicated embeddings took sim_embed_dedup_mp to 18 s;
    * collapsed, the join sees 1/10 the rows). Zero vectors are dropped
    * outright: cosine is undefined for them and the pair filter
    * excluded them already.
    *
    * Returns `(members, reps)`: the skinny `(vec_id, gid)` membership
    * map and the rep-width `(gid, embedding)` frame, both persisted.
    *
    * What gets CACHED changed in round 17 (the GC lever behind the
    * `sim_embed_dedup_mp` sweep blowups — measured: an interleaved
    * heap-regime A/B at the gate 100x corpus read mp at 4.7-5.5 s under
    * the close-sweep heap but 5.4-14.0 s with 3-18 s of task GC per rep
    * under a mis-sized heap, same binary; the old spelling pinned the
    * FULL corpus-width array frame — ~3.4 GB at gate 100x — in the
    * block manager, the largest single allocation in the mark's
    * lifetime). Now the cache holds the 16-byte/row membership map plus
    * the rep-cardinality embeddings: on a duplicate-heavy corpus that
    * is ~30x fewer cached bytes; on an all-unique corpus it equals the
    * old footprint minus the duplicated skinny columns. The window
    * lineage is recomputed once more to derive `reps` (one extra
    * exchange) — the A/B reads the trade as a wash on wall-clock and a
    * large win on GC volatility, which is the regression class this
    * mark keeps hitting in driver sweeps. */
  private def collapseIdenticalVectors(emb: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val nz = emb.filter(dotC(col("embedding"), col("embedding")) > 0)
    // Exchange keyed on the 8-byte xxhash64 of the vector, not the raw
    // 64-float array; the window keeps the array next to the hash so the
    // grouping stays exact (collision splits, never merges) — same
    // fingerprint-key pattern as MinHash.repGraph / NearDup's jaccard.
    val numParts = emb.sparkSession.sparkContext.defaultParallelism
    val withG = nz.withColumn("gh", xxhash64(col("embedding")))
      .repartition(numParts, col("gh"))
      .withColumn("gid",
        min(col("vec_id")).over(Window.partitionBy(col("gh"), col("embedding"))))
      .drop("gh")
    val members = graft.CacheScope.persist(withG.select(col("vec_id"), col("gid")))
    val reps = graft.CacheScope.persist(
      withG.filter(col("vec_id") === col("gid"))
        .select(col("gid"), col("embedding")))
    (members, reps)
  }

  private def cosineGE(a: String, b: String, t: Double) =
    dotC(col(a), col(b)) /
      (sqrt(dotC(col(a), col(a))) * sqrt(dotC(col(b), col(b)))) >= lit(t)

  /** Multi-probe form of [[embedDedup]]: each vector additionally probes
    * the [[NumPlanes]] buckets at Hamming distance 1 from its own, so a
    * near-dup pair split by ONE sign flip (the dominant boundary-miss
    * mode of exact-bucket blocking: near-identical vectors sit near the
    * same hyperplanes) still collides. This is the recall side of the
    * scale knob documented on [[embedDedup]]: grow the plane count for
    * occupancy, probe neighbors to win back the recall the extra bits
    * cost. Exactly one probe matches per qualifying pair (the flipped
    * bit is unique), so the pair set needs no distinct; join size is
    * (1 + planes) x the exact-bucket join, linear in the probe count.
    * Cosine verification is unchanged — multi-probe only widens the
    * candidate net, never the result criterion. */
  def embedDedupMultiProbe(emb: DataFrame, threshold: Double = DedupCosine,
      nOpt: Option[Long] = None): DataFrame = {
    val np = planesFor(nOpt.getOrElse(emb.count()))
    val (members, reps) = collapseIdenticalVectors(emb)
    val b = reps.select(col("gid"), col("embedding"),
      bucketC(col("embedding"), np).as("bucket"))
    // The exploded probe side ships ONLY (ga, bucket) — 16 bytes/row —
    // through the bucket exchange (round 17, closing the r16 verdict's
    // widest-shuffle finding: the old spelling carried the full
    // 64-double embedding on every one of the (1+planes) probe rows,
    // (1+planes)x528 bytes per rep through the exchange — the widest
    // shuffle in the menu per useful candidate, and the standing
    // suspect for the mark's memory-pressure blowups under the driver
    // sweep). The embedding is joined back AFTER the bucket match at
    // candidate-pair cardinality (bounded by design: planesFor sizes
    // buckets to ~constant occupancy), keyed on ga against the
    // rep-cardinality frame — at 100 TB that is a pair-sized shuffle
    // instead of a corpus-sized wide one. Cosine verification itself is
    // unchanged, so the result (and the oracle hash) is identical.
    val probes = b.select(col("gid").as("ga"),
        explode(expr(
          s"""transform(sequence(0, $np),
             |  k -> CASE WHEN k = 0 THEN bucket
             |            ELSE CAST(bucket AS INT) ^ shiftleft(1, k - 1) END)"""
            .stripMargin)).as("bucket"))
    // No distinct needed: for a qualifying pair (u < v) exactly one
    // join row survives the ga < gb filter — u's single matching probe
    // (the flipped differing bit, or the identity probe at distance 0)
    // against v's true bucket; v probing u's bucket arrives with
    // ga = v > gb = u and is filtered.
    val cand = probes
      .join(b.select(col("gid").as("gb"), col("embedding").as("e_b"), col("bucket")),
        "bucket")
      .filter(col("ga") < col("gb"))
    val verified = cand
      .join(reps.select(col("gid").as("ga"), col("embedding").as("e_a")), "ga")
      .filter(cosineGE("e_a", "e_b", threshold))
      .select(col("ga"), col("gb"))
    MinHash.duplicateOfRepGraph(members.withColumnRenamed("vec_id", "doc_id"), verified)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space coarsely, then deduplicate WITHIN each cluster by pairwise
    * cosine — the pair join is blocked by learned data geometry instead
    * of [[embedDedup]]'s random hyperplanes, so semantically close
    * vectors collide even when they straddle an LSH sign boundary.
    *
    * Scale shape: identical-vector collapse first (re-crawled shards cost
    * one row, not a k² pair explosion), then the per-row codegen'd argmin
    * assigns cells with no shuffle, and the only exchanges are the
    * within-cell self-join and the attribution's per-group min
    * ([[MinHash.duplicateOfRepGraph]]). At 100 TB the
    * cell count grows with the corpus (paper uses ~100k clusters for
    * LAION) keeping per-cell occupancy — and the quadratic pair join —
    * bounded; cells are also the natural partition key for the join. */
  def semDedup(emb: DataFrame, threshold: Double = DedupCosine,
      nOpt: Option[Long] = None): DataFrame = {
    val (members, reps) = collapseIdenticalVectors(emb)
    val cents = codebook(emb, cellsFor(nOpt.getOrElse(emb.count())))
    val cells = reps.withColumn("cell",
      graft.functions.IvfCell(col("embedding"), cents))
    val b = cells.select(col("gid"), col("embedding"), col("cell"))
    val verified = b.select(col("gid").as("ga"), col("embedding").as("e_a"), col("cell"))
      .join(b.select(col("gid").as("gb"), col("embedding").as("e_b"), col("cell")),
        "cell")
      .filter(col("ga") < col("gb"))
      .filter(cosineGE("e_a", "e_b", threshold))
      .select(col("ga"), col("gb"))
    MinHash.duplicateOfRepGraph(members.withColumnRenamed("vec_id", "doc_id"), verified)
  }

  /** Probe hooks (round 13, `graft.Probe recall`): the blocking
    * relations of the three embedding-dedup families, exposed so the
    * recall artifact measures exactly the buckets/cells the operators
    * join on. MEMBER-level `(vec_id, bucket)` / `(vec_id, cell)`: a
    * member inherits its identical-vector group's rep bucket — the
    * collapse means a non-rep member is caught whenever its rep is
    * (identical vector ⇒ identical blocking key). A multi-probe pair
    * is caught iff its buckets differ in ≤ 1 bit, an exact-bucket pair
    * iff they are equal, a SemDeDup pair iff the cells match. */
  private[graft] def bucketedRepsProbe(emb: DataFrame): DataFrame = {
    val np = planesFor(emb.count())
    val (members, reps) = collapseIdenticalVectors(emb)
    members
      .join(reps.select(col("gid"),
        bucketC(col("embedding"), np).as("bucket")), "gid")
      .select(col("vec_id"), col("bucket"))
  }

  private[graft] def cellRepsProbe(emb: DataFrame): DataFrame = {
    val (members, reps) = collapseIdenticalVectors(emb)
    val cents = codebook(emb, cellsFor(emb.count()))
    members
      .join(reps.select(col("gid"),
        graft.functions.IvfCell(col("embedding"), cents).as("cell")), "gid")
      .select(col("vec_id"), col("cell"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk" -> ((s, d) => topK(Tables.embeddings(s, d))),
    "sim_ivfpq_topk" -> ((s, d) => ivfPqTopKIx(ivfIndexFor(s, d), TopK)),
    "sim_ivfpq_rerank" -> ((s, d) => ivfPqRerankIx(ivfIndexFor(s, d), TopK, RerankDepth)),
    "sim_hybrid_topk" -> ((s, d) =>
      hybridTopK(Tables.embeddings(s, d), Tables.documents(s, d))),
    "sim_semdedup" -> ((s, d) =>
      semDedup(Tables.embeddings(s, d), DedupCosine, Some(embCountFor(s, d)))),
    "sim_embed_dedup_mp" -> ((s, d) =>
      embedDedupMultiProbe(Tables.embeddings(s, d), DedupCosine, Some(embCountFor(s, d)))),
    "sim_ann_lsh" -> ((s, d) =>
      annTopK(Tables.embeddings(s, d), TopK, Some(embCountFor(s, d)))),
    "sim_ivf_topk" -> ((s, d) => ivfTopKIx(ivfIndexFor(s, d), TopK)),
    "sim_embed_dedup" -> ((s, d) =>
      embedDedup(Tables.embeddings(s, d), DedupCosine, Some(embCountFor(s, d)))))

  // -----------------------------------------------------------------------
  // DuckDB oracle — identical fold arithmetic.
  // -----------------------------------------------------------------------

  /** DuckDB left-fold dot product (list_prepend provides the 0.0 init). */
  private def dotD(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (s, v) -> s + v)"""

  private def planeDotD(emb: String, p: Int): String = {
    val arr = planes(p).mkString("[", ", ", "]")
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${Dim + 1}), i -> CAST($emb[i] AS DOUBLE) * ($arr)[i])), (a, v) -> a + v)"""
  }

  /** Variable-plane-count bucket: every [[MaxPlanes]] term is guarded by
    * `p < np` where `np` comes from the oracle's `params` CTE — the SQL
    * twin of `bucketC(emb, np)` with a runtime-derived plane count. */
  private def bucketDNp(emb: String): String =
    (0 until MaxPlanes)
      .map(p =>
        s"(CASE WHEN $p < (SELECT np FROM params) AND ${planeDotD(emb, p)} > 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")

  /** The oracle's derived-constant CTEs (cells for the codebook family,
    * np for the hyperplane family, n / nprobe / flat for the serving
    * law) — prepend to any oracle that blocks. The nprobe expression
    * mirrors [[nprobeFor]]'s integer-exact ceil division exactly, and
    * `flat` mirrors the n <= [[ScanBudget]] PQ flat fallback rule. */
  private def nprobeSqlExpr: String =
    s"CAST(least(CAST(cells AS BIGINT), greatest(1, ($ScanBudget * cells + n - 1) // n)) AS INT)"
  private def paramsCte =
    s"""params0 AS (SELECT $cellsSql AS cells, $planesSql AS np,
       |  CAST(greatest(1, (SELECT count(*) FROM embeddings)) AS BIGINT) AS n),
       |params AS (SELECT cells, np, n, $nprobeSqlExpr AS nprobe,
       |  (n <= $ScanBudget) AS flat FROM params0)""".stripMargin

  /** DuckDB left-fold squared-L2, same fold order as the JVM argmin loop. */
  private def l2D(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${Dim + 1}), i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), (s, v) -> s + v)"""

  /** DuckDB sub-L2 for subspace `m` (a SQL expression), same j-ascending
    * fold as [[subL2]]. */
  private def subL2D(a: String, b: String, m: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${PqSubDim + 1}), j -> (CAST($a[$m * $PqSubDim + j] AS DOUBLE) - CAST($b[$m * $PqSubDim + j] AS DOUBLE)) * (CAST($a[$m * $PqSubDim + j] AS DOUBLE) - CAST($b[$m * $PqSubDim + j] AS DOUBLE)))), (s, v) -> s + v)"""

  /** Shared IVF-PQ oracle prefix: params/cents/cells/codes/q/adc/ranked —
    * everything up to the ADC ranking, consumed by both `sim_ivfpq_topk`
    * (cut at TopK) and `sim_ivfpq_rerank` (cut at RerankDepth, then
    * exact-cosine re-ranked). */
  private lazy val ivfpqRankedCtes: String =
    s"""WITH $paramsCte,
       |cents AS (SELECT vec_id AS c_id, row_number() OVER (ORDER BY vec_id) - 1 AS c,
       |                 embedding AS c_emb
       |          FROM embeddings WHERE vec_id >= $NumQueries AND vec_id < $NumQueries + (SELECT cells FROM params)),
       |cells AS (
       |  SELECT vec_id, label, c_id AS cell FROM (
       |    SELECT e.vec_id, e.label, c.c_id,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${l2D("e.embedding", "c.c_emb")}, c.c_id) AS rn
       |    FROM embeddings e, cents c)
       |  WHERE rn = 1),
       |codes AS (
       |  SELECT vec_id, m, c AS code FROM (
       |    SELECT e.vec_id, s.m, c.c,
       |           row_number() OVER (PARTITION BY e.vec_id, s.m
       |                              ORDER BY ${subL2D("e.embedding", "c.c_emb", "s.m")}, c.c) AS rn
       |    FROM embeddings e, range(0, $PqSub) s(m), cents c)
       |  WHERE rn = 1),
       |q AS (
       |  SELECT q_id, q_emb, c_id AS q_cell FROM (
       |    SELECT e.vec_id AS q_id, e.embedding AS q_emb, c.c_id,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${l2D("e.embedding", "c.c_emb")}, c.c_id) AS rn
       |    FROM embeddings e, cents c WHERE e.vec_id < $NumQueries)
       |  WHERE rn <= (SELECT nprobe FROM params)),
       |adc AS (
       |  SELECT q.q_id, x.vec_id, x.label,
       |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |           list(${subL2D("q.q_emb", "cc.c_emb", "cd.m")} ORDER BY cd.m)),
       |           (s, v) -> s + v) AS adc
       |  FROM cells x
       |  JOIN q ON x.cell = q.q_cell AND x.vec_id <> q.q_id
       |  JOIN codes cd ON cd.vec_id = x.vec_id
       |  JOIN cents cc ON cc.c = cd.code
       |  GROUP BY q.q_id, x.vec_id, x.label),
       |ranked_pq AS (SELECT q_id, vec_id, label, adc,
       |                  row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rn
       |           FROM adc),
       |flatsc AS (
       |  SELECT q.q_id, x.vec_id, x.label, ${l2D("e.embedding", "q.q_emb")} AS adc
       |  FROM cells x
       |  JOIN q ON x.cell = q.q_cell AND x.vec_id <> q.q_id
       |  JOIN embeddings e ON e.vec_id = x.vec_id),
       |ranked_flat AS (SELECT q_id, vec_id, label, adc,
       |                  row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rn
       |           FROM flatsc),
       |ranked AS (SELECT q_id, vec_id, label, adc, rn FROM ranked_pq
       |             WHERE NOT (SELECT flat FROM params)
       |           UNION ALL
       |           SELECT q_id, vec_id, label, adc, rn FROM ranked_flat
       |             WHERE (SELECT flat FROM params))""".stripMargin

  def oracles: Map[String, String] = Map(
    "sim_hybrid_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NumQueries),
         |p AS (SELECT doc_id AS vec_id,
         |             CAST(n_chars AS DOUBLE) / CAST(n_chars + $PriorMidpoint AS DOUBLE) AS prior
         |      FROM documents),
         |scored AS (
         |  SELECT q_id, e.vec_id, label, prior,
         |         ${dotD("embedding", "q_emb")} AS dot,
         |         ${dotD("embedding", "embedding")} AS na,
         |         ${dotD("q_emb", "q_emb")} AS nb
         |  FROM embeddings e JOIN p USING (vec_id), q WHERE e.vec_id <> q_id),
         |sims AS (SELECT q_id, vec_id, label,
         |                (dot / (sqrt(na) * sqrt(nb))) * prior AS score
         |         FROM scored WHERE na > 0 AND nb > 0),
         |ranked AS (SELECT q_id, vec_id, label, score,
         |                  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
         |           FROM sims)
         |SELECT q_id, rn, vec_id, score, label FROM ranked WHERE rn <= $TopK""".stripMargin,
    "sim_ivfpq_topk" ->
      s"""$ivfpqRankedCtes
         |SELECT q_id, rn, vec_id, adc, label FROM ranked WHERE rn <= $TopK""".stripMargin,
    "sim_ivfpq_rerank" ->
      s"""$ivfpqRankedCtes,
         |cand AS (SELECT q_id, vec_id FROM ranked WHERE rn <= $RerankDepth),
         |qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |       WHERE vec_id < $NumQueries),
         |ex AS (
         |  SELECT c.q_id, c.vec_id, e.label,
         |         ${dotD("e.embedding", "q_emb")} AS dot,
         |         ${dotD("e.embedding", "e.embedding")} AS na,
         |         ${dotD("q_emb", "q_emb")} AS nb
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN qv ON qv.q_id = c.q_id),
         |sims2 AS (SELECT q_id, vec_id, label, dot / (sqrt(na) * sqrt(nb)) AS sim
         |          FROM ex WHERE na > 0 AND nb > 0),
         |rr AS (SELECT q_id, vec_id, label, sim,
         |              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
         |       FROM sims2)
         |SELECT q_id, rn, vec_id, sim, label FROM rr WHERE rn <= $TopK""".stripMargin,
    "sim_semdedup" ->
      s"""WITH $paramsCte,
         |cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
         |          WHERE vec_id >= $NumQueries AND vec_id < $NumQueries + (SELECT cells FROM params)),
         |cells AS (
         |  SELECT vec_id, embedding, c_id AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.c_id,
         |           row_number() OVER (PARTITION BY e.vec_id
         |                              ORDER BY ${l2D("e.embedding", "c.c_emb")}, c.c_id) AS rn
         |    FROM embeddings e, cents c)
         |  WHERE rn = 1),
         |pairs AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |         ${dotD("x.embedding", "y.embedding")} AS dot,
         |         ${dotD("x.embedding", "x.embedding")} AS na,
         |         ${dotD("y.embedding", "y.embedding")} AS nb
         |  FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id)
         |SELECT id_b AS duplicate_id, min(id_a) AS original_id FROM pairs
         |WHERE na > 0 AND nb > 0 AND dot / (sqrt(na) * sqrt(nb)) >= $DedupCosine
         |GROUP BY id_b""".stripMargin,
    "sim_embed_dedup_mp" ->
      s"""WITH $paramsCte,
         |b AS (SELECT vec_id, embedding, ${bucketDNp("embedding")} AS bucket FROM embeddings),
         |p AS (
         |  SELECT vec_id, embedding,
         |         unnest(list_transform(range(0, (SELECT np FROM params) + 1),
         |                k -> CASE WHEN k = 0 THEN bucket
         |                          ELSE xor(bucket, (1 << (k - 1))) END)) AS bucket
         |  FROM b),
         |pairs AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |         ${dotD("x.embedding", "y.embedding")} AS dot,
         |         ${dotD("x.embedding", "x.embedding")} AS na,
         |         ${dotD("y.embedding", "y.embedding")} AS nb
         |  FROM p x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT id_b AS duplicate_id, min(id_a) AS original_id FROM pairs
         |WHERE na > 0 AND nb > 0 AND dot / (sqrt(na) * sqrt(nb)) >= $DedupCosine
         |GROUP BY id_b""".stripMargin,
    "sim_embed_dedup" ->
      s"""WITH $paramsCte,
         |b AS (SELECT vec_id, embedding, ${bucketDNp("embedding")} AS bucket FROM embeddings),
         |pairs AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |         ${dotD("x.embedding", "y.embedding")} AS dot,
         |         ${dotD("x.embedding", "x.embedding")} AS na,
         |         ${dotD("y.embedding", "y.embedding")} AS nb
         |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT id_b AS duplicate_id, min(id_a) AS original_id FROM pairs
         |WHERE na > 0 AND nb > 0 AND dot / (sqrt(na) * sqrt(nb)) >= $DedupCosine
         |GROUP BY id_b""".stripMargin,
    "sim_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q_id, vec_id, label,
         |         ${dotD("embedding", "q_emb")} AS dot,
         |         ${dotD("embedding", "embedding")} AS na,
         |         ${dotD("q_emb", "q_emb")} AS nb
         |  FROM embeddings, q WHERE vec_id <> q_id),
         |sims AS (SELECT q_id, vec_id, label, dot / (sqrt(na) * sqrt(nb)) AS sim
         |         FROM scored WHERE na > 0 AND nb > 0),
         |ranked AS (SELECT q_id, vec_id, label, sim,
         |                  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
         |           FROM sims)
         |SELECT q_id, rn, vec_id, sim, label FROM ranked WHERE rn <= $TopK""".stripMargin,
    "sim_ivf_topk" -> {
      val l2D = (a: String, b: String) =>
        s"""list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${Dim + 1}), i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), (s, v) -> s + v)"""
      s"""WITH $paramsCte,
         |cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
         |          WHERE vec_id >= $NumQueries AND vec_id < $NumQueries + (SELECT cells FROM params)),
         |cells AS (
         |  SELECT vec_id, embedding, label, c_id AS cell FROM (
         |    SELECT e.vec_id, e.embedding, e.label, c.c_id,
         |           row_number() OVER (PARTITION BY e.vec_id
         |                              ORDER BY ${l2D("e.embedding", "c.c_emb")}, c.c_id) AS rn
         |    FROM embeddings e, cents c)
         |  WHERE rn = 1),
         |q AS (
         |  SELECT q_id, q_emb, c_id AS q_cell FROM (
         |    SELECT e.vec_id AS q_id, e.embedding AS q_emb, c.c_id,
         |           row_number() OVER (PARTITION BY e.vec_id
         |                              ORDER BY ${l2D("e.embedding", "c.c_emb")}, c.c_id) AS rn
         |    FROM embeddings e, cents c WHERE e.vec_id < $NumQueries)
         |  WHERE rn <= (SELECT nprobe FROM params)),
         |scored AS (
         |  SELECT q_id, vec_id, label,
         |         ${dotD("embedding", "q_emb")} AS dot,
         |         ${dotD("embedding", "embedding")} AS na,
         |         ${dotD("q_emb", "q_emb")} AS nb
         |  FROM cells JOIN q ON cell = q_cell AND vec_id <> q_id),
         |sims AS (SELECT q_id, vec_id, label, dot / (sqrt(na) * sqrt(nb)) AS sim
         |         FROM scored WHERE na > 0 AND nb > 0),
         |ranked AS (SELECT q_id, vec_id, label, sim,
         |                  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
         |           FROM sims)
         |SELECT q_id, rn, vec_id, sim, label FROM ranked WHERE rn <= $TopK""".stripMargin
    },
    "sim_ann_lsh" -> {
      // The oracle's probe radius mirrors lshRadiusFor exactly: cumulative
      // binomials are integer-exact for np <= MaxPlanes = 20 (20! fits a
      // HUGEINT).
      s"""WITH $paramsCte,
         |comb AS (SELECT i, factorial(CAST(np AS INT)) // (factorial(CAST(i AS INT)) * factorial(CAST(np - i AS INT))) AS c
         |         FROM range(0, ${MaxPlanes + 1}) t(i), params WHERE i <= np),
         |cum AS (SELECT i, sum(c) OVER (ORDER BY i) AS cc FROM comb),
         |radius AS (SELECT min(i) AS r FROM cum, params
         |           WHERE cc * n >= $ScanBudget * (CAST(1 AS BIGINT) << np) OR i = np),
         |b AS (SELECT vec_id, embedding, label, ${bucketDNp("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q_id, vec_id, label,
         |         ${dotD("embedding", "q_emb")} AS dot,
         |         ${dotD("embedding", "embedding")} AS na,
         |         ${dotD("q_emb", "q_emb")} AS nb
         |  FROM b JOIN q ON bit_count(CAST(xor(bucket, q_bucket) AS BIGINT)) <= (SELECT r FROM radius) AND vec_id <> q_id),
         |sims AS (SELECT q_id, vec_id, label, dot / (sqrt(na) * sqrt(nb)) AS sim
         |         FROM scored WHERE na > 0 AND nb > 0),
         |ranked AS (SELECT q_id, vec_id, label, sim,
         |                  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
         |           FROM sims)
         |SELECT q_id, rn, vec_id, sim, label FROM ranked WHERE rn <= $TopK""".stripMargin
    })
}
