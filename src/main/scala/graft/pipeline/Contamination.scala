package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Eval-set decontamination — the pre-training hygiene op (GPT-3 §C,
  * PaLM, Llama: drop or flag training docs that share long n-grams with
  * an evaluation benchmark) that sits beside dedup in every production
  * pipeline but outside the single-corpus reference's scope.
  *
  * The benchmark here is a deterministic stand-in: the [[BenchmarkDocs]]
  * lowest-id documents play the eval set, everything else is the
  * training corpus. Contamination = a training doc sharing at least one
  * distinct word [[GramN]]-gram with any benchmark doc.
  *
  * Scale shape: the benchmark gram set is SMALL by construction (eval
  * sets are thousands of docs, not billions), so it broadcasts; the
  * training side explodes to distinct-per-doc grams and hash-joins the
  * broadcast — a map-side semi-join over the scan, one shuffle to
  * re-aggregate per doc. At 100 TB the training side never shuffles its
  * grams; only matched rows (rare) reach the exchange. */
object Contamination {

  val GramN = 5
  val BenchmarkDocs = 10

  /** Distinct word n-grams of `text` as a column expression (built-in
    * HOFs; the CASE guards short docs). */
  private[graft] def gramsExpr(n: Int): String = {
    val parts = (0 until n).map(k => s"element_at(w, i + $k)").mkString(", ")
    s"""CASE WHEN size(w) < $n THEN CAST(array() AS ARRAY<STRING>)
       |ELSE array_distinct(transform(sequence(1, size(w) - ${n - 1}),
       |                              i -> concat_ws(' ', $parts))) END""".stripMargin
  }

  /** `decontaminate_flags`: per contaminated training doc, how many of
    * its distinct [[GramN]]-grams appear anywhere in the benchmark. Only
    * docs with >= 1 overlap are emitted (the flag list a pipeline would
    * subtract or quarantine). */
  private def exactFlags(counts: DataFrame): DataFrame =
    counts.select(col("doc_id"), col("n_shared").as("n_contaminated_grams"))

  /** Severity tier: a doc whose shared-gram share clears this is
    * "substantially contaminated" (drop it); below, quarantine/inspect.
    * The two-tier read is the Llama/GPT-3 appendix practice — a single
    * shared 5-gram in a long doc is usually boilerplate, not leakage. */
  val OverlapThreshold = 0.2

  /** `decontaminate_overlap`, fractional-overlap decontamination: per
    * contaminated training doc, the SHARE of its distinct [[GramN]]-grams
    * found in the benchmark (plus the substantial-contamination verdict
    * at [[OverlapThreshold]]). Same scan-local probe as [[exactFlags]] —
    * the denominator (distinct-gram count) falls out of the same
    * in-kernel pass. */
  private def exactOverlap(counts: DataFrame): DataFrame =
    counts.select(col("doc_id"), col("n_shared"), col("n_grams"),
      (col("n_shared").cast("double") / col("n_grams").cast("double"))
        .as("overlap_fraction"),
      (col("n_shared").cast("double") / col("n_grams").cast("double")
        >= OverlapThreshold).as("substantial"))

  /** Driver-built set of the benchmark's distinct [[GramN]]-grams —
    * EVAL-SET-bounded (the [[buildFuzzyIndex]] collect class: a
    * benchmark is thousands of items, never corpus-scale) and cheap to
    * produce: the `doc_id < benchDocs` predicate reaches the parquet
    * scan, so the build reads bench-sized data, not the corpus.
    *
    * MEASURED bound (round 12, by a `--benchset` probe main since
    * removed; SCALE.md keeps the record; on the mostly-unique 500k
    * corpus — worst case: every doc contributes ~50 distinct grams):
    * |bench| 10^3 / 10^4 / 10^5 docs → 50k / 0.5M /
    * 5.0M grams ≈ 7 / 69 / 685 MB, build 3.0 / 3.5 / 7.1 s. Linear in
    * benchmark gram mass; a 10^5-item suite broadcasts in the hundreds
    * of MB — acceptable against multi-GiB executors, and the
    * documented escape hatch past that is the stream-static broadcast
    * JOIN spelling ([[graft.streaming.StreamPipeline.decontaminatedStream]]
    * notes the same trade). */
  private[graft] def buildBenchGramSet(docs: DataFrame, benchDocs: Int)
      : java.util.HashSet[String] = {
    val ss = docs.sparkSession
    import ss.implicits._
    val out = new java.util.HashSet[String]()
    docs.filter(col("doc_id") < benchDocs)
      .select(Stage.once(expr("filter(split(text, '\\\\s+'), x -> x != '')")).as("w"))
      .select(explode(expr(gramsExpr(GramN))).as("gram"))
      .distinct().as[String].collect().foreach(out.add)
    out
  }

  /** One bench-gram-set build + broadcast per table directory (the
    * [[fuzzyIxFor]] memo story); both exact-tier registrations share it. */
  private val benchGramsMemo =
    new QueryMemo[org.apache.spark.broadcast.Broadcast[java.util.HashSet[String]]](name = "bench_grams")
  private[graft] def benchGramsFor(s: SparkSession, d: String)
      : org.apache.spark.broadcast.Broadcast[java.util.HashSet[String]] =
    benchGramsMemo.getOrElseUpdate(s, d) {
      s.sparkContext.broadcast(
        buildBenchGramSet(Tables.documents(s, d), BenchmarkDocs))
    }

  /** The shared exact-tier pass: one scan-local `mapPartitions` over
    * the training docs against the broadcast bench gram set. Per doc it
    * counts DISTINCT [[GramN]]-grams (`n_grams`, the [[gramsExpr]]
    * `array_distinct` semantics) and how many of them the benchmark
    * contains (`n_shared`); docs sharing none drop in-kernel. This
    * replaces the exploded-gram broadcast join + two doc_id exchanges
    * the exact tier used to pay: the corpus-side gram relation (one row
    * per word per doc, ~all the corpus bytes again) never leaves the
    * scan stage, the same shape that took the fuzzy tier from 184.5 to
    * 2.6 s at the 100x probe. */
  private def exactTierCounts(docs: DataFrame,
      bench: org.apache.spark.broadcast.Broadcast[java.util.HashSet[String]],
      benchDocs: Int): DataFrame = {
    val ss = docs.sparkSession
    import ss.implicits._
    val n = GramN
    docs.filter(col("doc_id") >= benchDocs)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val set = bench.value
        val seen = new java.util.HashSet[String]()
        val sb = new java.lang.StringBuilder
        it.flatMap { case (id, text) =>
          seen.clear()
          // the `filter(split(text, '\s+'), x -> x != '')` word
          // semantics (ASCII-\s split, empties dropped), as a JVM pass.
          val raw = text.split("\\s+")
          var nw = 0
          var i = 0
          while (i < raw.length) { if (raw(i).nonEmpty) nw += 1; i += 1 }
          val w = new Array[String](nw)
          i = 0
          var j = 0
          while (i < raw.length) {
            if (raw(i).nonEmpty) { w(j) = raw(i); j += 1 }; i += 1
          }
          var nShared = 0L
          var nGrams = 0L
          i = 0
          while (i + n <= w.length) {
            sb.setLength(0)
            var k = 0
            while (k < n) {
              if (k > 0) sb.append(' ')
              sb.append(w(i + k))
              k += 1
            }
            val g = sb.toString
            if (seen.add(g)) {
              nGrams += 1
              if (set.contains(g)) nShared += 1
            }
            i += 1
          }
          if (nShared >= 1L) Iterator.single((id, nShared, nGrams))
          else Iterator.empty
        }
      }.toDF("doc_id", "n_shared", "n_grams")
  }

  /** Trigram-Jaccard similarity at or above this flags a training doc
    * as a fuzzy near-match of a benchmark doc. Calibration: a word-level
    * paraphrase dense enough to defeat the exact 5-gram tier (an edit at
    * least every 5th word) still retains ~0.15–0.25 trigram Jaccard,
    * while unrelated prose sits near 0 — so the fuzzy tier is a
    * quarantine net, deliberately far below the ~0.7–0.8 near-dup
    * dedup thresholds. */
  val FuzzyThreshold = 0.15

  /** Stop-trigram document-frequency cap for fuzzy candidate
    * generation (the MOSS/[[NearDup.FpDfCap]] idiom): a trigram found
    * in more than [[fuzzyDfCap]] documents corpus-wide (boilerplate)
    * identifies nothing — pairing on it would regenerate the all-pairs
    * scan this index exists to avoid — so it cannot nominate a
    * candidate pair. It still participates in the EXACT Jaccard
    * computed for nominated candidates.
    *
    * The cap is RELATIVE above a floor: `max(FuzzyDfCap,
    * corpusDocs / FuzzyDfCapRatio)` — "in more than 0.1 % of documents
    * (min 50)". A fixed absolute cap silently declared EVERY trigram a
    * stop-gram on a corpus whose documents are heavily replicated
    * (the 100× probe corpus: all dfs ≥ 100 → empty output), i.e. the
    * more widely an eval item leaked, the more invisible it became;
    * scaling with corpus size keeps "rare" meaning rare-per-corpus.
    * At the gate scales (≤ 5 k docs) the floor is binding, so oracle
    * results there are unchanged. */
  val FuzzyDfCap = 50
  val FuzzyDfCapRatio = 1000
  def fuzzyDfCap(corpusDocs: Long): Long =
    math.max(FuzzyDfCap.toLong, corpusDocs / FuzzyDfCapRatio)

  /** FUZZY decontamination (`decontaminate_fuzzy`): per training doc,
    * the MAXIMUM trigram-Jaccard similarity against any benchmark doc
    * sharing at least one RARE trigram with it (corpus df ≤
    * [[FuzzyDfCap]]), flagged at [[FuzzyThreshold]]. Exact n-gram
    * overlap (`decontaminate_flags`)
    * misses paraphrased or lightly-edited eval leakage — a doc can
    * share zero 5-grams with a benchmark item yet be a near-copy of it;
    * whole-doc set similarity is the fuzzy tier the Llama-lineage
    * decontamination appendices describe on top of the exact tier. A
    * genuine paraphrase at J ≥ 0.15 shares MANY trigrams, nearly all of
    * them rare (they quote the benchmark item's specific phrasing), so
    * the rare-gram gate loses nothing real; pairs sharing ONLY
    * ubiquitous trigrams sit near J = 0 and are exactly the pairs the
    * old `arrays_overlap` broadcast nested-loop wasted |bench| full
    * `array_intersect`s per training doc on.
    *
    * Scale shape — an inverted df-capped trigram index probed IN-KERNEL,
    * not an all-pairs scan, and no corpus-scale shuffle anywhere:
    *  1. one map-side pass computes the corpus-wide df of BENCH grams
    *     only (broadcast semi-join; partial aggregation collapses each
    *     partition to ≤ |bench grams| rows) — collected to the driver,
    *     which is EVAL-SET-bounded by construction, the same sanctioned
    *     class as the IVF codebook collects;
    *  2. the driver builds (gram → dense id), (rare gram → bench
    *     posting list), and per-bench-doc gram-id arrays, broadcast
    *     once — the same broadcast budget the retired nested-loop spent
    *     on the raw bench arrays;
    *  3. one `mapPartitions` pass over the training side probes the
    *     index per doc: rare shared grams nominate candidate bench
    *     docs, exact intersections count ALL shared grams (stop grams
    *     included) against a generation-stamped mark array (zero
    *     allocation per doc), and only (doc, max_jaccard) leaves the
    *     kernel — one output row per contaminated doc, no candidate
    *     pair ever hits an exchange.
    * An earlier spelling generated candidates as an exploded
    * posting-equi-join + distinct: on a low-diversity corpus (where no
    * trigram exceeds the df cap) it shuffled one row per (pair, shared
    * gram) — ~80 M rows at the 5 k-doc/1 k-bench probe, 44 s vs 5.4 s
    * for THIS kernel on the same data.
    *
    * The scalar tier IS the attribution result ([[attributionOf]])
    * minus the bench column — one projection, defined once. */
  private def flagsOf(attribution: DataFrame): DataFrame =
    attribution.select(col("doc_id"), col("max_jaccard"), col("contaminated"))

  /** Attribution form of the fuzzy tier (`decontaminate_attribution`):
    * WHICH benchmark item each matched training doc most resembles — the
    * actionable report (drop the doc, then audit the eval item's leakage
    * footprint). One `mapPartitions` over the training side against an
    * already-built broadcast index; the argmax bench doc rides out of
    * the kernel beside the max Jaccard (ties on bit-equal Jaccard to the
    * smallest bench id, mirrored by the oracle's window order). Both
    * fuzzy registrations run exactly this. */
  private def attributionOf(tri: DataFrame,
      ix: org.apache.spark.broadcast.Broadcast[FuzzyIndex],
      benchDocs: Int): DataFrame = {
    val ss = tri.sparkSession
    import ss.implicits._
    val thr = FuzzyThreshold
    tri.filter(col("doc_id") >= benchDocs)
      .select(col("doc_id"), col("ga")).as[(Long, Seq[String])]
      .mapPartitions { it =>
        val probe = new FuzzyProbe(ix.value)
        it.flatMap { case (id, ga) =>
          probe.bestMatch(ga).map { case (b, j) => (id, b, j) }
        }
      }
      .toDF("doc_id", "bench_id", "max_jaccard")
      .select(col("doc_id"), col("bench_id"), col("max_jaccard"),
        (col("max_jaccard") >= thr).as("contaminated"))
  }

  /** One fuzzy index build per table directory (same QueryMemo story as
    * the minhash rep graph and the IVF index): the bench collect +
    * corpus-wide df pass + broadcast run once and both fuzzy-tier
    * queries probe the same broadcast. The broadcast is not touched by
    * the bench's cache barrier, so warm queries pay only their own
    * probe pass. */
  private val fuzzyIxMemo =
    new QueryMemo[org.apache.spark.broadcast.Broadcast[FuzzyIndex]](name = "fuzzy_index")
  private[graft] def fuzzyIxFor(s: SparkSession, d: String)
      : org.apache.spark.broadcast.Broadcast[FuzzyIndex] =
    fuzzyIxMemo.getOrElseUpdate(s, d) {
      // rides the shared Grams checkpoint: the bench collect, the df
      // pass and the corpus count all re-scan the memoized relation
      // instead of re-running the trigram kernel over `text`.
      s.sparkContext.broadcast(buildFuzzyIndex(Grams.gramsFor(s, d), BenchmarkDocs))
    }

  /** The driver-built broadcast index: dense gram ids over the BENCH
    * vocabulary, per-bench-doc gram-id arrays, and posting lists for
    * the rare (corpus df ≤ [[FuzzyDfCap]]) grams only. All structures
    * are eval-set-sized. */
  private[graft] final case class FuzzyIndex(
      gramId: java.util.HashMap[String, Integer],
      nGrams: Int,
      benchDocIds: Array[Long],
      benchGramIds: Array[Array[Int]],
      rarePostings: Array[Array[Int]]) // by gram id; null = stop gram or absent

  private[graft] def buildFuzzyIndex(tri: DataFrame, benchDocs: Int): FuzzyIndex = {
    val ss = tri.sparkSession
    import ss.implicits._
    // EVAL-SET-bounded collect (same class as the IVF codebooks): the
    // benchmark is thousands of docs by construction, never corpus-scale.
    // MEASURED bound (round 11, by an `--index` probe main since removed,
    // at the 100× corpus; SCALE.md table): |bench| = 10³/10⁴/10⁵ → index ≈
    // 3.3/5.9/28 MB estimated driver footprint, build 4.4/4.3/5.9 s —
    // the gram map grows SUBLINEARLY (bounded by corpus trigram
    // diversity, 23k → 36k entries across those two decades); only the
    // per-bench gram-id arrays are linear in |bench|. Three orders of
    // magnitude of headroom against a 128 GiB driver before the
    // gram-hash-prefix sharding fallback (same probe kernel per shard)
    // would be needed.
    val bench = tri.filter(col("doc_id") < benchDocs)
      .select(col("doc_id"), col("ga")).as[(Long, Seq[String])].collect()
    val gramId = new java.util.HashMap[String, Integer]()
    bench.foreach(_._2.foreach { g =>
      if (!gramId.containsKey(g)) gramId.put(g, gramId.size())
    })
    val nGrams = gramId.size()
    val benchGramIds = bench.map(_._2.map(g => gramId.get(g).intValue()).toArray)
    // corpus-wide df of bench grams: one map-side broadcast semi-join
    // pass over the corpus postings; ≤ |bench grams| rows return.
    val benchGramsDf = gramId.keySet().toArray(Array.empty[String]).toSeq.toDF("g")
    val dfMap = tri.select(explode(col("ga")).as("g"))
      .join(broadcast(benchGramsDf), "g")
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    val cap = fuzzyDfCap(tri.count())
    val posts = Array.fill(nGrams)(List.empty[Int])
    bench.indices.foreach { b =>
      benchGramIds(b).foreach { gid => posts(gid) = b :: posts(gid) }
    }
    val rare = new Array[Array[Int]](nGrams)
    gramId.forEach { (g, gid) =>
      if (dfMap.getOrElse(g, 0L) <= cap) rare(gid) = posts(gid).toArray
    }
    FuzzyIndex(gramId, nGrams, bench.map(_._1), benchGramIds, rare)
  }

  /** Per-partition probe state: generation-stamped mark arrays make the
    * per-doc candidate set and membership tests allocation-free. */
  private[graft] final class FuzzyProbe(ix: FuzzyIndex) {
    private val mark = new Array[Int](ix.nGrams)
    private val candStamp = new Array[Int](ix.benchDocIds.length)
    private val cands = new Array[Int](ix.benchDocIds.length)
    private var stamp = 0

    /** (bench doc_id, Jaccard) of the BEST-matching candidate — ties on
      * bit-equal Jaccard break to the smallest bench doc_id, the same
      * total order as the oracle's `ORDER BY jac DESC, bench_id`. */
    def bestMatch(ga: Seq[String]): Option[(Long, Double)] = {
      stamp += 1
      val na = ga.size
      var nCand = 0
      val it = ga.iterator
      while (it.hasNext) {
        val id = ix.gramId.get(it.next())
        if (id != null) {
          val gid = id.intValue()
          mark(gid) = stamp
          val post = ix.rarePostings(gid)
          if (post != null) {
            var k = 0
            while (k < post.length) {
              val b = post(k)
              if (candStamp(b) != stamp) { candStamp(b) = stamp; cands(nCand) = b; nCand += 1 }
              k += 1
            }
          }
        }
      }
      if (nCand == 0) None
      else {
        var best = Double.NegativeInfinity
        var bestId = Long.MaxValue
        var c = 0
        while (c < nCand) {
          val b = cands(c)
          val bg = ix.benchGramIds(b)
          var inter = 0
          var k = 0
          while (k < bg.length) { if (mark(bg(k)) == stamp) inter += 1; k += 1 }
          // same IEEE spelling as the oracle: inter / ((na+nb) - inter)
          val j = inter.toDouble / ((na + bg.length).toDouble - inter.toDouble)
          val bid = ix.benchDocIds(b)
          if (j > best || (j == best && bid < bestId)) { best = j; bestId = bid }
          c += 1
        }
        Some((bestId, best))
      }
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "decontaminate_flags" -> ((s, d) => exactFlags(
      exactTierCounts(Tables.documents(s, d), benchGramsFor(s, d), BenchmarkDocs))),
    "decontaminate_overlap" -> ((s, d) => exactOverlap(
      exactTierCounts(Tables.documents(s, d), benchGramsFor(s, d), BenchmarkDocs))),
    "decontaminate_fuzzy" -> ((s, d) =>
      flagsOf(attributionOf(Grams.gramsFor(s, d), fuzzyIxFor(s, d), BenchmarkDocs))),
    "decontaminate_attribution" -> ((s, d) =>
      attributionOf(Grams.gramsFor(s, d), fuzzyIxFor(s, d), BenchmarkDocs)))

  def oracles: Map[String, String] = {
    val parts = (0 until GramN).map(k => s"w[i + $k]").mkString(" || ' ' || ")
    val fuzzyCtes =
      s"""WITH grams AS (SELECT doc_id, unnest(${NearDup.TrigramsD}) AS g FROM documents),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |keep AS (SELECT g FROM grams GROUP BY g
         |         HAVING count(*) <= greatest($FuzzyDfCap,
         |           (SELECT count(DISTINCT doc_id) FROM grams) // $FuzzyDfCapRatio)),
         |rare AS (SELECT doc_id, grams.g FROM grams JOIN keep USING (g)),
         |cand AS (
         |  SELECT DISTINCT t.doc_id, b.doc_id AS bench_id
         |  FROM rare t JOIN rare b ON t.g = b.g
         |  WHERE t.doc_id >= $BenchmarkDocs AND b.doc_id < $BenchmarkDocs),
         |inter AS (
         |  SELECT t.doc_id, b.doc_id AS bench_id, count(*) AS inter
         |  FROM grams t JOIN grams b ON t.g = b.g
         |  WHERE t.doc_id >= $BenchmarkDocs AND b.doc_id < $BenchmarkDocs
         |  GROUP BY 1, 2),
         |jac AS (
         |  SELECT c.doc_id, c.bench_id,
         |         CAST(inter AS DOUBLE)
         |           / (CAST(st.n + sb.n AS DOUBLE) - CAST(inter AS DOUBLE)) AS jac
         |  FROM cand c
         |  JOIN inter i ON i.doc_id = c.doc_id AND i.bench_id = c.bench_id
         |  JOIN sizes st ON st.doc_id = c.doc_id
         |  JOIN sizes sb ON sb.doc_id = c.bench_id)""".stripMargin
    Map(
      "decontaminate_fuzzy" ->
        s"""$fuzzyCtes
           |SELECT doc_id, max(jac) AS max_jaccard,
           |       max(jac) >= $FuzzyThreshold AS contaminated
           |FROM jac GROUP BY doc_id""".stripMargin,
      "decontaminate_attribution" ->
        s"""$fuzzyCtes
           |SELECT doc_id, bench_id, jac AS max_jaccard,
           |       jac >= $FuzzyThreshold AS contaminated
           |FROM (SELECT doc_id, bench_id, jac,
           |             row_number() OVER (PARTITION BY doc_id
           |                                ORDER BY jac DESC, bench_id) AS rk
           |      FROM jac)
           |WHERE rk = 1""".stripMargin,
      "decontaminate_flags" ->
        s"""WITH b AS (
           |  SELECT doc_id,
           |         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
           |  FROM documents),
           |g AS (
           |  SELECT DISTINCT doc_id,
           |         unnest(list_transform(range(1, len(w) - ${GramN - 2}),
           |                               i -> $parts)) AS gram
           |  FROM b),
           |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < $BenchmarkDocs)
           |SELECT doc_id, count(*) AS n_contaminated_grams
           |FROM g JOIN bench USING (gram)
           |WHERE doc_id >= $BenchmarkDocs
           |GROUP BY doc_id""".stripMargin,
      "decontaminate_overlap" ->
        s"""WITH b AS (
           |  SELECT doc_id,
           |         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
           |  FROM documents),
           |g AS (
           |  SELECT DISTINCT doc_id,
           |         unnest(list_transform(range(1, len(w) - ${GramN - 2}),
           |                               i -> $parts)) AS gram
           |  FROM b),
           |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < $BenchmarkDocs),
           |tot AS (SELECT doc_id, count(*) AS n_grams FROM g
           |        WHERE doc_id >= $BenchmarkDocs GROUP BY doc_id),
           |sh AS (SELECT doc_id, count(*) AS n_shared
           |       FROM g JOIN bench USING (gram)
           |       WHERE doc_id >= $BenchmarkDocs GROUP BY doc_id)
           |SELECT doc_id, n_shared, n_grams,
           |       CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE) AS overlap_fraction,
           |       CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE) >= $OverlapThreshold AS substantial
           |FROM sh JOIN tot USING (doc_id)""".stripMargin)
  }
}
