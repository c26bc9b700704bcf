package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe data generator (SCALE.md method, made repeatable): builds
  * `outDir` = `factor` x sfDir by replicating every table with shifted
  * keys, preserving join consistency (orders↔lineitem↔customer keep their
  * FK relationships inside each replica; dims pass through unchanged).
  *
  * Documents are made ADVERSARIAL for dedup: each base doc heads a
  * `factor`-member cluster — half the replicas are byte-identical copies
  * (exercising the identical-content representative collapse), half get
  * a distinct suffix (near-dup variants that must survive collapse and
  * still pair through the LSH/prefix joins).
  *
  * With `--skew-events`, one planted user receives every 10th event row
  * (10% of the table) — THE adversarial shape for the window/sessionize/
  * funnel family, whose per-user windows otherwise see near-uniform
  * user_id: a hot user's partition is 10% of the corpus on one task
  * unless AQE skew handling (or salting) engages.
  *
  * With `--skew-docs`, ONE language owns 90% of documents and ONE source
  * owns 100% — the adversarial shape for anything keyed on a data VALUE
  * whose cardinality doesn't grow with the corpus (per-language buckets/
  * aggregations, per-source prefix sums and mixtures). A plan whose
  * parallelism is bounded by language or source count serializes here;
  * the round-8 de-funnels (quality_lm_buckets' distributed rank,
  * pack_assignments' composite-key sharding) exist for exactly this
  * dataset. Deterministic (keyed on doc_id), dedup structure preserved
  * (lang/source are not dedup keys).
  *
  * With `--unique`, documents are REGENERATED rather than replicated:
  * `factor x baseCount` docs whose text is drawn deterministically
  * (hash-seeded per (seed, position) — no RNG, rebuilds are identical)
  * from a shared ~4k-word two-syllable vocabulary with a skew toward
  * common words, plus STOCK PHRASES: ~20% of 3-word blocks come from a
  * fixed 64-phrase table, so common word TRIGRAMS repeat across docs
  * with a heavy-tailed df the way a crawl's boilerplate fragments do
  * (independent word draws alone share words but essentially no
  * trigrams — which flatters every gram-indexed operator with
  * df=1 posting lists). Still ~98% globally-unique docs (a shared
  * phrase is ~4 of ~52 distinct trigrams — far below any near-dup
  * threshold); the remaining ~2% are planted duplicate clusters (half
  * byte-identical, half suffixed near-dups). This is the realistic
  * post-crawl shape —
  * the gate corpus's factor-member cliques flatter dedup operators
  * whose cost scales with bucket density (round-11 hot-bucket A/B:
  * rep-graph 13.5 s on the gate corpus vs 20.4 s here), so the per-
  * round sweep runs BOTH corpora. All other tables replicate exactly
  * as in the gate mode, so the full menu (memo build included) runs.
  *
  * Usage: runMain graft.ScaleGen <sfDir> <outDir> [factor=10]
  *        [--skew-events] [--skew-docs] [--unique]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val skewEvents = args.contains("--skew-events")
    val skewDocs = args.contains("--skew-docs")
    val uniqueDocs = args.contains("--unique")
    val factor = args.drop(2).filterNot(_.startsWith("--"))
      .headOption.map(_.toInt).getOrElse(10)
    val spark = GraftSession.start("graft-scalegen")

    def load(name: String): DataFrame = spark.read.parquet(s"$sfDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.repartition(spark.sparkContext.defaultParallelism)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")

    /** Union `factor` copies with the named long columns shifted by
      * replica * (max+1) per key column — FK-consistent when parent and
      * child shift the same key by the same stride. */
    def replicate(df: DataFrame, shiftCols: Map[String, Long]): DataFrame =
      (0 until factor).map { i =>
        shiftCols.foldLeft(df) { case (d, (c, stride)) =>
          d.withColumn(c, col(c) + lit(i * stride))
        }
      }.reduce(_ union _)

    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect()(0).getLong(0) + 1L

    // dims: pass through
    write(load("region"), "region")
    write(load("nation"), "nation")
    write(load("supplier"), "supplier")

    val part = load("part")
    write(replicate(part, Map("p_partkey" -> stride(part, "p_partkey"))), "part")

    val customer = load("customer")
    val custStride = stride(customer, "c_custkey")
    write(replicate(customer, Map("c_custkey" -> custStride)), "customer")

    val orders = load("orders")
    val orderStride = stride(orders, "o_orderkey")
    write(replicate(orders,
      Map("o_orderkey" -> orderStride, "o_custkey" -> custStride)), "orders")

    val lineitem = load("lineitem")
    write(replicate(lineitem, Map("l_orderkey" -> orderStride)), "lineitem")

    val events = load("events")
    val eventsRep = replicate(events,
      Map("event_id" -> stride(events, "event_id"),
        "user_id" -> stride(events, "user_id")))
    // Hot-user remap: every 10th event_id lands on ONE user id beyond the
    // replicated range. Deterministic (keyed on event_id), preserves all
    // other columns, and keeps the remaining 90% near-uniform.
    val hotUser = stride(events, "user_id") * factor + 1L
    write(
      if (!skewEvents) eventsRep
      else eventsRep.withColumn("user_id",
        when(pmod(col("event_id"), lit(10)) === 0, lit(hotUser))
          .otherwise(col("user_id"))),
      "events")

    val emb = load("embeddings")
    write(replicate(emb, Map("vec_id" -> stride(emb, "vec_id"))), "embeddings")

    // documents: factor-member clusters per base doc — replica 0 is the
    // base, odd replicas byte-identical, even replicas near-dup variants.
    val docs = load("documents")
    val docStride = stride(docs, "doc_id")
    if (uniqueDocs) {
      write(uniqueCorpus(spark, docs.count() * factor), "documents")
      println(s"wrote ${factor}x $sfDir -> $outDir (unique documents)")
      spark.stop()
      return
    }
    val replicas = (0 until factor).map { i =>
      val shifted = docs.withColumn("doc_id", col("doc_id") + lit(i * docStride))
      if (i == 0 || i % 2 == 1) shifted
      else shifted
        .withColumn("text", concat(col("text"), lit(s" probevariant${i}marker")))
        .withColumn("n_chars", length(col("text")))
    }
    // plus THE skew case for LSH dedup at 100 TB: one 10k-copy
    // boilerplate cluster (byte-identical docs) appended after the
    // replicas — it must collapse to a single representative before any
    // pair join, and enter connected components as one star, not a
    // 5x10^7-edge clique.
    val boilerCopies = 10000
    val boiler = spark.range(boilerCopies)
      .select(
        (col("id") + lit(factor * docStride)).as("doc_id"),
        lit("this is the standard boilerplate footer text repeated verbatim " +
          "across every mirrored shard of the crawl with enough words that " +
          "the shingle and trigram pipelines all engage fully").as("text"),
        lit("en").as("lang"),
        lit("boilerplate").as("source"))
      .withColumn("n_chars", length(col("text")))
      .select(docs.columns.toIndexedSeq.map(col): _*)
    val docsOut = replicas.reduce(_ union _).union(boiler)
    write(
      if (!skewDocs) docsOut
      else docsOut
        .withColumn("lang",
          when(pmod(col("doc_id"), lit(10)) =!= 0, lit("en")).otherwise(col("lang")))
        .withColumn("source", lit("theonesource")),
      "documents")

    println(s"wrote ${factor}x $sfDir -> $outDir")
    spark.stop()
  }

  /** The realistic post-crawl corpus (`--unique`): ~98% globally-unique
    * docs drawn from a shared ~4k-word vocabulary, ~2% planted duplicate
    * clusters (even residues byte-identical, odd residues suffixed
    * near-dups, ~20 members each). Content is a pure function of doc_id
    * through xxhash64 — no RNG, rebuilds are byte-identical. The
    * vocabulary index takes the LEAST of two uniform hashes, skewing
    * mass toward low indices so common words (and therefore common
    * trigrams) repeat across documents the way a real crawl's do;
    * indices below 256 map onto 16 true English stopwords so the
    * quality cascade's stopword/punctuation metrics engage. */
  private[graft] def uniqueCorpus(spark: SparkSession, n: Long): DataFrame = {
    import org.apache.spark.sql.Column
    val syl = Array(
      "ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu", "na",
      "pe", "qi", "ro", "su", "ta", "ve", "wi", "xo", "yu", "za", "bre",
      "cho", "dra", "fle", "gri", "hos", "jun", "kle", "lor", "mon",
      "nis", "pra", "que", "ril", "ston", "tur", "vel", "wor", "xen",
      "yor", "zam", "ard", "ber", "cor", "dun", "eth", "fin", "gor",
      "hul", "ine", "jor", "kan", "lem", "mor", "nor", "ost", "per",
      "qua", "ris", "sol", "tan", "urn", "ver")
    require(syl.length == 64)
    val stop = Array("the", "of", "and", "to", "in", "a", "is", "that",
      "for", "it", "as", "was", "with", "on", "by", "at")
    val sylCol = array(syl.toIndexedSeq.map(lit): _*)
    val stopCol = array(stop.toIndexedSeq.map(lit): _*)
    val langs = Array("en", "en", "en", "en", "en", "en", "de", "fr", "es", "it")
    val langCol = array(langs.toIndexedSeq.map(lit): _*)

    // 64 fixed 3-word stock phrases (any deterministic choice works —
    // their job is giving common trigrams a real document frequency).
    val phrases: Array[String] = Array.tabulate(64 * 3) { i =>
      val (p, k) = (i / 3, i % 3)
      syl((p * 7 + k * 3) % 64) + syl((p * 11 + k * 5 + 1) % 64)
    }
    val phraseCol = array(phrases.toIndexedSeq.map(lit): _*)

    def h(seed: Column, j: Column, k: Int): Column = xxhash64(seed, j, lit(k))
    def wordFor(seed: Column, j: Column): Column = {
      val idx = least(pmod(h(seed, j, 1), lit(4096L)),
        pmod(h(seed, j, 2), lit(4096L))).cast("int")
      val base = when(idx < 256,
        element_at(stopCol, pmod(idx, lit(16)) + 1))
        .otherwise(concat(
          element_at(sylCol, floor(idx / lit(64)).cast("int") + 1),
          element_at(sylCol, pmod(idx, lit(64)) + 1)))
      // stock-phrase blocks: position block j div 3; ~20% of blocks emit
      // 3 consecutive words of one fixed phrase
      val block = floor((j - 1) / lit(3)).cast("long")
      val pid = pmod(h(seed, block, 7), lit(64L)).cast("int")
      val w = when(pmod(h(seed, block, 6), lit(5L)) === 0,
        element_at(phraseCol, pid * 3 + pmod(j - 1, lit(3)).cast("int") + 1))
        .otherwise(base)
      when(pmod(h(seed, j, 3), lit(12L)) === 0, concat(w, lit(".")))
        .otherwise(w)
    }

    spark.range(n).select(col("id").as("doc_id"))
      .withColumn("is_dup", pmod(col("doc_id"), lit(100L)) < 2)
      .withColumn("seed",
        when(col("is_dup"), pmod(col("doc_id"), lit(499L)))
          .otherwise(col("doc_id") + lit(1000000L)))
      .withColumn("nw", (pmod(h(col("seed"), lit(0), 0), lit(50L)) + 30).cast("int"))
      .withColumn("text0", concat_ws(" ",
        transform(sequence(lit(1), col("nw")), j => wordFor(col("seed"), j))))
      .select(
        col("doc_id"),
        when(col("is_dup") && pmod(col("doc_id"), lit(100L)) === 1,
          concat(col("text0"), lit(" mirrorvariant"), pmod(col("doc_id"), lit(7L))))
          .otherwise(col("text0")).as("text"),
        element_at(langCol,
          pmod(h(col("seed"), lit(0), 9), lit(10L)).cast("int") + 1).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")))
  }
}
