package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, min}

import graft.pipeline.{MinHash, NearDup, TextEmbed}
import graft.relational.Similarity

/** The one duplicate-attribution rule, `MinHash.duplicateOfRepGraph`:
  * members `(doc_id, gid)` plus verified rep pairs `(ga < gb)` to the
  * `(duplicate_id, original_id)` map. Checked against the member ×
  * partner spelling every near-dup operator carried before it, kept
  * here as the reference: first on random member and pair frames, then
  * through each operator that calls it, with the operator's members and
  * verified pairs rebuilt in plain Scala (same blocking, brute-force
  * verification). */
class DupAttributionSpec extends SparkSpec {
  import spark.implicits._

  /** The former spelling: each member against its group's partners in
    * both orientations, plus the in-group candidate, then a corpus-wide
    * groupBy(doc_id) min. */
  private def reference(members: DataFrame, pairs: DataFrame): Set[(Long, Long)] = {
    val partners = pairs.select(col("ga").as("gid"), col("gb").as("cand"))
      .union(pairs.select(col("gb").as("gid"), col("ga").as("cand")))
    members.join(partners, "gid")
      .filter(col("cand") < col("doc_id"))
      .select(col("doc_id"), col("cand"))
      .union(members.filter(col("doc_id") =!= col("gid"))
        .select(col("doc_id"), col("gid").as("cand")))
      .groupBy(col("doc_id").as("duplicate_id"))
      .agg(min(col("cand")).as("original_id"))
      .as[(Long, Long)].collect().toSet
  }

  private def shared(members: DataFrame, pairs: DataFrame): Set[(Long, Long)] =
    MinHash.duplicateOfRepGraph(members, pairs).as[(Long, Long)].collect().toSet

  private def pairsDf(pairs: Seq[(Long, Long)]): DataFrame = pairs.toDF("ga", "gb")

  /** `(doc_id, gid)` rows grouping ids by an exact key, gid = group min. */
  private def membersBy[K](keyed: Seq[(Long, K)]): Seq[(Long, Long)] =
    keyed.groupBy(_._2).values.toSeq.flatMap { g =>
      val gid = g.map(_._1).min
      g.map { case (id, _) => (id, gid) }
    }

  /** All rep pairs `(a < b)` passing `ok`. */
  private def allPairs(reps: Seq[Long])(ok: (Long, Long) => Boolean): Seq[(Long, Long)] =
    for (a <- reps; b <- reps if a < b && ok(a, b)) yield (a, b)

  test("hand-built graph: a gid only ever the smaller side, a chain, repeated " +
      "pair rows, singletons") {
    val members = Seq(
      10L -> 10L, 15L -> 10L, 40L -> 10L, // 10 is only ever ga
      20L -> 20L, 25L -> 20L,
      30L -> 30L, 31L -> 30L,
      5L -> 5L, // singleton, only ever ga
      50L -> 50L, // singleton, no pair
      60L -> 60L).toDF("doc_id", "gid")
    // (10, 20) from two buckets; 60 -> 30 -> 20 -> 10 is a chain, which
    // attribution does not follow: each doc takes its own least partner
    val pairs = pairsDf(Seq(10L -> 20L, 10L -> 20L, 20L -> 30L, 5L -> 30L, 30L -> 60L))
    val want = Set(15L -> 10L, 40L -> 10L, 20L -> 10L, 25L -> 10L,
      30L -> 5L, 31L -> 5L, 60L -> 30L)
    assert(shared(members, pairs) === want)
    assert(reference(members, pairs) === want)
    // no pairs: only the in-group members are duplicates
    val none = pairs.limit(0)
    assert(shared(members, none) === Set(15L -> 10L, 40L -> 10L, 25L -> 20L, 31L -> 30L))
    assert(shared(members, none) === reference(members, none))
    val out = MinHash.duplicateOfRepGraph(members, pairs)
    assert(out.columns.toSeq === Seq("duplicate_id", "original_id"))
  }

  test("property: random member and pair frames give the reference dup map") {
    for (seed <- Seq(3, 17, 29, 64)) {
      val rnd = new scala.util.Random(seed)
      // 30 independent graphs in disjoint id ranges, one frame each side
      val graphs = (0 until 30).map { t =>
        val ids = rnd.shuffle((0 until 40).map(i => 1000L * t + i)).iterator
        val groups = Seq.fill(1 + rnd.nextInt(10)) {
          // ~40 % singletons
          Seq.fill(if (rnd.nextDouble() < 0.4) 1 else 2 + rnd.nextInt(3))(ids.next())
        }
        val members = groups.flatMap(g => g.map(_ -> g.min))
        val gids = groups.map(_.min).sorted.toIndexedSeq
        val pairs =
          if (t % 5 == 0 || gids.size < 2) Seq.empty // some graphs have no pairs
          else {
            val random = Seq.fill(rnd.nextInt(2 * gids.size)) {
              val a = gids(rnd.nextInt(gids.size)); val b = gids(rnd.nextInt(gids.size))
              (math.min(a, b), math.max(a, b))
            }.filter { case (a, b) => a < b }
            // a chain g0 < g1 < g2 over consecutive gids
            val chain = gids.sliding(2).take(2).collect { case Seq(a, b) => (a, b) }.toSeq
            // one row per shared bucket: repeat some pairs
            (random ++ chain).flatMap(p => Seq.fill(1 + rnd.nextInt(3))(p))
          }
        (members, pairs)
      }
      val members = graphs.flatMap(_._1).toDF("doc_id", "gid")
      val pairs = pairsDf(graphs.flatMap(_._2))
      val want = reference(members, pairs)
      assert(want.exists { case (d, o) => graphs.exists(_._1.contains(d -> d)) && o < d },
        s"seed=$seed: fixture invalid, no rep attributed to a partner")
      assert(shared(members, pairs) === want, s"seed=$seed")
    }
  }

  // ---------------------------------------------------------------------
  // The callers, each on one random corpus
  // ---------------------------------------------------------------------

  private val vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega").split(" ")

  /** Families of exact copies, one-word edits and edits of edits, plus
    * unrelated docs, under shuffled ids. */
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(41)
    def doc(): Seq[String] = Seq.fill(30 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
    def edit(w: Seq[String]): Seq[String] = w.updated(rnd.nextInt(w.size), "zzz")
    val texts = (0 until 8).flatMap { _ =>
      val base = doc()
      val e1 = edit(base)
      Seq.fill(1 + rnd.nextInt(3))(base) ++ Seq.fill(1 + rnd.nextInt(2))(e1) ++
        Seq.fill(rnd.nextInt(2))(edit(e1))
    }.map(_.mkString(" ")) ++ Seq.fill(8)(doc().mkString(" "))
    rnd.shuffle(texts.indices.map(i => 3L * i + 2)).zip(texts)
  }
  private def corpusDf = corpus.toDF("doc_id", "text")

  /** Checks a caller against the reference and that the fixture pairs
    * at least one rep with another. */
  private def checkCaller(name: String, got: DataFrame,
      members: Seq[(Long, Long)], pairs: Seq[(Long, Long)]): Unit = {
    assert(pairs.nonEmpty, s"$name: fixture invalid, no verified rep pair")
    val want = reference(members.toDF("doc_id", "gid"), pairsDf(pairs))
    assert(got.as[(Long, Long)].collect().toSet === want, name)
  }

  test("MinHash.duplicateOf equals the reference over its verified rep pairs") {
    val members = membersBy(corpus.map { case (id, t) => id -> MinHash.signature(t).toSeq })
    val pairs = MinHashSpec.verifiedPairs(corpusDf, MinHash.BandBucketChunkLen)
      .select("ga", "gb").as[(Long, Long)].collect().toSeq
    checkCaller("minhash", MinHash.duplicateOf(corpusDf), members, pairs)
  }

  test("NearDup.simhashDuplicateOf equals the reference over brute-force Hamming pairs") {
    val sh = corpus.map { case (id, t) => id -> NearDup.simHash(t) }
    val members = membersBy(sh)
    val shOf = sh.toMap
    // pigeonhole: every pair within MaxHamming shares a chunk, so the
    // blocking finds all of them
    val pairs = allPairs(members.filter(m => m._1 == m._2).map(_._1)) { (a, b) =>
      java.lang.Long.bitCount(shOf(a) ^ shOf(b)) <= NearDup.MaxHamming
    }
    checkCaller("simhash", NearDup.simhashDuplicateOf(corpusDf), members, pairs)
  }

  test("dedup_jaccard_dupmap equals the reference over brute-force trigram Jaccard") {
    val tri = graft.pipeline.Grams.triFrame(corpusDf).as[(Long, Seq[String])].collect().toSeq
    val members = membersBy(tri)
    val setOf = tri.map { case (id, g) => id -> g.toSet }.toMap
    // the prefix filter is lossless, so every pair at or over the
    // threshold is verified
    val pairs = allPairs(members.filter(m => m._1 == m._2).map(_._1)) { (a, b) =>
      val inter = (setOf(a) & setOf(b)).size
      NearDup.JaccardDenom * inter >=
        NearDup.JaccardNumer * (setOf(a).size + setOf(b).size - inter)
    }
    checkCaller("jaccard", runRegistered(NearDup.queries("dedup_jaccard_dupmap"), corpusDf),
      members, pairs)
  }

  test("TextEmbed.semanticDedupQuery equals the reference over every co-bucket " +
      "cosine pair") {
    val rows = TextEmbed.bucketedVectors(corpusDf)
      .select(col("doc_id"), col("gid"), col("keys"),
        expr("transform(vec, x -> x.dim * 4294967296L + x.weight)").as("pv"))
      .as[(Long, Long, Seq[Long], Seq[Long])].collect().toSeq
    val members = rows.map(r => (r._1, r._2))
    val byRep = rows.filter(r => r._1 == r._2).map(r => r._1 -> r).toMap
    val pairs = allPairs(byRep.keys.toSeq) { (a, b) =>
      byRep(a)._3.exists(byRep(b)._3.contains) &&
        TextEmbed.cosineGeProbe(byRep(a)._4.toArray, byRep(b)._4.toArray, TextEmbed.DedupCosine)
    }
    checkCaller("semantic text", TextEmbed.semanticDedupQuery(corpusDf), members, pairs)
  }

  test("the three embedding dedups equal the reference over their blocking " +
      "and true cosine") {
    val rnd = new scala.util.Random(13)
    def vec(): Array[Float] = Array.fill(Similarity.Dim)(rnd.nextGaussian().toFloat)
    val rows = (0 until 24).flatMap { i =>
      val base = vec()
      val near = base.map(x => x + rnd.nextGaussian().toFloat * 0.01f)
      val id = 10L * (23 - i) // descending, so originals are not always first
      i % 4 match {
        case 0 => Seq(id -> base, (id + 1) -> base.clone(), (id + 3) -> near)
        case 1 => Seq(id -> base, (id + 2) -> near, (id + 5) -> near.clone())
        case _ => Seq(id -> base)
      }
    }
    val emb = rows.map { case (id, v) => (id, v, 0L) }.toDF("vec_id", "embedding", "label")
    val vecOf = rows.toMap
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val members = membersBy(rows.map { case (id, v) => id -> v.toSeq })
    val reps = members.filter(m => m._1 == m._2).map(_._1)
    def keyOf(probe: DataFrame): Map[Long, Long] =
      probe.select(col("vec_id"), col(probe.columns(1)).cast("long"))
        .as[(Long, Long)].collect().toMap
    val bucket = keyOf(Similarity.bucketedRepsProbe(emb))
    val cell = keyOf(Similarity.cellRepsProbe(emb))
    def verified(blocked: (Long, Long) => Boolean) = allPairs(reps) { (a, b) =>
      blocked(a, b) && cosine(vecOf(a), vecOf(b)) >= Similarity.DedupCosine
    }
    checkCaller("embedDedup", Similarity.embedDedup(emb), members,
      verified((a, b) => bucket(a) == bucket(b)))
    checkCaller("embedDedupMultiProbe", Similarity.embedDedupMultiProbe(emb), members,
      verified((a, b) => java.lang.Long.bitCount(bucket(a) ^ bucket(b)) <= 1))
    checkCaller("semDedup", Similarity.semDedup(emb), members,
      verified((a, b) => cell(a) == cell(b)))
  }
}
