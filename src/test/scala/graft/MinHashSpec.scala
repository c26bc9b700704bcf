package graft

import graft.pipeline.MinHash

/** Mirrors reference tests/test_pipeline.py:57-104 (TestDeduplicator):
  * exact dup detected with original-id attribution, near-dup tolerance,
  * batch counts — plus the set-rebuild invariants from SURVEY §2.4. */
class MinHashSpec extends SparkSpec {
  import spark.implicits._

  private val longA =
    "the quick brown fox jumps over the lazy dog while the sun sets slowly " +
      "behind the distant mountains and the river flows quietly through the valley"
  private val longB = longA.replace("jumps", "leaps") // near-dup (tiny edit)
  private val other =
    "completely different content about databases indexes partitions shuffles " +
      "aggregations joins windows and the rest of the relational algebra zoo"

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("n_chars",
      org.apache.spark.sql.functions.length($"text"))

  test("signature is deterministic and shape-128") {
    val s1 = MinHash.signature(longA)
    val s2 = MinHash.signature(longA)
    assert(s1.length == MinHash.NumPerm)
    assert(s1.sameElements(s2))
  }

  test("signature slots of the shortest texts all lie in [0, P)") {
    // "" and a 1-char text each have a single shingle hash; no slot may
    // keep the Long.MaxValue sentinel that narrows to -1
    Seq("", "x").foreach { t =>
      val sig = MinHash.signature(t)
      assert(sig.length == MinHash.NumPerm)
      assert(sig.forall(v => v >= 0 && v < MinHash.P), t)
    }
  }

  test("exact duplicate: identical text detected, first-seen (lowest id) wins") {
    val d = docs(1L -> longA, 2L -> longA, 3L -> other)
    val dup = MinHash.duplicateOf(d).as[(Long, Long)].collect().toSet
    assert(dup == Set((2L, 1L)))
  }

  test("case and whitespace variants are exact dups after normalization") {
    val d = docs(5L -> longA, 9L -> longA.toUpperCase.replace(" ", "  "))
    val dup = MinHash.duplicateOf(d).as[(Long, Long)].collect().toSet
    assert(dup == Set((9L, 5L)))
  }

  test("near-duplicate (one word changed) is detected; unrelated doc is kept") {
    val d = docs(1L -> longA, 2L -> longB, 3L -> other)
    val survivors = MinHash.dedup(d).select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 3L))
  }

  test("output is a subset of input and partitions with the dup map") {
    val d = docs(1L -> longA, 2L -> longB, 3L -> other, 4L -> longA)
    val all = Set(1L, 2L, 3L, 4L)
    val survivors = MinHash.dedup(d).select("doc_id").as[Long].collect().toSet
    val dups = MinHash.duplicateOf(d).select("duplicate_id").as[Long].collect().toSet
    assert(survivors.subsetOf(all))
    assert((survivors ++ dups) == all)
    assert(survivors.intersect(dups).isEmpty)
  }

  test("stats query counts totals, uniques, dups, clusters") {
    val d = docs(1L -> longA, 2L -> longB, 3L -> other, 4L -> longA)
    val row = runRegistered(MinHash.queries("dedup_minhash_stats"), d).collect().head
    assert(row.getLong(0) == 4L) // total
    assert(row.getLong(1) == 2L) // unique
    assert(row.getLong(2) == 2L) // duplicates (2 and 4 -> original 1)
    assert(row.getLong(3) == 1L) // one cluster
  }

  test("disjoint docs produce no duplicates") {
    val d = docs(1L -> longA, 2L -> other)
    assert(MinHash.duplicateOf(d).count() == 0L)
  }

  /** The oracle mirrors the band blocking, so a banding bug would pass
    * the gate. Soundness checked against the per-pair criterion computed
    * independently here: every reported (dup, orig) pair must agree on
    * >= MinMatches of the 128 signature slots, and exact text copies
    * must ALWAYS be attributed (identical signatures collide in every
    * band — blocking-independent). */
  test("random corpora: reported dup pairs meet the signature criterion; exact copies always pair") {
    for (seed <- Seq(3, 19)) {
      val rnd = new scala.util.Random(seed)
      val vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon").split(" ")
      def doc(): String =
        Seq.fill(25 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val rows = (0 until 10).flatMap { i =>
        val id = i * 10L
        val base = doc()
        i % 3 match {
          case 0 => Seq((id, base), (id + 1L, base)) // exact copy
          case 1 => // one-word edit: likely pairs, must be sound
            val w = base.split(" ")
            Seq((id, base), (id + 1L, (w.init :+ "omega").mkString(" ")))
          case _ => Seq((id, base))
        }
      }
      val byId = rows.toMap
      val dup = MinHash.duplicateOf(docs(rows: _*))
        .as[(Long, Long)].collect().toMap
      for ((d, o) <- dup) {
        assert(o < d, s"seed=$seed: original $o not below duplicate $d")
        val (sa, sb) = (MinHash.signature(byId(d)), MinHash.signature(byId(o)))
        val matches = sa.zip(sb).count { case (x, y) => x == y }
        assert(matches >= MinHash.MinMatches,
          s"seed=$seed: reported pair ($d, $o) matches only $matches/${MinHash.NumPerm} slots")
      }
      for ((id, text) <- rows; (id2, text2) <- rows
           if id2 < id && text == text2)
        assert(dup.contains(id) && dup(id) <= id2,
          s"seed=$seed: exact copy $id not attributed at or below $id2 (got ${dup.get(id)})")
    }
  }

  test("property: signature-estimated Jaccard tracks exact shingle Jaccard (±0.15)") {
    // deterministic pseudo-corpus: pairs across the similarity spectrum
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc(): Seq[String] = Seq.fill(80)(vocab(rnd.nextInt(vocab.size)))
    def mutate(w: Seq[String], k: Int): Seq[String] =
      w.zipWithIndex.map { case (x, i) =>
        if (i % math.max(1, w.size / math.max(1, k)) == 0) vocab(rnd.nextInt(vocab.size)) else x
      }
    def exactJaccard(a: String, b: String): Double = {
      def sh(t: String) = {
        val n = t.toLowerCase.replaceAll("[ \t\n\f\r]+", " ")
        (0 to n.length - 5).map(i => n.substring(i, i + 5)).toSet
      }
      val (sa, sb) = (sh(a), sh(b))
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    def estJaccard(a: String, b: String): Double = {
      val (sa, sb) = (MinHash.signature(a), MinHash.signature(b))
      sa.zip(sb).count { case (x, y) => x == y }.toDouble / MinHash.NumPerm
    }
    for (k <- Seq(0, 2, 5, 10, 40)) {
      val base = doc()
      val a = base.mkString(" ")
      val b = mutate(base, k).mkString(" ")
      val (ex, est) = (exactJaccard(a, b), estJaccard(a, b))
      assert(math.abs(ex - est) <= 0.15,
        s"k=$k exact=$ex est=$est diverge beyond the 128-perm error bound")
    }
  }

  /** Two near-dup families of five distinct variants plus a standalone
    * doc: the shared fixture of the chunk-path and plan tests. */
  private def variantFamilies = {
    val variants = Seq("jumps", "leaps", "hops", "bounds", "vaults")
    docs(variants.zipWithIndex.map { case (w, i) => (i.toLong, longA.replace("jumps", w)) } ++
      variants.zipWithIndex.map { case (w, i) => (100L + i, other.replace("databases", w)) } :+
      (500L, "an entirely different short standalone text about nothing else"): _*)
  }

  test("chunk-pair bucket verify (forced chunkLen=2) emits the identical " +
      "verified pair set as the single-pass kernel") {
    // two near-dup clusters of 5 distinct variants each + an unrelated
    // doc: buckets collect >= 3 same-band reps, so chunkLen=2 exercises
    // same-chunk, cross-chunk, and small-bucket paths together.
    val d = variantFamilies
    // (ga, gb, matches) only: the spanning-forest `tree` tag is
    // layout-dependent by design (a forest per kernel scan — chunking
    // changes WHICH pairs are redundant, never the components).
    def pairsAt(chunkLen: Int) =
      MinHashSpec.verifiedPairs(d, chunkLen)
        .select("ga", "gb", "matches")
        .as[(Long, Long, Int)].collect().toSet
    val fast = pairsAt(Int.MaxValue)
    val chunked = pairsAt(2)
    assert(fast.nonEmpty, "fixture invalid: no verified near-dup pairs")
    assert(chunked === fast)
  }

  test("every verified pair is oriented ga < gb, on the single-pass and " +
      "the chunk-pair path") {
    // the one-orientation min-partner frame (min(ga) by gb) reads only
    // this orientation, so a pair emitted as (larger, smaller) would
    // silently drop an attribution
    val d = variantFamilies
    for (chunkLen <- Seq(Int.MaxValue, 2)) {
      val ps = MinHashSpec.verifiedPairs(d, chunkLen)
        .select("ga", "gb").as[(Long, Long)].collect()
      assert(ps.nonEmpty, s"fixture invalid at chunkLen=$chunkLen: no verified pairs")
      ps.foreach { case (a, b) =>
        assert(a < b, s"pair ($a, $b) not oriented at chunkLen=$chunkLen")
      }
    }
  }

  test("duplicateOf's executed plan holds one band-keyed exchange and one " +
      "verify-kernel Generate") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, ScalaUDF}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    object H extends AdaptiveSparkPlanHelper
    // identical copies too, so the collapse window runs as well
    val d = variantFamilies.union(docs(7L -> longA, 8L -> longA))
    val dup = MinHash.duplicateOf(d)
    assert(dup.collect().nonEmpty, "fixture invalid: no duplicates")
    val plan = dup.queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec])
    def bandKeyed(e: SparkPlan): Boolean = e.outputPartitioning match {
      case HashPartitioning(ks, _) =>
        ks.collect { case a: Attribute => a.name } == Seq("band", "bh")
      case _ => false
    }
    val exchanges = H.collect(plan) {
      case e: ShuffleExchangeExec if bandKeyed(e) => e
      case r: ReusedExchangeExec if bandKeyed(r.child) => r
    }
    val verifies = H.collect(plan) {
      case g: GenerateExec if g.generator.exists {
        case u: ScalaUDF => u.udfName.contains("minhash_verify_bucket")
        case _ => false
      } => g
    }
    assert(exchanges.size == 1, s"band-keyed exchanges: ${exchanges.size}\n$plan")
    assert(verifies.size == 1, s"verify-kernel Generates: ${verifies.size}\n$plan")
  }

  test("property: the one-orientation min partner gives the two-orientation " +
      "reference dup map, through duplicateOf and dupsFor") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, least, min, when}
    /** The former spelling, kept as the reference: the min partner over
      * BOTH pair orientations, then the closed form that reads it only
      * below gid. */
    def referenceDupMap(members: DataFrame, pairs: DataFrame): Set[(Long, Long)] = {
      val pm = pairs.select(col("ga").as("gid"), col("gb").as("cand"))
        .union(pairs.select(col("gb").as("gid"), col("ga").as("cand")))
        .groupBy(col("gid")).agg(min(col("cand")).as("pm"))
      members.join(pm, Seq("gid"), "left")
        .select(col("doc_id"),
          when(col("doc_id") =!= col("gid"), least(col("gid"), col("pm")))
            .otherwise(when(col("pm") < col("gid"), col("pm"))).as("o"))
        .filter(col("o").isNotNull)
        .as[(Long, Long)].collect().toSet
    }
    val vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon").split(" ")
    for (seed <- Seq(5, 23, 71)) {
      val rnd = new scala.util.Random(seed)
      def doc(): Seq[String] = Seq.fill(30 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
      def edit(w: Seq[String]): Seq[String] = w.updated(rnd.nextInt(w.size), "omega")
      // families of exact copies, one-word edits and edits of edits
      // (chains), under shuffled ids so a near-dup may sit below the
      // copies it pairs with
      val texts = (0 until 8).flatMap { _ =>
        val base = doc()
        val e1 = edit(base)
        Seq.fill(1 + rnd.nextInt(3))(base) ++ Seq.fill(rnd.nextInt(3))(e1) ++
          Seq.fill(rnd.nextInt(2))(edit(e1)) ++ Seq.fill(rnd.nextInt(2))(edit(base))
      }.map(_.mkString(" ")) ++ Seq.fill(6)(doc().mkString(" "))
      val ids = rnd.shuffle(texts.indices.map(i => 3L * i + 1))
      val rows = ids.zip(texts)
      val d = docs(rows: _*)
      val sigs = rows.map { case (id, t) => id -> MinHash.signature(t).toSeq }
      val members = sigs.groupBy(_._2).values.flatMap { g =>
        val gid = g.map(_._1).min
        g.map { case (id, _) => (id, gid) }
      }.toSeq.toDF("doc_id", "gid")
      val expected = referenceDupMap(members,
        MinHashSpec.verifiedPairs(d, MinHash.BandBucketChunkLen).select("ga", "gb"))
      assert(expected.exists { case (dd, o) => sigs.toMap.apply(dd) != sigs.toMap.apply(o) },
        s"seed=$seed: fixture invalid, no near-dup attribution")
      val viaDuplicateOf = MinHash.duplicateOf(d).as[(Long, Long)].collect().toSet
      assert(viaDuplicateOf === expected, s"seed=$seed: duplicateOf")
      val dir = java.nio.file.Files.createTempDirectory("graft-minhash-pm").toString
      d.coalesce(1).write.parquet(s"$dir/documents.parquet")
      val viaDupsFor = MinHash.dupsFor(spark, dir).as[(Long, Long)].collect().toSet
      assert(viaDupsFor === expected, s"seed=$seed: dupsFor")
    }
  }

  test("tree-tagged pairs span the same components as the full verified " +
      "pair set, on both kernel paths") {
    val d = variantFamilies
    def components(edges: Set[(Long, Long)]): Map[Long, Long] = {
      // driver-side union-find over the tiny fixture
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      parent.keys.map(k => k -> find(k)).toMap
      // normalize: component = min member
      val byRoot = parent.keys.groupBy(find)
      byRoot.flatMap { case (_, ms) => val m = ms.min; ms.map(_ -> m) }.toMap
    }
    for (chunkLen <- Seq(Int.MaxValue, 2)) {
      val ps = MinHashSpec.verifiedPairs(d, chunkLen)
        .select("ga", "gb", "tree").as[(Long, Long, Boolean)].collect()
      val all = ps.map { case (a, b, _) => (a, b) }.toSet
      val tree = ps.collect { case (a, b, true) => (a, b) }.toSet
      assert(tree.subsetOf(all))
      // tiny chunk-pair scans (2x2) may legitimately find no in-scan
      // redundancy; the single-pass kernel must (5-member clusters).
      if (chunkLen == Int.MaxValue)
        assert(tree.size < all.size,
          "fixture invalid: no redundant pair for the tag to drop")
      assert(components(tree) === components(all),
        s"tree edges change components at chunkLen=$chunkLen")
    }
  }

  test("delta dedup: incremental first-seen semantics — a store partner " +
      "wins over an earlier-delta partner regardless of id; delta-only " +
      "matches attribute to the earlier delta doc; novel docs survive") {
    import org.apache.spark.sql.functions.col
    val all = docs(
      // store docs: doc_id % 10 != 0
      57L -> longA, // store copy of the A-family (note: id LARGER than 20/30)
      3L -> other,
      // delta docs: doc_id % 10 == 0
      20L -> longB, // near-dup of store 57 AND exact dup of delta 30/50
      30L -> longB,
      40L -> (other + " with novel trailing words never seen before in the " +
        "corpus so the signature stays far from every stored one entirely"),
      50L -> longB)
    val store = all.filter(col("doc_id") % 10 =!= 0)
    val delta = all.filter(col("doc_id") % 10 === 0)
    val storeReps = MinHash.storeRepsOf(store)
    val got = MinHash.deltaDupMapOf(MinHash.signatures(delta),
        storeReps, MinHash.repBands(storeReps))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every A-family delta doc attributes to the STORE doc (pri 0),
    // even though delta ids 20/30 are smaller than 57
    assert(got.get(20L) === Some(57L))
    assert(got.get(30L) === Some(57L))
    assert(got.get(50L) === Some(57L))
    assert(!got.contains(40L), "novel delta doc must survive")
    // delta-only attribution: drop the store A-copy so the family's only
    // partners are inside the delta — earliest delta id becomes original
    val store2Reps = MinHash.storeRepsOf(docs(3L -> other))
    val got2 = MinHash.deltaDupMapOf(MinHash.signatures(delta),
        store2Reps, MinHash.repBands(store2Reps))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2.get(30L) === Some(20L))
    assert(got2.get(50L) === Some(20L))
    assert(!got2.contains(20L), "first delta doc of the family is the original")
    assert(!got2.contains(40L))
  }

  test("delta dedup: the small-delta broadcast path and the contracted " +
      "path produce the identical dup map on a corpus with exact-dup " +
      "families, near-dup families, and novel docs on both sides") {
    import org.apache.spark.sql.functions.col
    // A generated mix: exact-dup families spanning store and delta
    // (every 7th doc repeats base text k), near-dups (base + per-doc
    // suffix on every 5th), and unique docs. Ids stride store (%10!=0)
    // and delta (%10==0) slices.
    val rows = (1L to 400L).map { i =>
      val fam = i % 7
      val text =
        if (i % 7 < 3) longA + s" family-$fam" // exact-dup families (shared per fam)
        else if (i % 5 == 0) longB + s" near dup variant $i tail"
        else s"unique document $i " + other + s" salt-$i"
      (i, text)
    }
    val all = docs(rows: _*)
    val store = all.filter(col("doc_id") % 10 =!= 0)
    val delta = all.filter(col("doc_id") % 10 === 0)
    val storeReps = MinHash.storeRepsOf(store)
    val sigs = MinHash.signatures(delta)
    val small = MinHash.deltaDupMapSmall(sigs, storeReps)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val contracted = MinHash.deltaDupMapContracted(sigs, storeReps,
        MinHash.repBands(storeReps))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(small.nonEmpty, "fixture invalid: no duplicates found at all")
    assert(small === contracted)
  }
}

object MinHashSpec {
  /** The verified rep pairs at a forced chunk bound, for pinning the
    * chunk-pair path against the single-pass kernel. */
  def verifiedPairs(docs: org.apache.spark.sql.DataFrame, chunkLen: Int)
      : org.apache.spark.sql.DataFrame =
    MinHash.repGraph(MinHash.signatures(docs), chunkLen)._2
}
