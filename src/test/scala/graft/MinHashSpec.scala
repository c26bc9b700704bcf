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
    val row = MinHash.statsQuery(d).collect().head
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

  test("chunk-pair bucket verify (forced chunkLen=2) emits the identical " +
      "verified pair set as the single-pass kernel") {
    // two near-dup clusters of 5 distinct variants each + an unrelated
    // doc: buckets collect >= 3 same-band reps, so chunkLen=2 exercises
    // same-chunk, cross-chunk, and small-bucket paths together.
    val variants = Seq("jumps", "leaps", "hops", "bounds", "vaults")
    val rows =
      variants.zipWithIndex.map { case (w, i) => (i.toLong, longA.replace("jumps", w)) } ++
      variants.zipWithIndex.map { case (w, i) => (100L + i, other.replace("databases", w)) } :+
      (500L, "an entirely different short standalone text about nothing else")
    val d = docs(rows: _*)
    // (ga, gb, matches) only: the spanning-forest `tree` tag is
    // layout-dependent by design (a forest per kernel scan — chunking
    // changes WHICH pairs are redundant, never the components).
    def pairsAt(chunkLen: Int) =
      MinHash.verifiedPairsOf(d, chunkLen)
        .select("ga", "gb", "matches")
        .as[(Long, Long, Int)].collect().toSet
    val fast = pairsAt(Int.MaxValue)
    val chunked = pairsAt(2)
    assert(fast.nonEmpty, "fixture invalid: no verified near-dup pairs")
    assert(chunked === fast)
  }

  test("tree-tagged pairs span the same components as the full verified " +
      "pair set, on both kernel paths") {
    val variants = Seq("jumps", "leaps", "hops", "bounds", "vaults")
    val rows =
      variants.zipWithIndex.map { case (w, i) => (i.toLong, longA.replace("jumps", w)) } ++
      variants.zipWithIndex.map { case (w, i) => (100L + i, other.replace("databases", w)) } :+
      (500L, "an entirely different short standalone text about nothing else")
    val d = docs(rows: _*)
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
      val ps = MinHash.verifiedPairsOf(d, chunkLen)
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
