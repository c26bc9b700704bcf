package graft

import scala.util.Random

import graft.pipeline.{Dedup, Grams, MinHash, NearDup}

/** Property tests pinning the near-dup operators against naive
  * reference implementations computed in plain Scala — the pruning math
  * (All-Pairs prefix + PPJoin length/positional filters, pigeonhole
  * chunk blocking) must be LOSSLESS for the fixed thresholds, on
  * corpora nastier than the driver's testdata (hot grams, heavy
  * duplication, near-miss pairs at the threshold boundary). */
class NearDupPropertySpec extends SparkSpec {
  import spark.implicits._

  /** Small-vocab random doc: every trigram hot, sizes straddle the
    * length-filter boundary. */
  private def corpus(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    (0L until n).map { id =>
      val len = 4 + rnd.nextInt(18)
      val base = Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
      // a third of docs are light mutations of an earlier doc's words —
      // guarantees pairs on both sides of the 0.6 threshold
      val words =
        if (id >= 3 && rnd.nextInt(3) == 0) {
          val donorLen = 4 + new Random(seed ^ rnd.nextInt(3).toLong).nextInt(18)
          val donor = Seq.fill(donorLen)(vocab(new Random(id / 2).nextInt(vocab.size)))
          if (rnd.nextBoolean()) donor else donor.updated(rnd.nextInt(donor.size), vocab(rnd.nextInt(vocab.size)))
        } else base
      (id, words.mkString(" "))
    }
  }

  private def naiveJaccardDups(docs: Seq[(Long, String)]): Map[Long, Long] = {
    val grams = docs.map { case (id, text) => id -> NearDup.trigrams(text).toSet }.toMap
    val pairs = for {
      (a, ga) <- grams.toSeq; (b, gb) <- grams.toSeq
      if a < b && ga.nonEmpty && gb.nonEmpty
      inter = (ga intersect gb).size
      if NearDup.JaccardDenom * inter >= NearDup.JaccardNumer * (ga.size + gb.size - inter)
    } yield (a, b)
    pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
  }

  private def naiveSimhashDups(docs: Seq[(Long, String)]): Map[Long, Long] = {
    val sh = docs.map { case (id, text) => id -> NearDup.simHash(text) }
    val pairs = for {
      (a, ha) <- sh; (b, hb) <- sh
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= NearDup.MaxHamming
    } yield (a, b)
    pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
  }

  for (seed <- Seq(7, 21)) {
    test(s"prefix+length+positional-filtered jaccard join is lossless (seed $seed)") {
      val docs = corpus(seed, 60)
      val df = docs.toDF("doc_id", "text")
      val got = NearDup.jaccardOverGrams(Grams.triFrame(df), NearDup.PostingChunkLen)
        .as[(Long, Long)].collect().toMap
      assert(got == naiveJaccardDups(docs))
    }

    test(s"chunk-pair posting kernel (forced chunkLen=2) equals the " +
        s"single-row kernel and the naive join (seed $seed)") {
      // the small-vocab corpus makes every gram hot, so a tiny chunkLen
      // forces EVERY posting list through the chunk-pair path — the
      // bounded-row fallback for oversized lists must be lossless.
      val docs = corpus(seed, 60)
      val df = docs.toDF("doc_id", "text")
      val got = NearDup.jaccardOverGrams(Grams.triFrame(df), chunkLen = 2)
        .as[(Long, Long)].collect().toMap
      assert(got == naiveJaccardDups(docs))
    }

    test(s"bucket-enumerated simhash join equals all-pairs hamming (seed $seed)") {
      val docs = corpus(seed, 60)
      val df = docs.toDF("doc_id", "text")
      val got = NearDup.simhashDuplicateOf(df)
        .as[(Long, Long)].collect().toMap
      assert(got == naiveSimhashDups(docs))
    }
  }

  /** Char-level corpus for substring-window properties: docs long enough
    * to window, a third sharing a long prefix with an earlier doc. */
  private def charCorpus(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new Random(seed)
    def fresh(len: Int) = Seq.fill(len)(('a' + rnd.nextInt(4)).toChar).mkString
    (0L until n).foldLeft(Vector.empty[(Long, String)]) { (acc, id) =>
      val t =
        if (id >= 2 && rnd.nextInt(3) == 0) {
          val donor = acc(rnd.nextInt(acc.size))._2
          donor.take(100 + rnd.nextInt(donor.length.max(101) - 100)) + fresh(rnd.nextInt(60))
        } else fresh(60 + rnd.nextInt(240))
      acc :+ (id -> t)
    }
  }

  private def naiveSubstringDups(docs: Seq[(Long, String)]): Map[Long, (Long, Long)] = {
    // independent spelling of the content-defined windows (plain
    // substring + fold over chars, not the codepoint kernel)
    val spans = docs.flatMap { case (id, t) =>
      if (t.length < Dedup.SpanLen) Nil
      else (0 to t.length - Dedup.SpanLen)
        .filter { i =>
          val h = t.substring(i + 1, i + Dedup.AnchorGram)
            .foldLeft(t.charAt(i).toLong)((h, c) => (h * 131L + c.toLong) % 2147483647L)
          h % Dedup.AnchorMod == 0L
        }
        .map(i => (id, t.substring(i, i + Dedup.SpanLen)))
    }
    val counts = spans.groupBy(_._2).view.mapValues(_.size).toMap
    spans.groupBy(_._1)
      .map { case (id, ss) =>
        id -> ((ss.size.toLong, ss.count(s => counts(s._2) > 1).toLong))
      }
      .filter(_._2._2 > 0)
  }

  for (seed <- Seq(3, 13)) {
    test(s"substring span dedup equals the naive all-window count (seed $seed)") {
      val docs = charCorpus(seed, 40)
      val got = Dedup.substringDupQuery(docs.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == naiveSubstringDups(docs))
    }
  }

  private def naiveContainment(docs: Seq[(Long, String)]): Map[(Long, Long), Long] = {
    val fsets = docs.map { case (id, t) => id -> NearDup.winnowSet(t).toSet }.toMap
    val df = fsets.values.flatten.toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val kept = fsets.view.mapValues(_.filter(fp => df(fp) <= NearDup.FpDfCap)).toMap
    val pairs = for {
      (a, fa) <- kept.toSeq; (b, fb) <- kept.toSeq
      if a < b
      shared = (fa intersect fb).size
      if shared * NearDup.ContainmentDenom >=
        math.min(fsets(a).size, fsets(b).size) * NearDup.ContainmentNumer
    } yield ((a, b), shared.toLong)
    pairs.toMap
  }

  test("containment join (with stop-fingerprint cap) equals the naive set intersection") {
    // the 7-word vocab makes common trigram fingerprints ubiquitous —
    // at n=60 some exceed FpDfCap, exercising the cap on BOTH sides
    val docs = corpus(17, 60)
    val got = NearDup.containmentQuery(docs.toDF("doc_id", "text")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == naiveContainment(docs))
  }

  test("winnow kernel matches the sliding-window-min + distinct spec") {
    val rnd = new Random(5)
    val texts = Seq.tabulate(50) { _ =>
      Seq.fill(3 + rnd.nextInt(40))(('a' + rnd.nextInt(4)).toChar).mkString
    } ++ Seq("", "ab", "a" * 7, "a" * 8)
    texts.foreach { t =>
      val h = MinHash.shingleHashes(t)
      val fps =
        if (h.length < NearDup.WinnowWindow) Seq(h.min)
        else h.sliding(NearDup.WinnowWindow).map(_.min).toSeq
      val distinct = fps.distinct
      val expected = (distinct.size,
        distinct.foldLeft(0L)((s, v) => (s + v) % MinHash.P))
      assert(NearDup.winnow(t) == expected, s"winnow mismatch for '$t'")
    }
  }

  test("signature kernel: Mersenne fold + shingle dedupe match the plain-mod multiset loop") {
    val rnd = new Random(11)
    def draw(n: Int, alphabet: IndexedSeq[String]): String =
      Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString
    val abc = IndexedSeq("a", "b", "c")
    val mixedCase = IndexedSeq("a", "b", "c", "A", "B", "C", "Q")
    val blanks = IndexedSeq("x", "y", " ", "\t", "\t\t", "\n", "\n\n\n", "\r\n", "\f")
    // BMP letters whose lower case differs in length or script, and
    // supplementary code points (surrogate pairs in the UTF-16 string)
    val unicode = IndexedSeq("é", "ß", "İ", "Σ", "ж", "中", "\u00A0", "\u2028",
      "😀", "𝔘", "𐐀", "🇩🇪", "a")
    val texts = Seq.tabulate(40)(_ => draw(1 + rnd.nextInt(60), abc)) ++
      Seq.tabulate(20)(_ => draw(1 + rnd.nextInt(60), mixedCase)) ++
      Seq.tabulate(20)(_ => draw(1 + rnd.nextInt(60), blanks)) ++
      Seq.tabulate(20)(_ => draw(1 + rnd.nextInt(60), unicode)) ++
      // 1-4 code points: the single-shingle branch, surrogate pairs included
      Seq.tabulate(40)(i => draw(1 + i % 4,
        if (i % 2 == 0) unicode.filter(u => u.codePointCount(0, u.length) == 1)
        else mixedCase)) ++
      // >= 2,000 chars: few distinct shingles among many repeats (short
      // alphabets), a near-full distinct set (26 letters), and repeated
      // phrases — table sizing, long probe runs and many loop passes
      Seq(draw(2000, IndexedSeq("a", "b")), draw(2500, abc), draw(3001, mixedCase),
        draw(2048, blanks), draw(2200, unicode),
        draw(4000, ('a' to 'z').map(_.toString)),
        "the cat sat on the mat. " * 120,
        ("Ab\t😀 " * 700).take(3556)) ++ // ends on a lone high surrogate
      Seq("", " ", "\t", "\n\n", "repeat repeat repeat repeat", "REPEAT repeat RePeAt")
    texts.foreach { t =>
      val naive = {
        val hashes = MinHash.shingleHashes(t)
        val sig = Array.fill(MinHash.NumPerm)(Long.MaxValue)
        for (h <- hashes; k <- 0 until MinHash.NumPerm) {
          val v = (MinHash.permA(k) * h + MinHash.permB(k)) % MinHash.P
          if (v < sig(k)) sig(k) = v
        }
        sig
      }
      assert(MinHash.signature(t).sameElements(naive), s"signature mismatch for '$t'")
    }
  }
}
