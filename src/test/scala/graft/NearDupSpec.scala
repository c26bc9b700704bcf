package graft

import graft.pipeline.{Grams, NearDup}
import graft.relational.Similarity

/** SimHash, n-gram Jaccard, winnowing fingerprints, embedding near-dup. */
class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private val longA =
    "the quick brown fox jumps over the lazy dog while the sun sets slowly " +
      "behind the distant mountains and the river flows quietly through the valley"
  private val longB = longA.replace("jumps", "leaps")
  private val other =
    "completely different content about databases indexes partitions shuffles " +
      "aggregations joins windows and the rest of the relational algebra zoo"

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("simhash: identical and near-identical docs attribute to lowest id") {
    val dup = NearDup.simhashDuplicateOf(docs(1L -> longA, 2L -> longA, 3L -> longB, 4L -> other))
      .as[(Long, Long)].collect().toSet
    assert(dup.contains((2L, 1L)))
    assert(dup.contains((3L, 1L))) // one-word edit flips < 4 of 32 bits
    assert(!dup.exists(_._1 == 4L))
  }

  test("simhash is deterministic and order-of-magnitude separated") {
    assert(NearDup.simHash(longA) == NearDup.simHash(longA))
    val d = java.lang.Long.bitCount(NearDup.simHash(longA) ^ NearDup.simHash(other))
    assert(d > NearDup.MaxHamming)
  }

  test("trigram jaccard: near-dup detected, distinct kept, short docs never join") {
    val dup = NearDup.jaccardOverGrams(Grams.triFrame(
        docs(1L -> longA, 2L -> longB, 3L -> other, 4L -> "two words")), NearDup.PostingChunkLen)
      .as[(Long, Long)].collect().toSet
    assert(dup == Set((2L, 1L)))
  }

  test("trigram jaccard: identical copies and near variants attribute to the cluster min") {
    val d = docs(1L -> longA, 2L -> longB, 3L -> other, 4L -> "two words",
      5L -> longA, 6L -> (longA + " extra trailing words here"))
    val got = NearDup.jaccardOverGrams(Grams.triFrame(d), NearDup.PostingChunkLen).as[(Long, Long)].collect().toSet
    assert(got.contains((5L, 1L))) // exact copy collapses pre-kernel
    assert(got.contains((2L, 1L))) // near variant via the min-partner kernel
    assert(!got.exists(_._1 == 3L) && !got.exists(_._1 == 4L))
  }

  test("containment: a doc quoted inside a much larger doc is flagged; doc-level jaccard misses it") {
    val small = "the quick brown fox jumps over the lazy dog while seven wizards brew quartz potions " * 3
    val filler = (1 to 12).map(i => s"unrelated filler sentence number $i about completely different topics entirely").mkString(" ")
    val big = filler + " " + small
    val other = "this third document shares no phrasing with either of the previous two at all"
    val d = docs(1L -> big, 2L -> small, 3L -> other)
    val pairs = NearDup.containmentQuery(d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pairs.keySet === Set((1L, 2L)))
    assert(pairs((1L, 2L)) > 0.8) // nearly all of the smaller sketch is shared
    val jac = NearDup.jaccardOverGrams(Grams.triFrame(d), NearDup.PostingChunkLen).collect()
    assert(jac.isEmpty) // containment is invisible to symmetric doc-level jaccard
  }

  test("fingerprints: deterministic scalars, identical docs agree, distinct differ") {
    val fp = NearDup.fingerprintQuery(docs(1L -> longA, 2L -> longA, 3L -> other))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    assert(fp(1L)._1 > 0)
  }

  test("embedding near-dup: planted near-identical vectors detected, others kept") {
    val base = Array.tabulate(Similarity.Dim)(i => math.sin(i + 1).toFloat)
    val nearDup = base.clone(); nearDup(0) = base(0) + 0.001f
    val far = Array.tabulate(Similarity.Dim)(i => math.cos(3 * i + 2).toFloat)
    val emb = Seq((10L, base, 0), (20L, nearDup, 0), (30L, far, 1))
      .toDF("vec_id", "embedding", "label")
    val dup = Similarity.embedDedup(emb).as[(Long, Long)].collect().toSet
    assert(dup == Set((20L, 10L)))
  }

  test("multi-probe embed dedup finds a pair split by one sign flip; exact blocking misses it") {
    // Construct a near-dup pair straddling plane 0: w has zero projection
    // on plane 0, v± = w ± delta * plane0 land in buckets differing in
    // exactly bit 0 while agreeing on every other plane's (nonzero) sign.
    val p0 = Similarity.planes(0)
    val ones = Array.fill(Similarity.Dim)(1.0)
    val s0 = p0.sum // p0 . ones
    val w = Array.tabulate(Similarity.Dim)(i => ones(i) - s0 / Similarity.Dim * p0(i))
    // precondition: every OTHER plane projects w away from its boundary
    (1 until Similarity.NumPlanes).foreach { k =>
      val pk = Similarity.planes(k)
      val proj = pk.zip(w).map { case (a, b) => a * b }.sum
      assert(math.abs(proj) > 1.0, s"plane $k too close to boundary: $proj")
    }
    val delta = 0.01
    val vPlus = Array.tabulate(Similarity.Dim)(i => (w(i) + delta * p0(i)).toFloat)
    val vMinus = Array.tabulate(Similarity.Dim)(i => (w(i) - delta * p0(i)).toFloat)
    val far = Array.tabulate(Similarity.Dim)(i => math.cos(5 * i + 1).toFloat)
    val emb = Seq((10L, vPlus, 0), (11L, vMinus, 0), (12L, far, 1))
      .toDF("vec_id", "embedding", "label")
    val exact = Similarity.embedDedup(emb).as[(Long, Long)].collect().toSet
    val mp = Similarity.embedDedupMultiProbe(emb).as[(Long, Long)].collect().toSet
    assert(exact === Set.empty, s"exact blocking unexpectedly caught $exact")
    assert(mp === Set((11L, 10L)))
  }

  test("semdedup: near-dups meet in their learned cell; distinct vectors kept") {
    // codebook ids [NumQueries, NumQueries + NumCells) = integer-frequency
    // sinusoids: distinct frequencies are near-orthogonal over 64 samples,
    // so cells are well separated and no centroid pair crosses the bar.
    def wave(freq: Int) =
      Array.tabulate(Similarity.Dim)(i => math.sin(freq * (i + 1.0)).toFloat)
    val a = wave(1) // cell-5 anchor = cluster A
    val cents = (Similarity.NumQueries until Similarity.NumQueries + Similarity.NumCells)
      .map(id => (id.toLong, wave(id - Similarity.NumQueries + 1), 0))
    val nearDup = a.clone(); nearDup(0) = a(0) + 0.001f
    val rows = cents ++ Seq(
      (100L, a.map(v => v + 0.0002f), 0), // lands in cell 5
      (101L, nearDup.map(v => v + 0.0002f), 0), // near-dup of 100, same cell
      (102L, wave(40), 1), // no centroid near: cosine ~0 to all -> kept
      (103L, a.map(v => v + 0.0002f), 0)) // byte-identical to 100
    val emb = rows.toDF("vec_id", "embedding", "label")
    val dup = Similarity.semDedup(emb).as[(Long, Long)].collect().toSet
    // cell A holds {5, 100, 101, 103}, all pairwise cosine ~1 -> everyone
    // attributes to the lowest id, the anchor 5; nothing else pairs up.
    assert(dup == Set((100L, 5L), (101L, 5L), (103L, 5L)))
  }

  test("hybrid retrieval: equal cosine resolves by the document prior (longer doc wins)") {
    val q = Array.tabulate(Similarity.Dim)(i => math.sin(i + 1).toFloat)
    val v = q.map(x => x * 0.5f) // same direction as q: cosine = 1 for both copies
    val far = Array.tabulate(Similarity.Dim)(i => math.cos(3 * i + 2).toFloat)
    val emb = Seq((0L, q, 0), (10L, v, 0), (11L, v.clone(), 0), (12L, far, 1))
      .toDF("vec_id", "embedding", "label")
    val docs = Seq((0L, 500L), (10L, 100L), (11L, 2000L), (12L, 2000L))
      .toDF("doc_id", "n_chars")
    val top = Similarity.hybridTopK(emb, docs, k = 3).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getInt(1))
      .map(r => (r.getLong(2), r.getDouble(3)))
    // 11 beats 10 on the length prior despite identical cosine and larger
    // id; 12's high prior cannot rescue its low cosine
    assert(top.map(_._1).toSeq == Seq(11L, 10L, 12L))
    assert(top(0)._2 > top(1)._2 && top(1)._2 > top(2)._2)
  }

  test("IVF-PQ: partition-independent results, adc ascending, copy of query ranks by its codes") {
    val rnd = new scala.util.Random(11)
    def around(center: Double) =
      Array.tabulate(Similarity.Dim)(i =>
        (math.sin(center * (i + 1)) + rnd.nextGaussian() * 0.01).toFloat)
    val rows = (0L until 40L).map { id =>
      val inA = id < Similarity.NumQueries || id % 2 == 0
      (id, around(if (inA) 1.0 else 9.0), if (inA) 0 else 1)
    }
    val q0 = rows.head._2
    val planted = rows.updated(25, (25L, q0.clone(), 0)) // byte-identical to query 0
    val emb = planted.toDF("vec_id", "embedding", "label")
    val r1 = Similarity.ivfPqTopK(emb).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sortBy(x => (x._1, x._2))
    val r2 = Similarity.ivfPqTopK(emb.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sortBy(x => (x._1, x._2))
    assert(r1 === r2) // pure function of the input SET
    r1.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.sortBy(_._2).map(_._4).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
    // the byte-identical copy shares query 0's codes -> its ADC is the
    // self-distance, the minimum over the probed cells; nothing with a
    // lower id shares those codes in this construction, so it ranks 1st
    val top0 = r1.filter(t => t._1 == 0L && t._2 == 1).head
    assert(top0._3 == 25L)
  }

  test("IVF top-k: a planted near neighbor lands in the query's probed cell and ranks first") {
    val rnd = new scala.util.Random(3)
    // two well-separated clusters; queries (vec_id < NumQueries) and their
    // planted neighbors live in cluster A, centroid sample ids cover both
    def around(center: Double, amp: Double) =
      Array.tabulate(Similarity.Dim)(i =>
        (math.sin(center * (i + 1)) + amp * rnd.nextGaussian() * 0.01).toFloat)
    val rows = (0L until 40L).map { id =>
      val inA = id < Similarity.NumQueries || id % 2 == 0
      (id, around(if (inA) 1.0 else 9.0, 1.0), if (inA) 0 else 1)
    }
    // plant a same-scale near-copy of query 0 (a SCALED copy would land in
    // a different L2 cell — the quantizer is L2, the metric cosine)
    val q0 = rows.head._2
    val planted = rows.updated(25, (25L, q0.map(v => v + 0.0005f), 0))
    val emb = planted.toDF("vec_id", "embedding", "label")
    val top = Similarity.ivfTopK(emb)
      .filter($"q_id" === 0 && $"rn" === 1)
      .select("vec_id", "sim").as[(Long, Double)].collect()
    assert(top.length == 1)
    assert(top.head._1 == 25L, s"expected planted neighbor, got ${top.head}")
    assert(top.head._2 > 0.999)
  }
}
