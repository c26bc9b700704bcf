package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{LangModel, Quality}

/** LM-transition scoring and DSIR weights: hand-computed goldens for the
  * bigram model, and a brute-force local recomputation for every
  * registered query over a mixed fixture (independent of the Spark
  * join/aggregation plumbing being tested). */
class LangModelSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")))

  /** `quality_lm_transition`'s rows, keyed by doc. */
  private def scoreRows(docs: DataFrame) =
    runRegistered(LangModel.queries("quality_lm_transition"), docs)
      .select("doc_id", "n_transitions", "sum_smoothed_bigram",
        "sum_smoothed_context", "transition_score")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map { case (id, a, b, c, d) => id -> ((a, b, c, d)) }.toMap

  /** The `quality_lm_buckets` rank over the hashed scores. */
  private def buckets(docs: DataFrame): DataFrame =
    LangModel.bucketsOf(LangModel.transitionScoreHashedQuery(docs), docs)

  /** The default-cascade target set the DSIR registrations memoize, at `cfg`. */
  private def passedIds(docs: DataFrame, cfg: Quality.Config): DataFrame =
    Quality.withReason(docs, cfg).filter(col("reason") === "passed").select("doc_id")

  /** The fixture's md5 context and bigram buckets are injective, so the
    * hashed model counts exactly what the word-keyed model counts. */
  private def assertInjective(vocab: Seq[String]): Unit = {
    assert(vocab.map(w => md5h32(w) % LangModel.LmCtxDim).distinct.size == vocab.size)
    val pairs = for (a <- vocab; b <- vocab) yield (a, b)
    assert(pairs.map { case (a, b) =>
      (md5h32(a) * 31L + md5h32(b)) % LangModel.LmBigDim
    }.distinct.size == pairs.size)
  }

  test("transition score: hand-computed add-one bigram golden") {
    // corpus bigrams: (a,b) x3, (b,a) x1; contexts a:3 b:1; V=2.
    assertInjective(Seq("a", "b"))
    val got = scoreRows(docsDF(Seq(1L -> "a b a b", 2L -> "a b", 3L -> "x")))
    // doc 3 has one token -> no transitions -> absent.
    assert(got.keySet == Set(1L, 2L))
    // doc1: 2*(3+1)+1*(1+1)=10 over 2*(3+2)+1*(1+2)=13.
    assert(got(1L) == ((3L, 10L, 13L, 10.0 / 13.0)))
    // doc2: (3+1)=4 over (3+2)=5.
    assert(got(2L) == ((1L, 4L, 5L, 4.0 / 5.0)))
  }

  private def words(t: String): Seq[String] =
    t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq

  /** Brute-force scores of `rows` under the model keyed by `key`: a
    * bigram's count is that of its key, a context's that of its context
    * key, and V counts the distinct context keys. */
  private def bruteScores[B, C](rows: Seq[(Long, String)],
      bigramKey: (String, String) => B, ctxKey: String => C) = {
    def bigrams(t: String) =
      words(t).sliding(2).filter(_.size == 2).map { case Seq(a, b) => (a, b) }.toSeq
    val corpus = rows.flatMap { case (_, t) => bigrams(t) }
    val big = corpus.groupBy { case (a, b) => bigramKey(a, b) }.map { case (k, v) => k -> v.size.toLong }
    val ctx = corpus.groupBy { case (a, _) => ctxKey(a) }.map { case (k, v) => k -> v.size.toLong }
    val v = ctx.size.toLong
    rows.flatMap { case (id, t) =>
      val bgs = bigrams(t)
      if (bgs.isEmpty) None
      else {
        val num = bgs.map { case (a, b) => big(bigramKey(a, b)) + 1L }.sum
        val den = bgs.map { case (a, _) => ctx(ctxKey(a)) + v }.sum
        Some(id -> ((bgs.size.toLong, num, den, num.toDouble / den.toDouble)))
      }
    }.toMap
  }

  test("transition score matches a local brute-force recomputation") {
    // the hashed model recomputed in plain Scala over md5 buckets; a
    // 300-word vocabulary, so collisions are whatever md5 gives
    val rnd = new scala.util.Random(7)
    val vocab = Vector.tabulate(300)(i => s"w$i")
    val rows = (1L to 60L).map { id =>
      id -> Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val want = bruteScores(rows,
      (a, b) => (md5h32(a) * 31L + md5h32(b)) % LangModel.LmBigDim,
      a => md5h32(a) % LangModel.LmCtxDim)
    assert(scoreRows(docsDF(rows)) == want)
  }

  private def md5h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  test("hashed lm-feature kernel equals an independent md5 recomputation") {
    val t = "The cat sat  on the cat mat\tthe cat"
    val ws = words(t)
    val want = ws.sliding(2).filter(_.size == 2).toSeq
      .map { case Seq(a, b) =>
        ((md5h32(a) % LangModel.LmCtxDim).toInt,
          ((md5h32(a) * 31L + md5h32(b)) % LangModel.LmBigDim).toInt) }
      .groupBy(identity).map { case (k, v) => (k._1, k._2, v.size.toLong) }
      .toSeq.sortBy(x => (x._1, x._2))
    assert(LangModel.lmBigramFeatCounts(t).toSeq == want)
    assert(LangModel.lmBigramFeatCounts("one").isEmpty)
    assert(LangModel.lmBigramFeatCounts("").isEmpty)
  }

  test("hashed transition score equals the exact model when the fixture's " +
      "hashes are injective (deterministic for fixed md5)") {
    // 8-word vocab: 8 contexts and <= 64 bigram types hashed into 2^18 /
    // 2^20 buckets — verify injectivity explicitly, then the hashed
    // registration and the word-keyed brute force must agree row-for-row
    // (same counts, same V).
    val rnd = new scala.util.Random(11)
    val vocab = Vector("the", "cat", "sat", "on", "mat", "dog", "ran", "zap")
    assertInjective(vocab)
    val rows = (1L to 30L).map { id =>
      id -> Seq.fill(1 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    assert(scoreRows(docsDF(rows)) == bruteScores(rows, (a, b) => (a, b), a => a))
  }

  test("in-row word type-count kernel equals an independent grouping, " +
      "both folds, incl. non-ASCII and non-BMP text") {
    val texts = Seq(
      "The the THE the", "a  b\t c\na b", "single", "", "  ", "x y x y x",
      "Mixed Case mixed case MIXED",
      "Größe GRÖSSE größe straße", // ß: Java ROOT lower keeps ß, upper is SS
      "𝐀 plane1 𝐀 text", // non-BMP math A, surrogate pair
      "tab\tsepvt\fff\rcr") // every ASCII \s class
    for (t <- texts; lower <- Seq(true, false)) {
      val words = (if (lower) t.toLowerCase(java.util.Locale.ROOT) else t)
        .split("\\s+").filter(_.nonEmpty).toSeq
      val want = words.groupBy(identity)
        .map { case (w, v) => (w, v.size.toLong) }.toSeq.sorted
      assert(LangModel.wordTypeCounts(t, lower).toSeq === want,
        s"text <$t> lower=$lower")
    }
  }

  test("WordCounts expression matches the explode+groupBy spelling it replaced") {
    val docs = docsDF(Seq(
      1L -> "The the THE the", 2L -> "a  b\t c\na b", 3L -> "", 4L -> "x y x",
      5L -> "Größe GRÖSSE über ÜBER", 6L -> "one-token"))
    for (lower <- Seq(true, false)) {
      val textCol = if (lower) "lower(text)" else "text"
      val old = docs
        .select(col("doc_id"),
          explode(expr(s"filter(split($textCol, '\\\\s+'), x -> x != '')")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
        .as[(Long, String, Long)].collect().sorted.toSeq
      val neu = docs
        .select(col("doc_id"), explode(graft.functions.WordCounts(col("text"), lower)).as("w"))
        .select(col("doc_id"), col("w.word"), col("w.n"))
        .as[(Long, String, Long)].collect().sorted.toSeq
      assert(neu === old, s"lower=$lower")
    }
  }

  test("dsir weights match a local brute-force recomputation over the passed set") {
    // realistic-ish sentences so SOME docs pass the cascade and some fail
    // (short docs fail word count; digit strings fail ratios). The fixture's
    // natural English runs awl ~4.07, below the engine-default sf-tuned band
    // [4.1, 4.9] — use the reference's wide band so the long docs pass while
    // the word-count default (25) still fails the two short docs.
    val cfg = Quality.Config(minAvgWordLen = 3.0, maxAvgWordLen = 15.0)
    val sentence = "the quick brown fox jumps over the lazy dog near the quiet river " +
      "and then rests under a tall green tree while birds sing softly above"
    val rows: Seq[(Long, String)] =
      (1L to 6L).map(id => id -> (sentence + " take " + id)) ++
        Seq(7L -> "tiny", 8L -> "12345 67890 11111 22222 33333")
    val docs = docsDF(rows)
    val passed = passedIds(docs, cfg).as[Long].collect().toSet
    assert(passed.nonEmpty && passed.size < rows.size,
      s"fixture should mix passing and failing docs, got $passed")
    val raw = rows.flatMap { case (_, t) => words(t) }
      .groupBy(identity).map { case (w, v) => w -> v.size.toLong }
    val tgt = rows.filter(r => passed(r._1)).flatMap { case (_, t) => words(t) }
      .groupBy(identity).map { case (w, v) => w -> v.size.toLong }
    val (tRaw, tTgt, v) = (raw.values.sum, tgt.values.sum, raw.size.toLong)
    val want = rows.map { case (id, t) =>
      val ws = words(t)
      val sumTgt = ws.map(w => tgt.getOrElse(w, 0L) + 1L).sum
      val sumRaw = ws.map(w => raw(w) + 1L).sum
      id -> ((ws.size.toLong, sumTgt, sumRaw,
        (sumTgt.toDouble * (tRaw + v).toDouble) / (sumRaw.toDouble * (tTgt + v).toDouble)))
    }.toMap
    val got = LangModel.dsirWeightsOver(docs, passedIds(docs, cfg))
      .select("doc_id", "n_tokens", "sum_tgt", "sum_raw", "dsir_weight")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map { case (id, a, b, c, d) => id -> ((a, b, c, d)) }.toMap
    assert(got == want)
    // passing docs weigh >= the digit-noise doc (direction sanity).
    assert(got(1L)._4 > got(8L)._4)
  }

  test("hashed-bigram dsir weights match a local brute-force recomputation") {
    val cfg = Quality.Config(minAvgWordLen = 3.0, maxAvgWordLen = 15.0)
    val sentence = "the quick brown fox jumps over the lazy dog near the quiet river " +
      "and then rests under a tall green tree while birds sing softly above"
    val rows: Seq[(Long, String)] =
      (1L to 6L).map(id => id -> (sentence + " take " + id)) ++
        Seq(7L -> "tiny", 8L -> "12345 67890 11111 22222 33333",
          // reordered paraphrase of doc 1: the SAME unigram multiset,
          // different bigrams — the property the feature space exists for.
          9L -> (sentence + " take 1").split(" ").reverse.mkString(" "))
    val docs = docsDF(rows)
    val passed = passedIds(docs, cfg).as[Long].collect().toSet
    assert(passed.nonEmpty && passed.size < rows.size)
    def feat(a: String, b: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest((a + " " + b).getBytes("UTF-8"))
        .take(4).map(b0 => f"${b0 & 0xFF}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % LangModel.DsirHashDim
    }
    def bigramFeats(t: String): Seq[Long] =
      words(t).sliding(2).filter(_.size == 2).map { case Seq(a, b) => feat(a, b) }.toSeq
    val raw = rows.flatMap { case (_, t) => bigramFeats(t) }
      .groupBy(identity).map { case (f, v) => f -> v.size.toLong }
    val tgt = rows.filter(r => passed(r._1)).flatMap { case (_, t) => bigramFeats(t) }
      .groupBy(identity).map { case (f, v) => f -> v.size.toLong }
    val (tRaw, tTgt, v) = (raw.values.sum, tgt.values.sum, raw.size.toLong)
    val want = rows.flatMap { case (id, t) =>
      val fs = bigramFeats(t)
      if (fs.isEmpty) None
      else {
        val sumTgt = fs.map(f => tgt.getOrElse(f, 0L) + 1L).sum
        val sumRaw = fs.map(f => raw(f) + 1L).sum
        Some(id -> ((fs.size.toLong, sumTgt, sumRaw,
          (sumTgt.toDouble * (tRaw + v).toDouble) / (sumRaw.toDouble * (tTgt + v).toDouble))))
      }
    }.toMap
    val got = LangModel.dsirBigramWeightsOver(docs, passedIds(docs, cfg))
      .select("doc_id", "n_bigrams", "sum_tgt", "sum_raw", "dsir_weight")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map { case (id, a, b, c, d) => id -> ((a, b, c, d)) }.toMap
    assert(got == want)
    // the reversed doc shares doc 1's unigram multiset but not its
    // bigrams, and the estimator sees that: its raw-side sufficient
    // statistic differs (doc 1's bigrams recur across docs 1-6; doc 9's
    // reversed ones are corpus-unique). The FINAL ratios can still
    // coincide — doc 9 passes the cascade, so the target set absorbs its
    // bigrams and both docs sit at the all-features-in-target constant —
    // which is itself correct DSIR behavior, so the order-sensitivity pin
    // is on the statistics, not the ratio. The unigram estimator is
    // provably blind here: identical integer sums, bit-identical row.
    assert(got(9L)._1 == got(1L)._1) // same bigram COUNT...
    assert(got(9L)._3 != got(1L)._3) // ...different raw-frequency mass
    val uni = LangModel.dsirWeightsOver(docs, passedIds(docs, cfg))
      .select("doc_id", "n_tokens", "sum_tgt", "sum_raw", "dsir_weight")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(uni(9L) == uni(1L))
  }

  test("perplexity buckets: per-language terciles ordered by score, 1-token docs out") {
    // two languages, 7 + 5 scoreable docs (plus one 1-token doc that must
    // drop out); repeated common phrases give high scores, digit noise low.
    val common = "the cat sat on the mat and the dog sat on the rug"
    val rows = (1L to 5L).map(id => (id, common + s" extra $id", "en")) ++
      Seq((6L, "zx qv jk wm pq rs tu", "en"), (7L, "09 83 61 47 25 13", "en"),
        (8L, "solo", "en")) ++
      (11L to 14L).map(id => (id, s"le chat dort sur le tapis $id", "fr")) ++
      Seq((15L, "99 88 77 66 55", "fr"))
    val docs = rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")))
    val got = buckets(docs)
      .select("doc_id", "lang", "transition_score", "ppl_bucket")
      .as[(Long, String, Double, String)].collect()
    // the 1-token doc has no transitions and is absent
    assert(!got.exists(_._1 == 8L))
    for (l <- Seq("en", "fr")) {
      val g = got.filter(_._2 == l)
      val sizes = g.groupBy(_._4).view.mapValues(_.size).toMap
      // ntile(3): bucket sizes differ by at most 1, head gets the extra
      assert(sizes.values.max - sizes.values.min <= 1, s"$l: $sizes")
      // bucket boundaries respect the score order: every head score >=
      // every middle score >= every tail score
      def scores(b: String) = g.filter(_._4 == b).map(_._3)
      assert(scores("head").min >= scores("middle").max, l)
      assert(scores("middle").min >= scores("tail").max, l)
    }
    // direction: digit noise lands in the tail of its language
    assert(got.find(_._1 == 7L).get._4 == "tail")
    assert(got.find(_._1 == 15L).get._4 == "tail")
  }

  test("perplexity buckets: distributed rank is row-identical to the " +
      "ntile window spelling on a skewed-language fixture") {
    // one language owns 90% of the docs — the shape the round-8 rewrite
    // exists for (a PARTITION BY lang window serializes it onto one task).
    // Scores collide freely (short texts from a tiny vocabulary) so the
    // doc_id tiebreak is genuinely load-bearing.
    val rnd = new scala.util.Random(13)
    val vocab = Vector("aa", "bb", "cc", "dd")
    val rows = (1L to 300L).map { id =>
      val lang = if (id <= 270) "en" else if (id <= 290) "fr" else "de"
      val t = Seq.fill(2 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (id, t, lang)
    }
    val docs = rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")))
    val scored = LangModel.transitionScoreHashedQuery(docs)
    // the pre-rewrite spelling, verbatim, as the semantic reference
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      .orderBy(col("transition_score").desc, col("doc_id"))
    val want = scored
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("b", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("transition_score"),
        when(col("b") === 1, "head").when(col("b") === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
      .as[(Long, String, Double, String)].collect().sortBy(_._1)
    val got = buckets(docs)
      .as[(Long, String, Double, String)].collect().sortBy(_._1)
    assert(got.length == want.length && got.sameElements(want))
    // every ntile group size pattern shows up: 270 = 3*90, 20 and 10 are
    // not divisible by 3 (so the extra-row-to-early-buckets arithmetic is
    // exercised, not just the even split)
    assert(Set(270, 20, 10) ==
      got.groupBy(_._2).view.mapValues(_.length).values.toSet)
  }

  test("perplexity buckets plan has NO window operator (the rank is " +
      "distributed, not a per-language funnel)") {
    val docs = docsDF(Seq(1L -> "a b a b", 2L -> "a b c", 3L -> "b a"))
    val plan = buckets(docs)
      .queryExecution.executedPlan
    val unwrapped = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    var windows = 0
    unwrapped.foreach {
      case _: org.apache.spark.sql.execution.window.WindowExec => windows += 1
      case _ => ()
    }
    assert(windows == 0, s"expected a window-free plan, found $windows WindowExec nodes")
  }

  test("lmScoreFold equals an independent occurrence-sum recomputation " +
      "against explicit hashed models") {
    val texts = Seq(
      "The cat sat on the cat mat\tthe cat",
      "a  b\nc a b", "one", "", "x y x y x")
    // independent model build over the fixture corpus (occurrence sums)
    val big = new Array[Long](LangModel.LmBigDim)
    val ctx = new Array[Long](LangModel.LmCtxDim)
    def hp(w: String) = (md5h32(w) % LangModel.LmCtxDim).toInt
    def hb(a: String, b: String) =
      ((md5h32(a) * 31L + md5h32(b)) % LangModel.LmBigDim).toInt
    val bigrams = texts.flatMap(t => words(t).sliding(2).filter(_.size == 2))
      .map { case Seq(a, b) => (a, b) }
    bigrams.foreach { case (a, b) => big(hb(a, b)) += 1L; ctx(hp(a)) += 1L }
    val v = ctx.count(_ != 0L).toLong
    texts.foreach { t =>
      val bgs = words(t).sliding(2).filter(_.size == 2)
        .map { case Seq(a, b) => (a, b) }.toSeq
      val got = LangModel.lmScoreFold(t, big, ctx, v)
      if (bgs.isEmpty) assert(got == null, s"text <$t>")
      else assert(got == ((bgs.size.toLong,
        bgs.map { case (a, b) => big(hb(a, b)) + 1L }.sum,
        bgs.map { case (a, _) => ctx(hp(a)) + v }.sum)), s"text <$t>")
    }
  }
}
