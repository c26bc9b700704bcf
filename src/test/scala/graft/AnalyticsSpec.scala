package graft

import graft.pipeline.Analytics

/** Readability metric goldens (the aggregate analytics queries are
  * oracle-arbitrated; this pins the per-doc counting semantics). */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("flesch: hand-computed counts and score") {
    // sentences: '.', '!' runs = 2; words = 6;
    // vowel groups: Th[e] c[a]t s[a]t Th[e] d[o]g r[a]n = 6
    val d = docs(1L -> "The cat sat. The dog ran!")
    val r = Analytics.readabilityQuery(d).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((2L, 6L, 6L)))
    assert(r.getDouble(4) === 206.835 - 1.015 * 3.0 - 84.6 * 1.0)
  }

  test("char diversity: hand-computed collision sums; empty docs drop; non-BMP counts as one") {
    val d = docs(
      1L -> "aaab",      // runs a:3 b:1 → sq 9+1=10, N=4, distinct 2
      2L -> "xxxx",      // degenerate: collision 1, effective alphabet 1
      3L -> "",          // filtered out
      4L -> "a😀😀")     // code points: a,😀,😀 → N=3, sq 1+4=5
    val rows = Analytics.charDiversityQuery(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!rows.contains(3L))
    assert((rows(1L).getLong(1), rows(1L).getLong(2), rows(1L).getLong(3)) === ((4L, 2L, 10L)))
    assert(rows(1L).getAs[Double]("collision_prob") === 10.0 / 16.0)
    assert(rows(1L).getAs[Double]("effective_alphabet") === 16.0 / 10.0)
    assert(rows(2L).getAs[Double]("collision_prob") === 1.0)
    assert(rows(2L).getAs[Double]("effective_alphabet") === 1.0)
    assert((rows(4L).getLong(1), rows(4L).getLong(2), rows(4L).getLong(3)) === ((3L, 2L, 5L)))
  }

  test("word diversity: ttr and effective vocab; lowercased; whitespace-only docs drop") {
    val d = docs(
      1L -> "The the THE cat",  // words: the x3, cat x1 → sq 9+1=10
      2L -> "   \n\t ")         // no words → dropped
    val rows = Analytics.wordDiversityQuery(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!rows.contains(2L))
    assert((rows(1L).getLong(1), rows(1L).getLong(2), rows(1L).getLong(3)) === ((4L, 2L, 10L)))
    assert(rows(1L).getAs[Double]("ttr") === 2.0 / 4.0)
    assert(rows(1L).getAs[Double]("effective_vocab") === 16.0 / 10.0)
  }

  test("script stats: per-block counts and latin fraction on mixed-script docs") {
    val d = Seq(
      (1L, "en", "Hello World 123"),
      (2L, "ru", "Привет мир abc"),
      (3L, "ja", "こんにちは世界"),
      (4L, "xx", "")).toDF("doc_id", "lang", "text")
    val rows = Analytics.scriptStatsQuery(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: 10 latin letters, 3 digits, 15 chars
    assert(rows(1L).getLong(2) === 15L)
    assert(rows(1L).getAs[Long]("n_latin") === 10L)
    assert(rows(1L).getAs[Long]("n_digit") === 3L)
    assert(rows(1L).getAs[Long]("n_cyrillic") === 0L)
    assert(rows(1L).getAs[Double]("latin_frac") === 10.0 / 15.0)
    // doc 2: cyrillic 9 (Привет=6, мир=3), latin 3
    assert(rows(2L).getAs[Long]("n_cyrillic") === 9L)
    assert(rows(2L).getAs[Long]("n_latin") === 3L)
    // doc 3: kana こんにちは = 5, ideographs 世界 = 2 — both in the cjk class
    assert(rows(3L).getAs[Long]("n_cjk") === 7L)
    assert(rows(3L).getAs[Long]("n_latin") === 0L)
    // empty text: zero counts, NULL fraction
    assert(rows(4L).getLong(2) === 0L)
    assert(rows(4L).isNullAt(rows(4L).fieldIndex("latin_frac")))
  }

  test("source overlap: vocabulary jaccard over lowercased words, empty intersections absent") {
    val d = Seq(
      (1L, "A", "a b c"),
      (2L, "A", "B c"), // 'B' lowercases into b — vocab(A) stays {a,b,c}
      (3L, "B", "b c d"),
      (4L, "C", "zz")).toDF("doc_id", "source", "text")
    val rows = Analytics.sourceOverlapQuery(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(rows.keySet === Set(("A", "B")))
    assert(rows(("A", "B")) === ((3L, 3L, 2L, 2.0 / 4.0)))
  }

  test("flesch: ellipsis is ONE run; unterminated prose = 1 sentence; blank drops") {
    val d = docs(
      1L -> "wait... what?", // runs: '...' and '?' = 2 sentences
      2L -> "no terminal punctuation here", // fallback: 1 sentence
      3L -> "   ")
    val m = Analytics.readabilityQuery(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(1L -> 2L, 2L -> 1L))
  }

  test("corpus novelty: first occurrence in doc-id order wins; a later copy scores 0") {
    val original = "alpha beta gamma delta epsilon"
    val docs = Seq(
      10L -> original, // all 3 trigrams first seen here
      20L -> original, // exact later copy: 0 novel
      // shares "beta gamma delta" + "gamma delta epsilon"? words:
      // beta gamma delta zeta -> trigrams: "beta gamma delta",
      // "gamma delta zeta" — first is seen in doc 10, second is new
      30L -> "beta gamma delta zeta",
      40L -> "one two") // < 3 words: no trigrams, absent from output
    val d = docs.toDF("doc_id", "text")
    val got = runRegistered(Analytics.queries("corpus_novelty"), d)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (10L, 3L, 3L, 1.0),
      (20L, 3L, 0L, 0.0),
      (30L, 2L, 1L, 0.5)))
  }
}
