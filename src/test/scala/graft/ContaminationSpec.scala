package graft

import graft.pipeline.{Contamination, Grams}
import org.apache.spark.sql.DataFrame

/** Goldens for benchmark n-gram decontamination, run through the
  * registered `decontaminate_*` closures. */
class ContaminationSpec extends SparkSpec {
  import spark.implicits._

  private def registered(name: String, docs: DataFrame): DataFrame =
    runRegistered(Contamination.queries(name), docs)

  test("training docs sharing a 5-gram with a benchmark doc are flagged") {
    val bench = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      1L -> bench, // benchmark (id < 10)
      // shares "alpha beta gamma delta epsilon" + "beta gamma delta epsilon zeta"
      20L -> ("prefix " + bench),
      // shares nothing 5 words long
      21L -> "alpha beta gamma NOPE delta epsilon zeta",
      // too short for any 5-gram
      22L -> "alpha beta").toDF("doc_id", "text")
    val m = registered("decontaminate_flags", docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(20L -> 2L))
  }

  test("fuzzy decontamination: a paraphrase with NO shared 5-gram is " +
      "caught by trigram jaccard; a stray shared phrase is below threshold") {
    // benchmark item, and a paraphrase with every 4th word changed: no 5
    // consecutive words survive (the exact tier is provably blind) but
    // the unedited trigram windows do (the fuzzy tier fires).
    val bench = "the quick brown fox jumps over the lazy dog near a misty river bank today " +
      "while seven wizards brew quartz potions under pale winter light"
    val words = bench.split(" ")
    val edited = words.zipWithIndex
      .map { case (w, i) => if (i % 4 == 3) w + "ish" else w }.mkString(" ")
    val docs = Seq(
      1L -> bench,
      20L -> edited,
      // shares exactly the one 3-word phrase -> present, below threshold
      21L -> ("unrelated report about tax season filings mentioning quartz potions under " +
        "regulations and many other unrelated administrative things all around"),
      22L -> "completely different text about oranges apples and long cold evenings"
    ).toDF("doc_id", "text")
    // exact tier: every 5-gram window of the paraphrase contains an edit
    assert(registered("decontaminate_flags", docs).collect().map(_.getLong(0)).toSet
      === Set.empty[Long])
    val fuzzy = registered("decontaminate_fuzzy", docs).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(fuzzy.keySet === Set(20L, 21L)) // doc 22 shares no trigram at all
    // local brute-force jaccard over distinct lowercased trigrams
    def tris(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    def jac(a: String, b: String) = {
      val (x, y) = (tris(a), tris(b))
      (x & y).size.toDouble / (x | y).size.toDouble
    }
    assert(fuzzy(20L)._1 === jac(bench, edited))
    assert(fuzzy(20L)._2, s"paraphrase should clear the threshold: ${fuzzy(20L)._1}")
    assert(!fuzzy(21L)._2, s"one stray phrase should not: ${fuzzy(21L)._1}")
  }

  test("attribution: argmax bench doc; bit-equal ties break to the smaller bench id") {
    val itemA = "the quick brown fox jumps over the lazy dog near a misty river bank today " +
      "while seven wizards brew quartz potions under pale winter light"
    val itemB = "completely different benchmark text about citrus orchards and long cold " +
      "evenings in provincial towns with quiet rivers"
    val docs = Seq(
      1L -> itemA,
      2L -> itemB,
      3L -> itemA, // bit-identical bench duplicate of item 1 -> guaranteed tie
      20L -> (itemA + " with a small appended remark"), // closer to A than B
      21L -> itemB
    ).toDF("doc_id", "text")
    val att = registered("decontaminate_attribution", docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    // doc 20's best match is item A; items 1 and 3 are identical so the
    // Jaccard ties bit-for-bit and the smaller bench id must win.
    assert(att(20L)._1 === 1L)
    assert(att(20L)._3)
    assert(att(21L)._1 === 2L)
    // attribution agrees with the scalar fuzzy tier on (doc, max_jaccard)
    val fuzzy = registered("decontaminate_fuzzy", docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(att.view.mapValues(_._2).toMap === fuzzy)
  }

  test("fuzzy tier: a pair sharing ONLY a stop trigram (df > FuzzyDfCap) " +
      "is never a candidate; a rare shared trigram still nominates, and " +
      "the stop trigram then counts in the exact jaccard") {
    // "common phrase here" appears in 61 docs -> df 61 > FuzzyDfCap(50):
    // the 59 train docs sharing nothing else with the bench produce NO
    // candidate pair (the old arrays_overlap plan paid an
    // array_intersect for every one of them).
    val bench = "common phrase here zeta quartz potion"
    val stopOnly = (20L until 79L).map(i =>
      i -> s"common phrase here unique$i word$i tail$i")
    // doc 80 additionally shares the rare "zeta quartz potion" chain.
    val rare = 80L -> "common phrase here zeta quartz potion trailing extra words"
    val docs = ((1L -> bench) +: stopOnly :+ rare).toDF("doc_id", "text")
    val out = registered("decontaminate_fuzzy", docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet === Set(80L))
    // exact jaccard includes the stop trigram in the intersection
    def tris(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val (x, y) = (tris(bench), tris(rare._2))
    assert(out(80L) === (x & y).size.toDouble / (x | y).size.toDouble)
  }

  test("fuzzy tier scale probe: 1k-doc bench, candidates << corpus x bench " +
      "when every pair shares a stop trigram") {
    import org.apache.spark.sql.functions.col
    val nBench = 1000
    val nTrain = 2000
    // every doc opens with the same boilerplate (df = 3000 > cap); each
    // train doc i shares one unique phrase with bench doc (i % nBench).
    val benchDocs = (0L until nBench).map(i =>
      i -> s"shared boiler plate opening pair$i token$i link$i")
    val trainDocs = (0L until nTrain).map { j =>
      val b = j % nBench
      (nBench + j) -> s"shared boiler plate opening pair$b token$b link$b own$j word$j"
    }
    val docs = (benchDocs ++ trainDocs).toDF("doc_id", "text")
    // the registered tier's index build, at this bench size
    val tri = Grams.triFrame(docs)
    val ix = Contamination.buildFuzzyIndex(tri, nBench)
    val train = tri.filter(col("doc_id") >= nBench)
      .select("doc_id", "ga").as[(Long, Seq[String])].collect()
    // candidates = bench docs on a rare (df-capped) trigram's posting list
    val cand = train.flatMap { case (d, ga) =>
      ga.flatMap(g => Option(ix.gramId.get(g)))
        .flatMap(id => Option(ix.rarePostings(id.intValue())).toSeq.flatten)
        .distinct.map(b => (d, ix.benchDocIds(b)))
    }
    // exactly one bench partner per train doc: the df-capped index
    // nominated 2k pairs, not the 2M (train x bench) the stop trigrams
    // would have produced.
    assert(cand.length === nTrain)
    assert(cand.toMap.forall { case (d, b) => b === (d - nBench) % nBench })
    val probe = new Contamination.FuzzyProbe(ix)
    assert(train.count { case (_, ga) => probe.bestMatch(ga).isDefined } === nTrain)
  }

  test("fuzzy df cap: floor of 50 below 50k docs, 0.1% of the corpus above " +
      "(a fixed cap declared every trigram a stop-gram on replicated corpora)") {
    assert(Contamination.fuzzyDfCap(5000L) === 50L)
    assert(Contamination.fuzzyDfCap(49999L) === 50L)
    assert(Contamination.fuzzyDfCap(510000L) === 510L)
    assert(Contamination.fuzzyDfCap(10000000L) === 10000L)
  }

  test("repeated grams inside one doc count once (distinct per doc)") {
    val g = "a b c d e"
    val docs = Seq(1L -> g, 30L -> (g + " " + g)).toDF("doc_id", "text")
    // doc 30's words: a b c d e a b c d e -> the gram "a b c d e" occurs
    // at positions 1 and 6 but counts once; the bridging grams
    // (e.g. "d e a b c") are not in the benchmark.
    val m = registered("decontaminate_flags", docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(30L -> 1L))
  }

  test("exact-tier kernel probe matches the retired explode+broadcast-join " +
      "spelling (flags AND overlap, messy whitespace, threshold edges)") {
    import org.apache.spark.sql.functions._
    val bench1 = "alpha beta gamma delta epsilon zeta"
    val bench2 = "one two three four five six seven"
    val docs = Seq(
      0L -> bench1, 1L -> bench2, // benchmark (id < 10)
      20L -> ("prefix " + bench1), // 2 shared grams of 3
      21L -> "alpha beta gamma NOPE delta epsilon zeta", // 0 shared
      22L -> "alpha beta", // too short for any gram
      23L -> (bench1 + " " + bench2 + " tail words here"), // many shared
      24L -> "  one\ttwo  three\nfour five   six unshared ", // ws mess
      25L -> (bench2 + " " + bench2)) // repeated grams count once
      .toDF("doc_id", "text")
    // the retired relational spelling, recomputed independently
    val withGrams = docs.select(col("doc_id"),
        expr("filter(split(text, '\\\\s+'), x -> x != '')").as("w"))
      .select(col("doc_id"),
        explode(expr(Contamination.gramsExpr(Contamination.GramN))).as("gram"))
    val benchGrams = withGrams
      .filter(col("doc_id") < Contamination.BenchmarkDocs)
      .select(col("gram")).distinct()
    val train = withGrams.filter(col("doc_id") >= Contamination.BenchmarkDocs)
    val wantOverlap = train.join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .join(train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams")), "doc_id")
      .select(col("doc_id"), col("n_shared"), col("n_grams"),
        (col("n_shared").cast("double") / col("n_grams").cast("double"))
          .as("overlap_fraction"),
        (col("n_shared").cast("double") / col("n_grams").cast("double")
          >= Contamination.OverlapThreshold).as("substantial"))
      .as[(Long, Long, Long, Double, Boolean)].collect().sorted.toSeq
    val gotOverlap = registered("decontaminate_overlap", docs)
      .as[(Long, Long, Long, Double, Boolean)].collect().sorted.toSeq
    assert(gotOverlap === wantOverlap)
    val gotFlags = registered("decontaminate_flags", docs)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(gotFlags === wantOverlap.map { case (id, s, _, _, _) => (id, s) })
  }
}
