package graft

import graft.pipeline.{Bpe, WordEncoder}

/** Mirrors reference tests/test_pipeline.py:180-241 (TestTokenizer):
  * vocab bounded by target, encode yields ints, save/load round-trip —
  * plus exact golden assertions the reference can't make (its trainer is
  * a Rust black box; ours is deterministic). */
class BpeSpec extends SparkSpec {

  private val corpus = Map[String, Long](
    "low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  test("training learns deterministic merges; vocab bounded by target") {
    val m1 = Bpe.train(corpus, vocabSize = 30, minFreq = 1)
    val m2 = Bpe.train(corpus, vocabSize = 30, minFreq = 1)
    assert(m1 == m2)
    assert(m1.vocabSize <= 30)
    assert(m1.merges.nonEmpty)
    // classic Sennrich example: "est</w>" forms early from newest+widest
    assert(m1.vocab.keySet.contains("est</w>"))
  }

  test("encode emits known ids; frequent words compress to single tokens") {
    val m = Bpe.train(corpus, vocabSize = 40, minFreq = 1)
    val ids = m.encode("newest widest")
    assert(ids.nonEmpty)
    // with a 40-target vocab both full words are learned symbols
    assert(m.encodeWord("newest").length == 1)
    assert(ids.forall(i => i >= 0 && i < m.vocabSize))
  }

  test("unknown characters map to <unk>") {
    val m = Bpe.train(corpus, vocabSize = 30, minFreq = 1)
    val ids = m.encodeWord("zzz")
    // the 'z' symbols are unknown; the trailing </w> is a base vocab symbol
    assert(ids.init.forall(_ == Bpe.UnkId))
    assert(ids.last == m.vocab(Bpe.EndOfWord))
  }

  test("decode inverts encode for in-vocab text") {
    val m = Bpe.train(corpus, vocabSize = 40, minFreq = 1)
    assert(m.decode(m.encode("newest low").toSeq) == "newest low")
  }

  test("JSON save/load preserves the model exactly") {
    val m = Bpe.train(corpus, vocabSize = 30, minFreq = 1)
    val path = java.nio.file.Files.createTempFile("bpe", ".json").toString
    Bpe.save(m, path)
    val loaded = Bpe.load(path)
    assert(loaded == m)
    assert(loaded.encode("newest").sameElements(m.encode("newest")))
  }

  test("trainOn aggregates word frequencies distributed") {
    import spark.implicits._
    val docs = Seq((1L, "spark spark flink spark"), (2L, "flink beam"))
      .toDF("doc_id", "text")
    val freqs = Bpe.wordFrequencies(docs)
    assert(freqs == Map("spark" -> 3L, "flink" -> 2L, "beam" -> 1L))
    val m = WordEncoder.train("bpe", Bpe.wordFrequenciesWithCoverage(docs), vocabSize = 32)
    assert(m.vocabSize <= 32)
  }

  test("lexicon coverage quantifies the truncation bound exactly") {
    import spark.implicits._
    val docs = Seq((1L, "spark spark flink spark"), (2L, "flink beam"))
      .toDF("doc_id", "text")
    // pair mass per occurrence = length(word) (chars-1 adjacencies + EOW)
    val full = Bpe.wordFrequenciesWithCoverage(docs)
    assert(full.totalPairMass == 3 * 5 + 2 * 5 + 1 * 4) // spark/flink/beam
    assert(full.droppedPairMass == 0)
    // cap at 1: highest-frequency word kept, the bound counts the rest
    val capped = Bpe.wordFrequenciesWithCoverage(docs, maxLexicon = 1)
    assert(capped.lexicon == Map("spark" -> 3L))
    assert(capped.keptPairMass == 15 && capped.droppedPairMass == 14)
  }

  test("coverage masses agree in code points when kept words hold supplementary chars") {
    import spark.implicits._
    // "😀😀" = 2 code points but 4 UTF-16 units; counting the kept side in
    // UTF-16 once made droppedPairMass negative.
    val docs = Seq((1L, "😀😀 😀😀 aa"))
      .toDF("doc_id", "text")
    val capped = Bpe.wordFrequenciesWithCoverage(docs, maxLexicon = 1)
    assert(capped.lexicon.keySet == Set("😀😀"))
    assert(capped.totalPairMass == 2 * 2 + 1 * 2)
    assert(capped.keptPairMass == 4)
    assert(capped.droppedPairMass == 2)
  }

  test("an uncapped lexicon starts no total-mass job; at the cap the mass is still exact") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // Both counted calls share one cap, so their plans differ only in the data.
    val twoWords = Seq((1L, "delta delta omega delta"), (2L, "omega")).toDF("doc_id", "text")
    val threeWords = Seq((1L, "delta delta omega delta"), (2L, "omega sigma"))
      .toDF("doc_id", "text")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    def tagged[A](tag: String)(body: => A): A = {
      spark.sparkContext.setJobDescription(tag)
      try graft.CacheScope.within(body) finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    val (uncapped, atCap) = try {
      val u = tagged("uncapped")(Bpe.wordFrequenciesWithCoverage(twoWords, maxLexicon = 3))
      // three distinct words: the collect fills the cap exactly
      val a = tagged("at-cap")(Bpe.wordFrequenciesWithCoverage(threeWords, maxLexicon = 3))
      // the bus delivers in order: once the marker job has arrived, every
      // job the calls started has too
      tagged("marker")(spark.range(1).count())
      val deadline = System.currentTimeMillis() + 10000L
      while (!jobs.contains("marker") && System.currentTimeMillis() < deadline) Thread.sleep(20)
      (u, a)
    } finally spark.sparkContext.removeSparkListener(listener)
    val n = jobs.asScala.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(n.getOrElse("uncapped", 0) >= 1)
    // at the cap the total-mass aggregation runs: its shuffle stage and
    // result are two more jobs under AQE
    assert(n.getOrElse("at-cap", 0) > n("uncapped"), s"jobs per call: $n")
    assert(uncapped == Bpe.LexiconCoverage(Map("delta" -> 3L, "omega" -> 2L), 25L, 25L))
    val all = Map("delta" -> 3L, "omega" -> 2L, "sigma" -> 1L)
    assert(atCap == Bpe.LexiconCoverage(all, 30L, 30L))
    assert(Bpe.wordFrequenciesWithCoverage(threeWords) == Bpe.LexiconCoverage(all, 30L, 30L))
    assert(Bpe.wordFrequenciesWithCoverage(threeWords, maxLexicon = 1) ==
      Bpe.LexiconCoverage(Map("delta" -> 3L), 15L, 30L))
  }

  test("the lexicon releases its frequency frame on return, even outside any scope") {
    import spark.implicits._
    val docs = Seq((1L, "kappa kappa lambda"), (2L, "lambda mu")).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert(Bpe.wordFrequencies(docs) == Map("kappa" -> 2L, "lambda" -> 2L, "mu" -> 1L))
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"cached after the call: $left")
  }
}
