package graft

import graft.pipeline.{Bpe, Unigram, WordEncoder}

/** Unigram-LM tokenizer (third T1 algorithm option). */
class UnigramSpec extends SparkSpec {

  private val corpus = Map[String, Long](
    "internationalization" -> 4L, "international" -> 6L,
    "nation" -> 9L, "nationalization" -> 3L, "intern" -> 2L)

  test("training is deterministic and hits the vocab target") {
    val m1 = Unigram.train(corpus, vocabSize = 40)
    val m2 = Unigram.train(corpus, vocabSize = 40)
    assert(m1 == m2)
    assert(m1.vocabSize <= 40 + 4) // chars can outnumber a tiny target
    assert(m1.vocab.nonEmpty)
  }

  test("segmentation covers every word exactly (concatenation invariant)") {
    val m = Unigram.train(corpus, vocabSize = 40)
    corpus.keys.foreach { w =>
      assert(m.segmentWord(w).mkString("") == w)
    }
  }

  test("frequent substrings survive pruning and encode reuses them") {
    val m = Unigram.train(corpus, vocabSize = 40)
    // "nation" occurs in 4 of 5 words with high weight — it must be a piece
    assert(m.scores.contains("nation"))
    assert(m.segmentWord("nation") == Seq("nation"))
  }

  test("unknown characters fall back to <unk> ids without failing") {
    val m = Unigram.train(corpus, vocabSize = 40)
    val ids = m.encodeWord("qqq") // 'q' never occurs in the corpus
    assert(ids.nonEmpty)
    assert(ids.forall(_ == Unigram.UnkId))
  }

  test("trainOn runs the lexicon aggregation through Spark") {
    import spark.implicits._
    val docs = Seq((1L, "nation international nation"), (2L, "intern nation"))
      .toDF("doc_id", "text")
    val m = WordEncoder.train("unigram", Bpe.wordFrequenciesWithCoverage(docs), vocabSize = 32)
      .asInstanceOf[Unigram.Model]
    assert(m.segmentWord("nation").mkString("") == "nation")
  }
}
