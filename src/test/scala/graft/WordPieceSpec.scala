package graft

import graft.pipeline.{Bpe, WordEncoder, WordPiece}

/** Pins the WordPiece trainer (tokenizer.py:58-133's `wordpiece` option):
  * likelihood-scored merge selection, ## continuation pieces, greedy
  * longest-match encode, whole-word <unk> collapse, save/load. */
class WordPieceSpec extends SparkSpec {

  private val corpus = Map[String, Long](
    "low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  test("likelihood selection merges the most-associated pair, not the most frequent") {
    // symbol counts: ##i=3, ##d=3, ##s=9, ##t=9; pair (##s,##t) has count 9
    // (max frequency — BPE's pick) but score 9/(9*9)=1/9, while (##i,##d)
    // has count 3 and score 3/(3*3)=1/3: perfectly associated symbols win.
    val m = WordPiece.train(corpus, vocabSize = 16, minFreq = 1)
    // 4 specials + 11 alphabet symbols + exactly one learned merge
    assert(m.vocabSize == 16)
    assert(m.vocab.contains("##id"))
    assert(!m.vocab.contains("##st"))
    // merges rank after specials (0-3) and the sorted alphabet (4-14)
    assert(m.vocab("##id") == 15)
  }

  test("training is deterministic and vocab is bounded by target") {
    val m1 = WordPiece.train(corpus, vocabSize = 30, minFreq = 1)
    val m2 = WordPiece.train(corpus, vocabSize = 30, minFreq = 1)
    assert(m1 == m2)
    assert(m1.vocabSize <= 30)
  }

  test("with enough budget every training word becomes one piece; encode round-trips") {
    val m = WordPiece.train(corpus, vocabSize = 40, minFreq = 1)
    corpus.keys.foreach(w => assert(m.encodeWord(w).length == 1, w))
    assert(m.decode(m.encode("newest low").toSeq) == "newest low")
  }

  test("greedy longest-match covers unseen compounds from learned pieces") {
    val m = WordPiece.train(corpus, vocabSize = 40, minFreq = 1)
    val ids = m.encodeWord("lowest") // "low" + pieces of "est"
    assert(ids.nonEmpty && !ids.contains(WordPiece.UnkId))
    assert(ids.length > 1)
  }

  test("uncoverable words collapse to <unk> (BERT semantics)") {
    val m = WordPiece.train(corpus, vocabSize = 40, minFreq = 1)
    assert(m.encodeWord("qqq").sameElements(Array(WordPiece.UnkId)))
    // partial coverage also voids the word: 'lowz' has no ##z piece
    assert(m.encodeWord("lowz").sameElements(Array(WordPiece.UnkId)))
  }

  test("JSON save/load preserves the model exactly") {
    val m = WordPiece.train(corpus, vocabSize = 30, minFreq = 1)
    val path = java.nio.file.Files.createTempFile("wp", ".json").toString
    WordPiece.save(m, path)
    val loaded = WordPiece.load(path)
    assert(loaded == m)
    assert(loaded.encode("newest").sameElements(m.encode("newest")))
  }

  test("trainOn runs the distributed lexicon aggregation") {
    import spark.implicits._
    val docs = Seq((1L, "spark spark flink spark"), (2L, "flink beam"))
      .toDF("doc_id", "text")
    val m = WordEncoder.train("wordpiece", Bpe.wordFrequenciesWithCoverage(docs), vocabSize = 32)
      .asInstanceOf[WordPiece.Model]
    assert(m.vocabSize <= 32)
    assert(m.vocab.keySet.intersect(Bpe.Specials.toSet) == Bpe.Specials.toSet)
  }
}
