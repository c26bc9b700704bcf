package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}

import graft.pipeline.{Bpe, Unigram, WordEncoder, WordPiece}

/** The tokenizer shell ([[WordEncoder$]]): the capped-lexicon warning of
  * every algorithm, and checks of the rows-only `tok_*_stats` queries
  * against the per-occurrence reference encode
  * ([[WordEncoderSpec.reference]]) under independently trained models. */
class TokenizerShellSpec extends SparkSpec {
  import spark.implicits._

  /** WARN messages the shell logs while `body` runs. */
  private def shellWarnings(body: => Unit): Seq[String] = {
    // the session installs Spark's log4j profile: capture on top of it
    spark
    val name = WordEncoder.getClass.getName
    Configurator.setLevel(name, Level.WARN)
    val logger = LogManager.getLogger(name).asInstanceOf[CoreLogger]
    val seen = new ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("tokenizer-shell-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    logger.addAppender(capture)
    try body
    finally { logger.removeAppender(capture); capture.stop() }
    seen.asScala.toSeq
  }

  test("a capped lexicon logs its truncation bound once, for every algorithm") {
    val lex = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L)
    val kept = lex.map { case (w, f) => f * w.length }.sum
    val capped = Bpe.LexiconCoverage(lex, kept, kept + 7)
    val whole = Bpe.LexiconCoverage(lex, kept, kept)
    assert(WordEncoder.Trainers.keys.toSeq == Seq("bpe", "wordpiece", "unigram"))
    for (alg <- WordEncoder.Trainers.keys) {
      val got = shellWarnings(WordEncoder.train(alg, capped, 30))
      assert(got == Seq(s"lexicon capped at 3 words: covers $kept of ${kept + 7} " +
        "pair mass (truncation bound 7 per pair count)"), alg)
      assert(shellWarnings(WordEncoder.train(alg, whole, 30)).isEmpty, alg)
    }
  }

  // Words: ASCII, Latin-1 and one supplementary letter pair; texts mix
  // every separator of the encode split.
  private val pool = Seq("river", "stone", "über", "naïve", "𐐀𐐁", "night", "garden",
    "silver", "wind", "lantern", "field", "crow", "harbor", "ember", "quiet", "riverstone",
    "windfield", "a", "ab", "ba")
  private val separators = Seq(" ", "\t", "\n", "  ", "\r\n", " \f ")

  private def corpus(r: Random): Seq[(Long, String)] = (1L to 30L).map { id =>
    val words = Seq.fill(3 + r.nextInt(25))(pool(r.nextInt(pool.size)))
    def sep = separators(r.nextInt(separators.size))
    (id, (if (r.nextBoolean()) sep else "") + words.mkString(sep) + s"${sep}doc${id % 7}")
  }

  private def words(t: String): Seq[String] = t.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq

  /** Every word char of `t` is a symbol of `vocab`. */
  private def inAlphabet(vocab: Map[String, Int], t: String): Boolean =
    words(t).forall(_.forall(c => vocab.contains(c.toString)))

  test("tok_*_stats equal the reference encode under a model trained from the same lexicon") {
    val r = new Random(5)
    val docs = corpus(r)
    val dir = java.nio.file.Files.createTempDirectory("graft-tok-shell").toString
    docs.toDF("doc_id", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val lex = Bpe.wordFrequencies(Tables.documents(spark, dir))
    val models: Map[String, WordEncoder] = Map(
      "bpe" -> Bpe.train(lex, 64, 2L),
      "wordpiece" -> WordPiece.train(lex, 64, 2L),
      "unigram" -> Unigram.train(lex, 64))
    assert(models.keySet == WordEncoder.Trainers.keySet)
    // unseen recombinations of corpus chars, plus chars no model knows
    val probes = docs.map(_._2) ++ Seq.fill(40) {
      Seq.fill(1 + r.nextInt(6))(pool(r.nextInt(pool.size)).reverse +
        (if (r.nextInt(4) == 0) "Ωq" else "")).mkString(" ")
    }
    for (alg <- WordEncoder.Trainers.keys) {
      val m = models(alg)
      val row = WordEncoder.queries(s"tok_${alg}_stats")(spark, dir).collect().head
      val tokens = docs.map { case (_, t) => WordEncoderSpec.reference(m, t).length.toLong }.sum
      // Spark's length() counts code points
      val chars = docs.map { case (_, t) => t.codePointCount(0, t.length).toLong }.sum
      assert(row.getAs[Long]("total_documents") == docs.size, alg)
      assert(row.getAs[Long]("total_tokens") == tokens, alg)
      assert(row.getAs[Long]("total_chars") == chars, alg)
      assert(row.getAs[Int]("vocab_size") == m.vocabSize, alg)
      assert(row.getAs[Double]("avg_tokens_per_doc") == tokens.toDouble / docs.size, alg)
      assert(row.getAs[Double]("compression_ratio") == chars.toDouble / tokens, alg)
      m match {
        case b: Bpe.Model =>
          for (t <- probes if inAlphabet(b.vocab, t))
            assert(b.decode(b.encode(t).toSeq) == words(t).mkString(" "), s"bpe: $t")
        case w: WordPiece.Model =>
          def coverable(word: String): Boolean = w.vocab.contains(word.substring(0, 1)) &&
            word.indices.tail.forall(i => w.vocab.contains(WordPiece.Cont + word(i)))
          for (t <- probes if words(t).forall(coverable))
            assert(w.decode(w.encode(t).toSeq) == words(t).mkString(" "), s"wordpiece: $t")
        case u: Unigram.Model =>
          val piece = u.vocab.map(_.swap)
          for (t <- probes; word <- words(t)) {
            assert(u.segmentWord(word).mkString == word, s"unigram: $word")
            if (inAlphabet(u.vocab, word))
              assert(u.encodeWord(word).map(piece).mkString == word, s"unigram: $word")
          }
      }
    }
    // each check above ran on texts of both kinds
    val bpe = models("bpe").asInstanceOf[Bpe.Model]
    val (known, unknown) = probes.partition(inAlphabet(bpe.vocab, _))
    assert(known.size > docs.size && unknown.nonEmpty)
  }
}
