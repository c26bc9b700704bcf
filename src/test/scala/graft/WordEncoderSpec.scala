package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import graft.pipeline.{Bpe, Pipeline, Unigram, WordEncoder, WordPiece}

/** Pins the memoized [[WordEncoder.encode]] against the per-occurrence
  * spelling each tokenizer had before it, kept here as the reference:
  * split on `[ \t\n\f\r]+`, drop empty words, `flatMap(encodeWord)`. */
class WordEncoderSpec extends SparkSpec {
  import WordEncoderSpec._

  // Word chars: ASCII and Latin-1 letters, U+000B (not a separator, so it
  // stays inside its word) and two supplementary letters (Deseret, Gothic),
  // whose surrogate halves are separate symbols in training and encode.
  private val letters: IndexedSeq[String] =
    "abcdefgh".map(_.toString) ++ Seq("é", "ß", "\u000B", "𐐀", "𐌰")
  // Only in texts: unknown to every model.
  private val unknown: IndexedSeq[String] = IndexedSeq("Ω", "𐐁", "7")
  private val separators: IndexedSeq[String] =
    IndexedSeq(" ", "\t", "\n", "\f", "\r", "  ", "\t\t", "\n\n\n", "\f\f", "\r\r", "\r\n", " \t\f\r\n")

  private def word(r: Random, alphabet: IndexedSeq[String]): String =
    Seq.fill(1 + r.nextInt(7))(alphabet(r.nextInt(alphabet.size))).mkString

  private def lexicon(r: Random): Map[String, Long] =
    Seq.fill(10 + r.nextInt(50))(word(r, letters) -> (1L + r.nextInt(20))).toMap

  private def text(r: Random, vocab: IndexedSeq[String]): String = r.nextInt(12) match {
    case 0 => ""
    case 1 => Seq.fill(1 + r.nextInt(3))(separators(r.nextInt(separators.size))).mkString
    case _ =>
      val words = Seq.fill(1 + r.nextInt(15)) {
        if (r.nextInt(6) == 0) word(r, letters ++ unknown) else vocab(r.nextInt(vocab.size))
      }
      def sep = separators(r.nextInt(separators.size))
      val body = words.tail.foldLeft(words.head)((acc, w) => acc + sep + w)
      (if (r.nextBoolean()) sep else "") + body + (if (r.nextBoolean()) sep else "")
  }

  private def models(r: Random): Seq[(String, WordEncoder, Seq[String])] = {
    val lex = lexicon(r)
    Seq(
      ("bpe", Bpe.train(lex, r.nextInt(120), 1L + r.nextInt(2))),
      ("wordpiece", WordPiece.train(lex, r.nextInt(120), 1L + r.nextInt(2))),
      ("unigram", Unigram.train(lex, r.nextInt(80))))
      .map { case (alg, m) => (alg, m, lex.keys.toSeq.sorted) }
  }

  private def sameIds(alg: String, t: String, got: Array[Int], want: Array[Int]): Unit =
    assert(got.sameElements(want),
      s"$alg ${t.map(c => f"\\u${c.toInt}%04x").mkString}: ${got.toSeq} != ${want.toSeq}")

  test("property: the memoized encode equals the per-occurrence spelling, all three algorithms") {
    for (seed <- 1 to 15; (alg, m, lex) <- models(new Random(seed))) {
      val r = new Random(1000 + seed)
      val texts = Seq("", " ", "\t\f\r\n", "\u000B", " \u000B ") ++
        Seq.fill(60)(text(r, lex.toIndexedSeq))
      // twice: the second pass reads every word from the memo
      for (_ <- 1 to 2; t <- texts) {
        sameIds(alg, t, m.encode(t), reference(m, t))
        assert(m.tokenCount(t) == reference(m, t).length)
      }
    }
  }

  test("property: a memo past its byte bound still encodes exactly; the charge never passes it") {
    for (seed <- 1 to 10; (alg, m, lex) <- models(new Random(seed))) {
      val r = new Random(2000 + seed)
      val maxBytes = 48L + r.nextInt(64)
      val memo = new WordEncoder.Memo(m.encodeWord, maxBytes)
      // fill past the bound with words the texts below may also use
      val filler = Seq.fill(40)(word(r, letters))
      val fillCost = filler.distinct.map(w => 2L * w.length + 4L * m.encodeWord(w).length).sum
      assert(fillCost > maxBytes)
      memo.encode(filler.mkString(" "))
      assert(memo.chargedBytes <= maxBytes)
      val texts = Seq.fill(40)(text(r, lex.toIndexedSeq))
      for (_ <- 1 to 2; t <- texts) {
        sameIds(alg, t, memo.encode(t), reference(m, t))
        assert(memo.tokenCount(t) == reference(m, t).length)
        assert(memo.chargedBytes <= maxBytes, s"$alg charged ${memo.chargedBytes} > $maxBytes")
      }
    }
  }

  test("encode hands out a fresh array: mutating it leaves the memo intact") {
    val m = Bpe.train(Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L), 30, 1L)
    val want = reference(m, "newest")
    val first = m.encode("newest")
    java.util.Arrays.fill(first, -7)
    assert(m.encode("newest").sameElements(want))
    assert(m.encode("newest") ne m.encode("newest"))
  }

  test("each word is encoded once per instance; a deserialized copy starts an empty memo") {
    val c = Counting(7)
    val before = calls.get
    assert(c.encode("a bb a\tbb a").toSeq == Seq(1, 7, 2, 7, 1, 7, 2, 7, 1, 7))
    assert(calls.get - before == 2)
    assert(c.tokenCount("bb a bb") == 6)
    assert(calls.get - before == 2)
    // the copy a Spark task deserializes from its closure
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(c); out.close()
    val copy = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[Counting]
    assert(copy == c)
    assert(copy.encode("a bb").toSeq == Seq(1, 7, 2, 7))
    assert(calls.get - before == 4)
  }

  test("one model shared by several threads encodes every text exactly") {
    val r = new Random(3)
    val (_, m, lex) = models(r).head
    val texts = Seq.fill(200)(text(r, lex.toIndexedSeq))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val results = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[Array[Int]]] {
          def call(): Seq[Array[Int]] = texts.map(m.encode)
        })
      }.map(_.get())
      for (res <- results; (got, t) <- res.zip(texts)) sameIds("bpe", t, got, reference(m, t))
    } finally pool.shutdown()
  }

  test("Pipeline.run writes the reference ids, all three algorithms") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val r = new Random(11)
    val pool = Seq("river", "stone", "𐐀𐐁", "über", "night", "garden",
      "silver", "wind", "lantern", "field", "crow", "harbor", "ember", "quiet")
    val docs = (1L to 12L).map { id =>
      (id, Seq.fill(25 + r.nextInt(20))(pool(r.nextInt(pool.size))).mkString(" ") + s" doc$id")
    }.toDF("doc_id", "text")
    for (alg <- Seq("bpe", "wordpiece", "unigram")) {
      val out = Files.createTempDirectory(s"tok-$alg").toString
      val cfg = Pipeline.GraftConfig(
        dedup = Pipeline.DedupConfig(enabled = false), qualityEnabled = false,
        tokenization = Pipeline.TokenizationConfig(algorithm = alg, vocabSize = 60))
      Pipeline.run(docs, cfg, out).collect()
      val written = spark.read.parquet(s"$out/documents")
      // the run trains on the passed documents' lexicon: the docs sink's texts
      val lex = Bpe.wordFrequencies(written)
      val m: WordEncoder = alg match {
        case "bpe" => Bpe.train(lex, 60, 2L)
        case "wordpiece" => WordPiece.train(lex, 60, 2L)
        case "unigram" => Unigram.train(lex, 60)
      }
      val rows = written.select("doc_id", "text", "token_count").as[(Long, String, Long)]
        .collect().sortBy(_._1)
      assert(rows.length == 12)
      for ((id, t, n) <- rows) assert(n == reference(m, t).length, s"$alg doc $id")
      val tokens = spark.read.schema("tokens array<int>").json(s"$out/tokens")
        .select(col("tokens")).as[Seq[Int]].collect().map(_.mkString(",")).sorted
      val want = rows.map { case (_, t, _) => reference(m, t).mkString(",") }.sorted
      assert(tokens.toSeq == want.toSeq, alg)
    }
  }
}

object WordEncoderSpec {
  private val calls = new AtomicInteger

  /** The per-occurrence encode: every word through `encodeWord`, no memo. */
  def reference(m: WordEncoder, text: String): Array[Int] =
    text.split("[ \t\n\f\r]+").filter(_.nonEmpty).flatMap(m.encodeWord)

  /** Encodes a word to (length, tag) and counts every call. */
  final case class Counting(tag: Int) extends WordEncoder {
    def vocabSize: Int = 0
    def encodeWord(word: String): Array[Int] = {
      calls.incrementAndGet()
      Array(word.length, tag)
    }
  }
}
