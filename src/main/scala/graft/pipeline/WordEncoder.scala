package graft.pipeline

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** The one encode path of the three word-level tokenizers ([[Bpe.Model]],
  * [[WordPiece.Model]], [[Unigram.Model]]): split the text on
  * `[ \t\n\f\r]+`, encode each non-empty word with the model's own
  * [[encodeWord]], concatenate the ids.
  *
  * A corpus is Zipf-shaped, so most word occurrences repeat a word already
  * encoded. Each instance memoizes word → ids and runs `encodeWord` once
  * per distinct word. The memo is `@transient`: the model travels inside
  * the UDF closure and every Spark task deserializes its own copy, so each
  * task starts with an empty memo of its own.
  */
trait WordEncoder {

  /** Ids of one non-empty word, without separators. */
  def encodeWord(word: String): Array[Int]

  @transient private lazy val memo = new WordEncoder.Memo(encodeWord, WordEncoder.MemoBytes)

  /** T4: encode one whitespace-pretokenized text to ids. */
  def encode(text: String): Array[Int] = memo.encode(text)

  /** `encode(text).length`, without building the concatenated ids. */
  def tokenCount(text: String): Int = memo.tokenCount(text)
}

object WordEncoder {

  private val Separators = java.util.regex.Pattern.compile("[ \t\n\f\r]+")

  /** Byte bound of one memo, counting 2 bytes per word char and 4 per id;
    * object headers and map entries come on top. The perfbench corpora
    * hold ~7k distinct words each, far below it. */
  val MemoBytes: Long = 8L << 20

  /** Word → ids for one [[WordEncoder]] instance.
    *
    * A concurrent map, so one driver-side model shared by several threads
    * stays correct. An entry charges `2 × chars + 4 × ids` bytes; once the
    * charge would pass `maxBytes`, a miss is computed and not stored. The
    * arrays held in the map never leave it: [[encode]] copies them into a
    * fresh array. */
  final class Memo private[graft] (encodeWord: String => Array[Int], maxBytes: Long) {
    private val ids = new ConcurrentHashMap[String, Array[Int]]
    private val charged = new AtomicLong

    def chargedBytes: Long = charged.get

    def encode(text: String): Array[Int] = {
      val words = Separators.split(text)
      val parts = new Array[Array[Int]](words.length)
      var n = 0
      var i = 0
      while (i < words.length) {
        if (!words(i).isEmpty) { parts(i) = idsOf(words(i)); n += parts(i).length }
        i += 1
      }
      val out = new Array[Int](n)
      var at = 0
      i = 0
      while (i < parts.length) {
        val p = parts(i)
        if (p != null) { System.arraycopy(p, 0, out, at, p.length); at += p.length }
        i += 1
      }
      out
    }

    def tokenCount(text: String): Int = {
      val words = Separators.split(text)
      var n = 0
      var i = 0
      while (i < words.length) {
        if (!words(i).isEmpty) n += idsOf(words(i)).length
        i += 1
      }
      n
    }

    private def idsOf(word: String): Array[Int] = {
      val hit = ids.get(word)
      if (hit != null) hit
      else {
        val computed = encodeWord(word)
        val cost = 2L * word.length + 4L * computed.length
        if (reserve(cost) && ids.putIfAbsent(word, computed) != null) charged.addAndGet(-cost)
        computed
      }
    }

    /** Charge `cost` bytes unless that would pass `maxBytes`. */
    private def reserve(cost: Long): Boolean = {
      var cur = charged.get
      while (cur + cost <= maxBytes) {
        if (charged.compareAndSet(cur, cur + cost)) return true
        cur = charged.get
      }
      false
    }
  }
}
