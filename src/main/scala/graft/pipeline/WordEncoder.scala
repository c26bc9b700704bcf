package graft.pipeline

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

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

  /** Number of ids the model can emit, specials included. */
  def vocabSize: Int

  @transient private lazy val memo = new WordEncoder.Memo(encodeWord, WordEncoder.MemoBytes)

  /** T4: encode one whitespace-pretokenized text to ids. */
  def encode(text: String): Array[Int] = memo.encode(text)

  /** `encode(text).length`, without building the concatenated ids. */
  def tokenCount(text: String): Int = memo.tokenCount(text)
}

/** The shell of the three tokenizers beside encode: the trainer registry
  * behind `tokenization.algorithm` (reference tokenizer.py:58-133), one
  * training entry from a corpus lexicon, the T7 stats rollup
  * (tokenizer.py:24-55 `TokenizationStats`), and the six `tok_*` queries
  * with their three char-baseline oracles. Each tokenizer object holds
  * only its model, its `encodeWord` and its trainer.
  */
object WordEncoder {

  /** `(lexicon, vocabSize, minFreq)` → model. */
  type Trainer = (Map[String, Long], Int, Long) => WordEncoder

  /** One algorithm: its trainer, and the three slots of its char-baseline
    * oracle (see [[oracles]]): the token count over the non-empty words
    * `nz`, the alphabet CTE yielding `n_alpha`, and the ids a zero-target
    * model holds beside its alphabet. */
  private final case class Algorithm(train: Trainer, baselineTokens: String,
      baselineAlphabet: String, baselineSpecials: Int)

  private val CharAlphabet =
    """SELECT count(DISTINCT c) AS n_alpha
      |          FROM (SELECT unnest(string_split(w, '')) AS c FROM nz)""".stripMargin

  private val Algorithms: ListMap[String, Algorithm] = ListMap(
    // Zero merges: every word encodes to its chars plus </w>; the vocab is
    // the specials, the distinct word chars and </w>.
    "bpe" -> Algorithm((lex, v, minFreq) => Bpe.train(lex, v, minFreq),
      "sum(length(w)) + count(*)", CharAlphabet, Bpe.Specials.size + 1),
    // Zero merges: the vocab is the position-tagged alphabet (bare first
    // chars, "##" continuation chars) and greedy longest-match emits one
    // piece per char. The alphabet comes from the same corpus, so every
    // word is coverable and the <unk> collapse never fires.
    "wordpiece" -> Algorithm((lex, v, minFreq) => WordPiece.train(lex, v, minFreq),
      "sum(length(w))",
      """SELECT count(*) AS n_alpha FROM (
        |  SELECT DISTINCT substring(w, 1, 1) AS sym FROM nz
        |  UNION
        |  SELECT DISTINCT '##' || c AS sym
        |  FROM (SELECT unnest(string_split(substring(w, 2), '')) AS c
        |        FROM nz WHERE length(w) > 1))""".stripMargin,
      Bpe.Specials.size),
    // Target 0 prunes to the char alphabet (chars are never pruned), so
    // Viterbi has one path: one piece per char. Unigram has no minFreq.
    "unigram" -> Algorithm((lex, v, _) => Unigram.train(lex, v),
      "sum(length(w))", CharAlphabet, Bpe.Specials.size))

  /** The trainer registry, in the order [[Pipeline.run]]'s name check
    * lists the accepted `tokenization.algorithm` values. */
  val Trainers: ListMap[String, Trainer] = Algorithms.map { case (n, a) => n -> a.train }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Trains `algorithm` on a corpus lexicon. A capped lexicon logs its
    * truncation bound as a WARN: a learned decision can differ from the
    * uncapped corpus only where a margin is below it. The WARN is
    * dropped unless a SparkSession has started (until Spark installs its
    * log4j2 profile the root level is ERROR); `cov.droppedPairMass`
    * carries the same bound for a caller without one. */
  def train(algorithm: String, cov: Bpe.LexiconCoverage, vocabSize: Int,
      minFreq: Long = 2L): WordEncoder = {
    if (cov.droppedPairMass > 0)
      log.warn(s"lexicon capped at ${cov.lexicon.size} words: " +
        s"covers ${cov.keptPairMass} of ${cov.totalPairMass} pair mass " +
        s"(truncation bound ${cov.droppedPairMass} per pair count)")
    Trainers(algorithm)(cov.lexicon, vocabSize, minFreq)
  }

  /** T7: stats of `docs` encoded by `model`. The per-row token count
    * reads the model's per-task word memo ([[WordEncoder.tokenCount]])
    * without building the ids. */
  def statsQuery(docs: DataFrame, model: WordEncoder): DataFrame = {
    val nTok = udf((t: String) => model.tokenCount(t))
    docs.select(length(col("text")).as("n_chars"), nTok(col("text")).as("n_tokens"))
      .agg(
        count(lit(1)).as("total_documents"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        lit(model.vocabSize).as("vocab_size"))
      .select(col("*"),
        (col("total_tokens").cast("double") / col("total_documents").cast("double"))
          .as("avg_tokens_per_doc"),
        (col("total_chars").cast("double") / col("total_tokens").cast("double"))
          .as("compression_ratio"))
  }

  /** Per algorithm, `tok_<alg>_stats`: [[statsQuery]] under a model of
    * vocab 64 trained on the corpus lexicon ([[Bpe.lexiconFor]]: one
    * aggregation per table directory serves all six queries); and
    * `tok_<alg>_char_baseline`: the same chain at vocab 0. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Algorithms.keys.iterator.flatMap { alg =>
      Seq(s"tok_${alg}_stats" -> 64, s"tok_${alg}_char_baseline" -> 0).map {
        case (name, vocabSize) => name -> ((s: SparkSession, d: String) =>
          statsQuery(Tables.documents(s, d), train(alg, Bpe.lexiconFor(s, d), vocabSize)))
      }
    }.toMap

  /** DuckDB oracles for the three char baselines, from one template.
    *
    * The `tok_<alg>_stats` queries have none and get the rows-only check:
    * a learned vocabulary is not SQL-derivable (each merge or prune
    * depends on every earlier one, which SQL cannot state short of
    * re-running the loop); the per-algorithm specs pin training on golden
    * fixtures. A zero-target model has a closed form (see [[Algorithms]]),
    * so each baseline hash-checks the whole chain but the selection loop:
    * lexicon build, trainer, encode UDF and rollup.
    *
    * Char counts: the oracle counts code points (DuckDB `length`,
    * `string_split`) while `encodeWord` symbols are UTF-16 units; the two
    * agree unless the corpus has non-BMP chars, which no gate corpus has.
    *
    * Lexicon coverage: the oracle's alphabet spans every corpus word, the
    * engine's only the [[Bpe.MaxLexicon]]-capped lexicon. A char that
    * appears only past the cap makes `vocab_size` diverge; [[train]] logs
    * `lexicon capped` whenever that can happen. Every gate corpus holds
    * orders of magnitude fewer distinct words than the cap. */
  def oracles: Map[String, String] = Algorithms.map { case (alg, a) =>
    s"tok_${alg}_char_baseline" ->
      raw"""WITH words AS (SELECT unnest(regexp_split_to_array(text, '[ \t\n\f\r]+')) AS w
        |               FROM documents),
        |nz AS (SELECT w FROM words WHERE w <> ''),
        |tok AS (SELECT CAST(${a.baselineTokens} AS BIGINT) AS total_tokens FROM nz),
        |alpha AS (${a.baselineAlphabet}),
        |base AS (SELECT CAST(count(*) AS BIGINT) AS total_documents,
        |                CAST(sum(length(text)) AS BIGINT) AS total_chars
        |         FROM documents)
        |SELECT base.total_documents, tok.total_tokens, base.total_chars,
        |       CAST(alpha.n_alpha + ${a.baselineSpecials} AS INT) AS vocab_size,
        |       tok.total_tokens::DOUBLE / base.total_documents::DOUBLE
        |         AS avg_tokens_per_doc,
        |       base.total_chars::DOUBLE / tok.total_tokens::DOUBLE
        |         AS compression_ratio
        |FROM base, tok, alpha""".stripMargin
  }

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
