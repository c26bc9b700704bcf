package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Byte-pair-encoding tokenizer (T1-T6; reference:
  * src/processing/tokenizer.py:58-310, which wraps the Rust HuggingFace
  * trainer). Re-derived from the classic published BPE algorithm
  * (Sennrich et al. 2016): iteratively merge the most frequent adjacent
  * symbol pair over a frequency-weighted word lexicon.
  *
  * Distribution strategy (SURVEY §7 step 5): the corpus-sized work — word
  * frequency counting — is a Spark aggregation with map-side combine; the
  * merge loop then runs on the driver over the aggregated lexicon, which
  * is vocabulary-sized, not corpus-sized (at 100 TB: cap the lexicon at
  * the top ~1M words; tail words back off to char encoding via <unk>-free
  * char symbols). Encoding is a per-row UDF over [[WordEncoder.encode]]:
  * deterministic, embarrassingly parallel, and each task encodes a distinct
  * word once (a per-task word → ids memo). Algorithm selection, the
  * capped-lexicon warning, the stats rollup and the `tok_bpe_*` queries
  * live in the shell the three tokenizers share, [[WordEncoder$]].
  *
  * Determinism: pair selection breaks ties by (count DESC, pair ASC);
  * vocab ids are specials, then sorted chars, then merges in creation
  * order. Same corpus ⇒ same model, bit for bit.
  */
object Bpe {

  val EndOfWord = "</w>"
  val Specials: Seq[String] = Seq("<pad>", "<unk>", "<bos>", "<eos>")
  val UnkId = 1

  final case class Model(vocab: Map[String, Int], merges: List[(String, String)])
      extends WordEncoder {
    @transient private lazy val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.toMap

    def vocabSize: Int = vocab.size

    def encodeWord(word: String): Array[Int] = {
      var syms = word.map(_.toString).toBuffer :+ EndOfWord
      var done = false
      while (!done && syms.length > 1) {
        // lowest-rank (earliest-learned) pair present wins — standard BPE
        var best = -1
        var bestRank = Int.MaxValue
        var i = 0
        while (i < syms.length - 1) {
          val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
          if (r < bestRank) { bestRank = r; best = i }
          i += 1
        }
        if (best < 0 || bestRank == Int.MaxValue) done = true
        else {
          val merged = syms(best) + syms(best + 1)
          syms = (syms.take(best) :+ merged) ++ syms.drop(best + 2)
        }
      }
      syms.map(s => vocab.getOrElse(s, UnkId)).toArray
    }

    /** T5: decode ids back to text (lossy on unknown ids, like the
      * reference acknowledges at tests/test_pipeline.py:220). */
    def decode(ids: Seq[Int]): String = {
      val rev = vocab.map(_.swap)
      ids.map(rev.getOrElse(_, "<unk>")).mkString("")
        .replace(EndOfWord, " ").trim
    }

    /** T3: JSON round-trip (hand-rolled writer; Jackson reader from the
      * Spark classpath). */
    def toJson: String = {
      val v = vocab.toSeq.sortBy(_._2)
        .map { case (t, i) => s"${graft.Json.quote(t)}: $i" }.mkString("{", ", ", "}")
      val m = merges.map { case (a, b) => graft.Json.quote(a + " " + b) }
        .mkString("[", ", ", "]")
      s"""{"model": "bpe", "vocab": $v, "merges": $m}"""
    }
  }

  def save(model: Model, path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), model.toJson)

  def load(path: String): Model =
    fromJson(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))

  def fromJson(json: String): Model = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    val vb = Map.newBuilder[String, Int]
    root.get("vocab").properties().forEach(e => vb += (e.getKey -> e.getValue.asInt()))
    val mb = List.newBuilder[(String, String)]
    root.get("merges").forEach { n =>
      val Array(a, b) = n.asText().split(" ", 2)
      mb += ((a, b))
    }
    Model(vb.result(), mb.result())
  }

  /** T1+T2: train from a frequency-weighted lexicon (driver-side loop).
    *
    * Incremental pair-count maintenance (the same asymptotics as the
    * published subword-nmt `learn_bpe` fast path): pair counts and a
    * pair→word inverted index are built once; each merge then touches
    * ONLY the words containing the merged pair, applying the exact
    * before/after pair-bag diff of each rewritten word. Selection uses a
    * max-heap with lazy invalidation (an entry is valid iff its count
    * still matches the live count), so each merge is
    * O(occurrences + log #pairs) instead of a full lexicon recount —
    * vocab_size=32000 over a 100k-word lexicon trains in seconds where
    * the naive recount loop (O(vocab × lexicon chars)) took hours.
    * Selection order (count DESC, pair ASC) and therefore the learned
    * merge list are bit-identical to the recount spelling. */
  def train(wordFreq: Map[String, Long], vocabSize: Int, minFreq: Long = 2L): Model = {
    val words: Array[(mutable.ArrayBuffer[String], Long)] =
      wordFreq.toArray.sortBy(_._1).map { case (w, f) =>
        (mutable.ArrayBuffer(w.map(_.toString): _*) += EndOfWord, f)
      }
    val chars: Seq[String] =
      (words.flatMap(_._1).distinct.sorted).toSeq

    val counts = mutable.Map.empty[(String, String), Long]
    val where = mutable.Map.empty[(String, String), mutable.Set[Int]]
    // heap of (count-at-push, pair); max by count, ties prefer smallest pair
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](
      new Ordering[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(x._1, y._1)
          if (c != 0) c
          else {
            val a = y._2.compareTo(x._2) // reversed: smaller pair = greater
            if (a != 0) a else y._3.compareTo(x._3)
          }
        }
      })

    def pairBag(syms: mutable.ArrayBuffer[String]): mutable.Map[(String, String), Int] = {
      val bag = mutable.Map.empty[(String, String), Int]
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        bag(p) = bag.getOrElse(p, 0) + 1
        i += 1
      }
      bag
    }

    words.zipWithIndex.foreach { case ((syms, f), wi) =>
      pairBag(syms).foreach { case (p, n) =>
        counts(p) = counts.getOrElse(p, 0L) + n * f
        where.getOrElseUpdate(p, mutable.Set.empty) += wi
      }
    }
    counts.foreach { case ((a, b), c) => heap.enqueue((c, a, b)) }

    val merges = List.newBuilder[(String, String)]
    var learned = 0
    val target = math.max(0, vocabSize - (Specials.size + chars.size))
    var exhausted = false
    while (learned < target && !exhausted) {
      // pop to the first non-stale entry
      var best: Option[(Long, String, String)] = None
      while (best.isEmpty && heap.nonEmpty) {
        val e = heap.dequeue()
        if (counts.get((e._2, e._3)).contains(e._1)) best = Some(e)
      }
      best match {
        case None => exhausted = true
        case Some((bestCount, _, _)) if bestCount < minFreq => exhausted = true
        case Some((_, a, b)) =>
          val bestPair = (a, b)
          merges += bestPair
          learned += 1
          val mergedSym = a + b
          // only words actually containing the pair; the index may hold
          // stale entries (pair long gone from a rewritten word) — the
          // before-bag check below makes them harmless no-ops.
          val touched = where.getOrElse(bestPair, mutable.Set.empty).toArray
          touched.foreach { wi =>
            val (syms, f) = words(wi)
            val before = pairBag(syms)
            if (before.contains(bestPair)) {
              var i = 0
              while (i < syms.length - 1) {
                if (syms(i) == a && syms(i + 1) == b) {
                  syms(i) = mergedSym
                  syms.remove(i + 1)
                } else i += 1
              }
              val after = pairBag(syms)
              // exact diff: decrement vanished pairs, increment created ones
              (before.keySet ++ after.keySet).foreach { p =>
                val delta = (after.getOrElse(p, 0) - before.getOrElse(p, 0)).toLong * f
                if (delta != 0) {
                  val c = counts.getOrElse(p, 0L) + delta
                  if (c <= 0) counts.remove(p)
                  else {
                    counts(p) = c
                    heap.enqueue((c, p._1, p._2))
                    if (delta > 0) where.getOrElseUpdate(p, mutable.Set.empty) += wi
                  }
                }
              }
            }
          }
          counts.remove(bestPair)
          where.remove(bestPair)
      }
    }
    val mergeList = merges.result()
    val symbols = chars ++ mergeList.map { case (a, b) => a + b }
    val vocab = (Specials ++ symbols.distinct).zipWithIndex.toMap
    Model(vocab, mergeList)
  }

  /** Default lexicon cap, raised 100k → 1M in round 6 (verdict #5): the
    * incremental trainer handles a 1M-word lexicon in bounded time
    * (BpeTrainScaleSpec), and at 1M the dropped tail of a natural-
    * language corpus is hapax-grade noise. */
  val MaxLexicon = 1000000

  /** The word-frequency lexicon plus the honest TRUNCATION BOUND for the
    * merges trained from it. Every pair count the trainer sees is the
    * true corpus count minus contributions from dropped (rank > cap)
    * words, so any pair is under-counted by at most [[droppedPairMass]]
    * — a merge decision can differ from the untruncated corpus only
    * when the margin between the best pair and a runner-up is below
    * that bound. The masses are exact single-aggregation corpus sums
    * (pairs per word occurrence = length(word): chars-1 adjacencies
    * plus the end-of-word sentinel). */
  final case class LexiconCoverage(
      lexicon: Map[String, Long], keptPairMass: Long, totalPairMass: Long) {
    def droppedPairMass: Long = totalPairMass - keptPairMass
  }

  /** Distributed word-frequency aggregation feeding the driver loop.
    * `maxLexicon` bounds driver memory at any corpus size; the coverage
    * numbers quantify what the cap dropped. One corpus aggregation,
    * persisted for its two reads and released on return: the top-k
    * collect, and the total-mass job, which runs only when the collect hit
    * the cap — below it the lexicon holds every word, so the total IS the
    * kept mass. */
  def wordFrequenciesWithCoverage(
      docs: DataFrame, maxLexicon: Int = MaxLexicon): LexiconCoverage = graft.CacheScope.within {
    val freqs = docs.select(explode(split(col("text"), "[ \t\n\f\r]+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("f"))
      .transform(graft.CacheScope.persist)
    val top = freqs.orderBy(col("f").desc, col("w"))
      .limit(maxLexicon)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // Spark SQL length() counts code points; match it here (w.length is
    // UTF-16 units, which over-counts supplementary chars and could make
    // the "exact" droppedPairMass bound wrong or negative).
    val keptMass = top.iterator.map { case (w, f) =>
      f * w.codePointCount(0, w.length) }.sum
    val totalMass =
      if (top.length < maxLexicon) keptMass
      else freqs.agg(sum(expr("f * length(w)")).as("m")).collect()(0).getAs[Long]("m")
    LexiconCoverage(top.toMap, keptMass, totalMass)
  }

  def wordFrequencies(docs: DataFrame, maxLexicon: Int = MaxLexicon): Map[String, Long] =
    wordFrequenciesWithCoverage(docs, maxLexicon).lexicon

  /** One lexicon aggregation per table directory: the six `tok_*`
    * queries of [[WordEncoder.queries]] start from the same corpus
    * word-frequency pass. Driver
    * footprint is [[MaxLexicon]]-bounded by construction (the same
    * bounded-collect class the trainers already rely on). */
  private val lexMemo = new graft.pipeline.QueryMemo[LexiconCoverage](name = "lexicon")
  private[graft] def lexiconFor(s: SparkSession, d: String): LexiconCoverage =
    lexMemo.getOrElseUpdate(s, d) {
      wordFrequenciesWithCoverage(Tables.documents(s, d))
    }
}
