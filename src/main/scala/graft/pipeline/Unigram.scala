package graft.pipeline

import scala.collection.mutable

/** Unigram language-model tokenizer (the third T1 algorithm option,
  * reference tokenizer.py:58-133 / pipeline_config.yaml:63 `unigram`).
  * Re-derived from the published SentencePiece unigram algorithm (Kudo
  * 2018), simplified but honest:
  *
  *   1. seed vocabulary: all word substrings up to [[MaxPieceLen]] chars,
  *      scored by (frequency x length), capped to `seedFactor x target`;
  *   2. EM-style loop: Viterbi-segment every word under the current piece
  *      scores, recount piece usage, drop the lowest-usage
  *      [[PruneFraction]] of prunable pieces (single chars are never
  *      pruned — they guarantee coverage), until the target size;
  *   3. encode = Viterbi segmentation with the final scores.
  *
  * Deterministic: all ties break on (score/usage, piece) lexicographic
  * order. Like [[Bpe]], the corpus-sized work (word frequencies) is a
  * Spark aggregation; the training loop runs on the driver over the
  * vocabulary-sized lexicon. Selection, stats and the `tok_unigram_*`
  * queries live in the shell the three tokenizers share, [[WordEncoder$]].
  */
object Unigram {

  val MaxPieceLen = 8
  val PruneFraction = 0.25
  val UnkId = 1

  final case class Model(vocab: Map[String, Int], scores: Map[String, Double])
      extends WordEncoder {
    def vocabSize: Int = vocab.size

    /** Viterbi-segment one word; unknown chars fall back to <unk>. */
    def segmentWord(word: String): Seq[String] = Unigram.segment(word, scores)

    def encodeWord(word: String): Array[Int] =
      segmentWord(word).map(p => vocab.getOrElse(p, UnkId)).toArray
  }

  /** Max-sum-log-prob segmentation; pieces absent from `scores` are only
    * used as single-char fallbacks with a large penalty. */
  private[pipeline] def segment(word: String, scores: Map[String, Double]): Seq[String] = {
    val n = word.length
    if (n == 0) return Seq.empty
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - MaxPieceLen)
      while (j < i) {
        val piece = word.substring(j, i)
        val s = scores.get(piece) match {
          case Some(v) => v
          case None => if (i - j == 1) -100.0 else Double.NegativeInfinity
        }
        if (s != Double.NegativeInfinity && best(j) + s > best(i)) {
          best(i) = best(j) + s
          back(i) = j
        }
        j += 1
      }
      i += 1
    }
    // reconstruct
    val out = mutable.ListBuffer.empty[String]
    var k = n
    while (k > 0) { val j = back(k); out.prepend(word.substring(j, k)); k = j }
    out.toList
  }

  /** Train from a frequency-weighted lexicon (driver-side). */
  def train(wordFreq: Map[String, Long], vocabSize: Int, seedFactor: Int = 4): Model = {
    val words = wordFreq.toSeq.sortBy(_._1)
    // 1. seed: substrings scored by freq * len
    val seedCounts = mutable.Map.empty[String, Long]
    for ((w, f) <- words; start <- 0 until w.length;
         len <- 1 to math.min(MaxPieceLen, w.length - start)) {
      val p = w.substring(start, start + len)
      seedCounts(p) = seedCounts.getOrElse(p, 0L) + f
    }
    val chars: Set[String] = seedCounts.keySet.filter(_.length == 1).toSet
    val target = math.max(vocabSize - Bpe.Specials.size, chars.size)
    var pieces: Set[String] = {
      val multi = seedCounts.toSeq.filter(_._1.length > 1)
        .sortBy { case (p, c) => (-c * p.length, p) }
        .take(math.max(0, seedFactor * target - chars.size))
        .map(_._1)
      chars ++ multi
    }

    def scoresOf(counts: collection.Map[String, Long]): Map[String, Double] = {
      val total = math.max(1L, counts.values.sum).toDouble
      counts.iterator.map { case (p, c) =>
        p -> math.log(math.max(1L, c).toDouble / total)
      }.toMap
    }

    var scores = scoresOf(seedCounts.filter { case (p, _) => pieces(p) })
    // 2. prune loop
    while (pieces.size > target) {
      val usage = mutable.Map.empty[String, Long]
      for ((w, f) <- words; p <- segment(w, scores))
        usage(p) = usage.getOrElse(p, 0L) + f
      val prunable = pieces.toSeq.filter(_.length > 1)
        .sortBy(p => (usage.getOrElse(p, 0L), p))
      val dropCount = math.min(prunable.size,
        math.max(pieces.size - target, (pieces.size * PruneFraction).toInt))
      if (dropCount <= 0) {
        pieces = chars.toSet ++ prunable.drop(prunable.size - (target - chars.size))
      } else {
        pieces = pieces -- prunable.take(dropCount)
      }
      val kept = usage.filter { case (p, _) => pieces(p) }
      // chars must keep a score even if unused this round
      chars.foreach(c => if (!kept.contains(c)) kept(c) = 1L)
      scores = scoresOf(kept)
    }
    // 3. final vocab: specials, then pieces by (desc score, piece)
    val ordered = pieces.toSeq.sortBy(p => (-scores.getOrElse(p, -1e9), p))
    val vocab = (Bpe.Specials ++ ordered).zipWithIndex.toMap
    Model(vocab, scores)
  }
}
