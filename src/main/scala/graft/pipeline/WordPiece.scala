package graft.pipeline

import scala.collection.mutable

/** WordPiece tokenizer — the reference's second T1 training algorithm
  * (tokenizer.py:58-133 offers bpe | wordpiece | unigram as co-equal
  * trainers; its wordpiece path wraps the Rust HuggingFace
  * WordPieceTrainer). Re-derived from the published algorithm (Schuster &
  * Nakajima 2012, as popularized by BERT): the merge loop is BPE's, but
  * pair selection maximizes the LIKELIHOOD score
  * `count(ab) / (count(a) * count(b))` instead of raw pair frequency —
  * merge what co-occurs more than its parts predict. Continuation pieces
  * carry the standard "##" prefix; encoding is greedy
  * longest-match-first; a word with any uncoverable span collapses to
  * `<unk>` (BERT behavior).
  *
  * Distribution contract (same as [[Bpe]]/[[Unigram]]): the corpus-sized
  * work — word-frequency counting — is the distributed aggregation in
  * [[Bpe.wordFrequencies]] (map-side combine, lexicon capped); training
  * runs on the driver over the vocabulary-sized lexicon; encoding is a
  * deterministic per-row UDF over [[WordEncoder.encode]]. Selection,
  * stats and the `tok_wordpiece_*` queries live in the shared shell,
  * [[WordEncoder$]].
  *
  * Selection is an O(live pairs) argmax scan per merge rather than
  * [[Bpe.train]]'s lazy-invalidation heap: a WordPiece score's
  * DENOMINATOR (the two symbol counts) shrinks as unrelated merges
  * consume symbol occurrences, so a stale heap entry can be
  * under-prioritized (scores rise without the pair itself changing) —
  * the heap trick is only sound when priorities move one way. The scan
  * is exact and, at the lexicon sizes the gate and pipeline use, cheap.
  *
  * Determinism: ties break on (score DESC, pair ASC); vocab ids are
  * specials, then the sorted alphabet, then merges in creation order.
  */
object WordPiece {

  val Cont = "##"
  val UnkId = 1

  final case class Model(vocab: Map[String, Int]) extends WordEncoder {
    def vocabSize: Int = vocab.size

    /** Greedy longest-match-first; any uncoverable span voids the whole
      * word to `<unk>` (BERT semantics). */
    def encodeWord(word: String): Array[Int] = {
      val out = mutable.ArrayBuffer.empty[Int]
      var start = 0
      var bad = false
      while (start < word.length && !bad) {
        var end = word.length
        var found = -1
        while (end > start && found < 0) {
          val raw = word.substring(start, end)
          val piece = if (start == 0) raw else Cont + raw
          vocab.get(piece) match {
            case Some(id) => found = id
            case None => end -= 1
          }
        }
        if (found < 0) bad = true else { out += found; start = end }
      }
      if (bad) Array(UnkId) else out.toArray
    }

    /** T5: decode ids back to text (whole-word boundaries are implicit:
      * a piece without the "##" prefix starts a new word). */
    def decode(ids: Seq[Int]): String = {
      val rev = vocab.map(_.swap)
      val sb = new StringBuilder
      ids.foreach { id =>
        val p = rev.getOrElse(id, "<unk>")
        if (p.startsWith(Cont)) sb.append(p.substring(Cont.length))
        else { if (sb.nonEmpty) sb.append(' '); sb.append(p) }
      }
      sb.toString
    }

    /** T3: JSON round-trip, same shape as [[Bpe.Model.toJson]]. */
    def toJson: String = {
      val v = vocab.toSeq.sortBy(_._2)
        .map { case (t, i) => s"${graft.Json.quote(t)}: $i" }.mkString("{", ", ", "}")
      s"""{"model": "wordpiece", "vocab": $v}"""
    }
  }

  def save(model: Model, path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), model.toJson)

  def load(path: String): Model = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    val vb = Map.newBuilder[String, Int]
    root.get("vocab").properties().forEach(e => vb += (e.getKey -> e.getValue.asInt()))
    Model(vb.result())
  }

  /** T1+T2: likelihood-scored merge training over a frequency-weighted
    * lexicon. Pair/symbol counts and the pair→word inverted index are
    * maintained incrementally (exact before/after bag diffs per rewritten
    * word, as in [[Bpe.train]]); only argmax selection re-scans. */
  def train(wordFreq: Map[String, Long], vocabSize: Int, minFreq: Long = 2L): Model = {
    // symbols: first char bare, continuations "##"-prefixed
    val words: Array[(mutable.ArrayBuffer[String], Long)] =
      wordFreq.toArray.sortBy(_._1).map { case (w, f) =>
        val syms = mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < w.length) {
          syms += (if (i == 0) w.substring(0, 1) else Cont + w.substring(i, i + 1))
          i += 1
        }
        (syms, f)
      }
    val alphabet: Seq[String] = words.flatMap(_._1).distinct.sorted.toSeq

    val pairCounts = mutable.Map.empty[(String, String), Long]
    val symCounts = mutable.Map.empty[String, Long]
    val where = mutable.Map.empty[(String, String), mutable.Set[Int]]

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
    def symBag(syms: mutable.ArrayBuffer[String]): mutable.Map[String, Int] = {
      val bag = mutable.Map.empty[String, Int]
      syms.foreach(s => bag(s) = bag.getOrElse(s, 0) + 1)
      bag
    }

    words.zipWithIndex.foreach { case ((syms, f), wi) =>
      symBag(syms).foreach { case (s, n) =>
        symCounts(s) = symCounts.getOrElse(s, 0L) + n * f
      }
      pairBag(syms).foreach { case (p, n) =>
        pairCounts(p) = pairCounts.getOrElse(p, 0L) + n * f
        where.getOrElseUpdate(p, mutable.Set.empty) += wi
      }
    }

    val merges = List.newBuilder[String]
    var learned = 0
    val target = math.max(0, vocabSize - (Bpe.Specials.size + alphabet.size))
    var exhausted = false
    while (learned < target && !exhausted) {
      // argmax over live pairs: likelihood score, ties to the smaller pair
      var bestPair: (String, String) = null
      var bestScore = 0.0
      pairCounts.foreach { case (p, pc) =>
        if (pc >= minFreq) {
          val s = pc.toDouble / (symCounts(p._1).toDouble * symCounts(p._2).toDouble)
          val better = bestPair == null || s > bestScore ||
            (s == bestScore && (p._1 < bestPair._1 ||
              (p._1 == bestPair._1 && p._2 < bestPair._2)))
          if (better) { bestPair = p; bestScore = s }
        }
      }
      if (bestPair == null) exhausted = true
      else {
        val (a, b) = bestPair
        val mergedSym = a + b.stripPrefix(Cont)
        merges += mergedSym
        learned += 1
        val touched = where.getOrElse(bestPair, mutable.Set.empty).toArray
        touched.foreach { wi =>
          val (syms, f) = words(wi)
          val beforeP = pairBag(syms)
          if (beforeP.contains(bestPair)) {
            val beforeS = symBag(syms)
            var i = 0
            while (i < syms.length - 1) {
              if (syms(i) == a && syms(i + 1) == b) {
                syms(i) = mergedSym
                syms.remove(i + 1)
              } else i += 1
            }
            val afterP = pairBag(syms)
            val afterS = symBag(syms)
            (beforeP.keySet ++ afterP.keySet).foreach { p =>
              val delta = (afterP.getOrElse(p, 0) - beforeP.getOrElse(p, 0)).toLong * f
              if (delta != 0) {
                val c = pairCounts.getOrElse(p, 0L) + delta
                if (c <= 0) pairCounts.remove(p)
                else {
                  pairCounts(p) = c
                  if (delta > 0) where.getOrElseUpdate(p, mutable.Set.empty) += wi
                }
              }
            }
            (beforeS.keySet ++ afterS.keySet).foreach { s =>
              val delta = (afterS.getOrElse(s, 0) - beforeS.getOrElse(s, 0)).toLong * f
              if (delta != 0) {
                val c = symCounts.getOrElse(s, 0L) + delta
                if (c <= 0L) symCounts.remove(s) else symCounts(s) = c
              }
            }
          }
        }
        pairCounts.remove(bestPair)
        where.remove(bestPair)
      }
    }
    val vocab = (Bpe.Specials ++ alphabet ++ merges.result().distinct).zipWithIndex.toMap
    Model(vocab)
  }
}
