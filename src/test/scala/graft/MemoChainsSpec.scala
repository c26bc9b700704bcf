package graft

import graft.pipeline.Memos

/** The consumer sets of [[Memos.chains]]: a filtered [[Bench]] run builds
  * only the memo chains its queries read. */
class MemoChainsSpec extends SparkSpec {

  test("every consumer is a registered query; a filter selects only the chains it reads") {
    val registered = SparkEntry.queries.keySet
    for (c <- Memos.chains)
      assert(c.consumers.nonEmpty && c.consumers.subsetOf(registered),
        s"${c.steps.map(_._1)}: ${c.consumers.diff(registered)}")
    val tok = Set("tok_bpe_stats", "tok_bpe_char_baseline", "tok_wordpiece_stats",
      "tok_unigram_stats")
    assert(Memos.chainsFor(tok).map(_.steps.map(_._1)) == Seq(Seq("lexicon")))
    assert(Memos.chainsFor(Set("tok_unigram_char_baseline", "dedup_minhash_pairs"))
      .map(_.steps.map(_._1)) == Seq(Seq("rep_graph", "member_attrs"), Seq("lexicon")))
    assert(Memos.chainsFor(Set("clean_corpus_stats", "tok_stats")).isEmpty)
    assert(Memos.chainsFor(Set.empty) == Memos.chains)
  }
}
