package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, min}

import graft.pipeline.MinHash
import graft.streaming.StreamPipeline

/** Streaming MinHash-LSH near-dup dedup: foreachBatch + persistent
  * signature store. First-seen-wins across micro-batches; store match
  * outranks in-batch attribution. */
class StreamNearDupSpec extends SparkSpec {

  private val textA =
    "the quick brown fox jumps over the lazy dog while the band plays on and the crowd cheers loudly in the warm evening air"
  private val textB =
    "completely different content about distributed query engines shuffling partitions across executors with adaptive runtime planning"
  private val textC =
    "yet another unrelated document describing tokenizer training with byte pair encoding merges over a capped lexicon of words"

  private def doc(id: Long, text: String): String =
    s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s","n_chars":${text.length}}"""

  test("cross-batch near-dup attribution through the signature store") {
    val in = Files.createTempDirectory("snd_in")
    val state = Files.createTempDirectory("snd_state").resolve("store").toString
    val out = Files.createTempDirectory("snd_out").resolve("verdicts").toString
    val ckpt = Files.createTempDirectory("snd_ckpt").toString
    val docs = spark.readStream.schema(StreamPipeline.docSchema).json(in.toString)
    val q = StreamPipeline.nearDupStream(docs, state, out, ckpt)
    try {
      Files.writeString(in.resolve("b1.json"),
        doc(1, textA) + "\n" + doc(2, textB) + "\n")
      q.processAllAvailable()
      // batch 2: 3 and 5 duplicate batch-1's doc 1 (store match must win
      // over 5's in-batch original 3); 4 is new.
      Files.writeString(in.resolve("b2.json"),
        doc(3, textA) + "\n" + doc(4, textC) + "\n" + doc(5, textA) + "\n")
      q.processAllAvailable()
      val verdicts = spark.read.parquet(out).collect()
        .map(r => r.getLong(0) -> (r.getBoolean(2), Option(r.get(1)))).toMap
      assert(verdicts(1L) === ((false, None)))
      assert(verdicts(2L) === ((false, None)))
      assert(verdicts(3L) === ((true, Some(1L))))
      assert(verdicts(4L) === ((false, None)))
      assert(verdicts(5L) === ((true, Some(1L))))
      // store holds exactly the first-seen uniques
      val store = spark.read.parquet(state).collect().map(_.getLong(0)).toSet
      assert(store === Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("replayed micro-batch after a mid-stream kill is idempotent (exactly-once)") {
    val in = Files.createTempDirectory("sndr_in")
    val state = Files.createTempDirectory("sndr_state").resolve("store").toString
    val out = Files.createTempDirectory("sndr_out").resolve("verdicts").toString
    val ckpt = Files.createTempDirectory("sndr_ckpt").toString
    val docs = spark.readStream.schema(StreamPipeline.docSchema).json(in.toString)
    // run batch 0, then kill the query
    val q1 = StreamPipeline.nearDupStream(docs, state, out, ckpt)
    try {
      Files.writeString(in.resolve("b1.json"),
        doc(1, textA) + "\n" + doc(2, textB) + "\n")
      q1.processAllAvailable()
    } finally q1.stop()
    // simulate the crash window: batch 0's sink writes committed but the
    // streaming commit log did not advance — on restart Spark re-runs
    // batch 0 from its logged offsets with the same batch id.
    Files.delete(java.nio.file.Paths.get(ckpt, "commits", "0"))
    // the local checksum fs keeps a .crc sidecar that would block the
    // replay's commit rename
    Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
    Files.writeString(in.resolve("b2.json"),
      doc(3, textA) + "\n" + doc(4, textC) + "\n")
    val q2 = StreamPipeline.nearDupStream(docs, state, out, ckpt)
    try {
      q2.processAllAvailable()
    } finally q2.stop()
    // output and store must equal the single-run result: one verdict row
    // per doc (the replay overwrote its own partition, not appended) ...
    val rows = spark.read.parquet(out).collect()
    assert(rows.length === 4)
    val verdicts = rows
      .map(r => r.getLong(0) -> (r.getBoolean(2), Option(r.get(1)))).toMap
    assert(verdicts(1L) === ((false, None)))
    assert(verdicts(2L) === ((false, None)))
    assert(verdicts(3L) === ((true, Some(1L))))
    assert(verdicts(4L) === ((false, None)))
    // ... and one signature per first-seen unique, none double-indexed.
    val sigRows = spark.read.parquet(state).collect()
    assert(sigRows.length === 3)
    assert(sigRows.map(_.getLong(0)).toSet === Set(1L, 2L, 4L))
  }

  /** The former `nearDupBatch` verdicts, kept as the reference: the batch
    * operator within the batch, a hand-rolled band join against every
    * store row, and the store match winning over the in-batch original. */
  private def referenceVerdicts(batch: DataFrame, store: DataFrame): Map[Long, Option[Long]] = {
    import spark.implicits._
    val sigs = MinHash.signatures(batch)
    val inBatch = MinHash.duplicateOfSigs(sigs)
      .select(col("duplicate_id").as("doc_id"), col("original_id").as("batch_orig"))
    val storeDup = MinHash.bandKeys(sigs).as("b")
      .join(MinHash.bandKeys(store).withColumnRenamed("doc_id", "store_id").as("s"),
        col("b.band") === col("s.band") && col("b.bh") === col("s.bh"))
      .select(col("b.doc_id").as("doc_id"), col("store_id")).distinct()
      .join(sigs.select(col("doc_id"), col("sig")), "doc_id")
      .join(store.select(col("doc_id").as("store_id"), col("sig").as("store_sig")), "store_id")
      .filter(MinHash.sigMatchCol(col("sig"), col("store_sig")))
      .groupBy(col("doc_id"))
      .agg(min(col("store_id")).as("store_orig"))
    batch.select(col("doc_id"))
      .join(storeDup, Seq("doc_id"), "left")
      .join(inBatch, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("store_orig"), col("batch_orig")))
      .as[(Long, Option[Long])].collect().toMap
  }

  test("a store hit, an in-batch duplicate and a doc that is both: the store " +
      "wins, as in the reference spelling") {
    val dir = Files.createTempDirectory("snd_both")
    val state = dir.resolve("store").toString
    val out = dir.resolve("verdicts").toString
    def batch(name: String, rows: String*) = {
      val f = dir.resolve(name)
      Files.writeString(f, rows.mkString("", "\n", "\n"))
      spark.read.schema(StreamPipeline.docSchema).json(f.toString)
    }
    val nearA = textA.replace("jumps", "leaps")
    val textD = "a fourth unrelated text on streaming watermarks state stores " +
      "checkpoint directories and exactly once sinks for micro batches"
    StreamPipeline.nearDupBatch(batch("b0.json", doc(10, textA), doc(11, textB)), state, out)
    // 2: near-dup of store doc 10, and the least of its in-batch family;
    // 5: copy of store doc 10 AND in-batch near-dup of 2 — the store wins;
    // 7: in-batch copy of 3 only; 3 and 12 are new.
    val b1 = batch("b1.json", doc(2, nearA), doc(3, textC), doc(5, textA),
      doc(7, textC), doc(12, textD))
    val store = spark.read.parquet(state).filter(col("batch_id") < 1)
    val want = referenceVerdicts(b1, store)
    assert(want === Map(2L -> Some(10L), 3L -> None, 5L -> Some(10L), 7L -> Some(3L),
      12L -> None))
    StreamPipeline.nearDupBatch(b1, state, out)
    val got = spark.read.parquet(out).filter(col("batch_id") === 1).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2)))
      .toMap
    assert(got.map { case (d, (o, _)) => d -> o } === want)
    assert(got.forall { case (_, (o, isDup)) => isDup == o.isDefined })
    val stored = spark.read.parquet(state).collect().map(_.getLong(0)).toSet
    assert(stored === Set(10L, 11L, 3L, 12L))
  }

  test("nearDupBatch releases every persist it makes: no cached frames pile up per batch") {
    val dir = Files.createTempDirectory("snd_rel")
    val state = dir.resolve("store").toString
    val out = dir.resolve("verdicts").toString
    def batch(name: String, rows: String*) = {
      val f = dir.resolve(name)
      Files.writeString(f, rows.mkString("", "\n", "\n"))
      spark.read.schema(StreamPipeline.docSchema).json(f.toString)
    }
    val before = spark.sparkContext.getPersistentRDDs.size
    StreamPipeline.nearDupBatch(batch("b1.json", doc(1, textA), doc(2, textB)), state, out)
    StreamPipeline.nearDupBatch(
      batch("b2.json", doc(3, textA), doc(4, textC), doc(5, textA)), state, out)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before, s"persisted RDDs grew from $before to $after over two batches")
    val dups = spark.read.parquet(out).filter("is_duplicate").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(dups === Set(3L, 5L))
  }

  test("a batch whose write throws leaves no persisted RDDs behind") {
    val dir = Files.createTempDirectory("snd_throw")
    val f = dir.resolve("b1.json")
    Files.writeString(f, Seq(doc(1, textA), doc(2, textB), doc(3, textA)).mkString("", "\n", "\n"))
    val batch = spark.read.schema(StreamPipeline.docSchema).json(f.toString)
    // the verdict sink's directory sits under a regular file, so its
    // write fails after the signature, rep-graph and verdict persists
    val blocker = Files.writeString(dir.resolve("blocker"), "not a directory")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    intercept[Exception](StreamPipeline.nearDupBatch(batch,
      dir.resolve("store").toString, blocker.resolve("verdicts").toString, 0L))
    val left = persisted -- before
    assert(left.isEmpty, s"the failed batch left persisted RDDs $left")
  }
}
