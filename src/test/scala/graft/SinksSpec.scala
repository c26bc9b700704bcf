package graft

import java.nio.file.Files

import graft.pipeline.Sinks
import org.apache.spark.sql.functions._

/** Sinks (S6-S9) and observed stage metrics (A6). */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "hello world", Array(2, 7, 3)),
    (2L, "spark flink beam", Array(2, 9, 4, 3))).toDF("doc_id", "text", "tokens")

  test("parquet sink round-trips with snappy") {
    val dir = Files.createTempDirectory("snk").toString + "/pq"
    Sinks.writeParquet(docs, dir)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("docs JSONL sink writes one object per line") {
    val dir = Files.createTempDirectory("snk").toString + "/docs"
    Sinks.writeDocsJsonl(docs, dir)
    val back = spark.read.json(dir)
    assert(back.count() == 2)
    assert(back.columns.toSet == Set("doc_id", "text", "tokens"))
  }

  test("tokens JSONL sink keeps only the tokens column") {
    val dir = Files.createTempDirectory("snk").toString + "/tok"
    Sinks.writeTokensJsonl(docs, dir)
    val back = spark.read.json(dir)
    assert(back.columns.toSeq == Seq("tokens"))
    assert(back.count() == 2)
  }

  test("explicit-schema JSONL read-back: no inference pass, writer round-trip, " +
      "missing fields null / extra fields ignored") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("jsonl-rt").toString
    val docs = Seq((1L, "hello world", "web"), (2L, "spark flink", "wiki"))
      .toDF("doc_id", "text", "source")
    Sinks.writeDocsJsonl(docs, dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    val back = Sinks.readJsonl(spark, dir, schema)
    assert(back.schema === schema) // pinned, not inferred
    assert(back.orderBy("doc_id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      === Seq((1L, "hello world", "web"), (2L, "spark flink", "wiki")))
    // schema evolution both ways: asking for a field the files lack -> null;
    // not asking for one they have -> ignored
    val evolved = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType)))
    val rows = Sinks.readJsonl(spark, dir, evolved).orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows.forall(_.isNullAt(1)))
  }

  test("shard writer: every doc in exactly one shard, sorted, one file per shard") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("shards").resolve("out").toString
    val df = (1L to 200L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    Sinks.writeShards(df, dir, numShards = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() === 200L)
    assert(back.select("doc_id").distinct().count() === 200L)
    // deterministic assignment: shard recomputes from the id
    import org.apache.spark.sql.functions._
    assert(back.filter(
      col("shard") =!= pmod(xxhash64(col("doc_id")), lit(4)).cast("int")).count() === 0L)
    // one data file per shard dir, ids sorted inside each file
    val shardDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard="))
    assert(shardDirs.length === 4)
    shardDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1)
      val ids = spark.read.parquet(d.toString).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids === ids.sorted)
    }
  }

  test("binary token shards: uint16 stream + int64 index reconstruct every doc") {
    import spark.implicits._
    val toks = Seq(
      (1L, Seq(5, 65535, 7)),
      (2L, Seq(42)),
      (3L, Seq(0, 1, 2, 3)),
      (4L, Seq(9, 9))).toDF("doc_id", "token_ids")
    val dir = java.nio.file.Files.createTempDirectory("tok-shards").toString
    Sinks.writeTokenShards(toks, dir, numShards = 2)
    def le64(b: Array[Byte], off: Int): Long =
      (0 until 8).map(i => (b(off + i).toLong & 0xFF) << (8 * i)).sum
    def le16(b: Array[Byte], off: Int): Int =
      (b(off).toInt & 0xFF) | ((b(off + 1).toInt & 0xFF) << 8)
    val rebuilt = scala.collection.mutable.Map.empty[Long, Seq[Int]]
    import scala.jdk.CollectionConverters._
    for (sh <- java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
           if sh.getFileName.toString.startsWith("shard=")) {
      val idx = java.nio.file.Files.readAllBytes(sh.resolve("index.bin"))
      val bin = java.nio.file.Files.readAllBytes(sh.resolve("tokens.bin"))
      assert(idx.length % 16 == 0)
      var off = 0L
      val entries = (0 until idx.length / 16)
        .map(i => (le64(idx, i * 16), le64(idx, i * 16 + 8)))
      // doc_id-sorted within the shard (sortWithinPartitions)
      assert(entries.map(_._1) == entries.map(_._1).sorted)
      assert(bin.length.toLong == 2 * entries.map(_._2).sum)
      entries.foreach { case (docId, n) =>
        rebuilt(docId) = (0L until n).map(j => le16(bin, (off + j).toInt * 2))
        off += n
      }
    }
    assert(rebuilt.toMap == Map(
      1L -> Seq(5, 65535, 7), 2L -> Seq(42), 3L -> Seq(0, 1, 2, 3), 4L -> Seq(9, 9)))
  }

  test("binary token shards roll files when several shard values share a task") {
    // repartition(n, shard) places rows by murmur3(shard) % n, not identity,
    // so with 8 shard values some task receives two+ shards back-to-back.
    // Regression for the writer keying the whole partition to the FIRST
    // row's shard: every shard dir must exist, hold exactly its own docs,
    // and reconstruct byte-exactly.
    import spark.implicits._
    val n = 64
    val toks = (1L to n.toLong).map(id => (id, Seq(id.toInt, (id % 7).toInt)))
      .toDF("doc_id", "token_ids")
    val dir = java.nio.file.Files.createTempDirectory("tok-shards-8").toString
    Sinks.writeTokenShards(toks, dir, numShards = 8)
    def le64(b: Array[Byte], off: Int): Long =
      (0 until 8).map(i => (b(off + i).toLong & 0xFF) << (8 * i)).sum
    def le16(b: Array[Byte], off: Int): Int =
      (b(off).toInt & 0xFF) | ((b(off + 1).toInt & 0xFF) << 8)
    val shardOf = spark.range(1, n + 1).toDF("doc_id")
      .select(col("doc_id"),
        pmod(xxhash64(col("doc_id")), lit(8)).cast("int").as("shard"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rebuilt = scala.collection.mutable.Map.empty[Long, Seq[Int]]
    (0 until 8).foreach { s =>
      val sh = java.nio.file.Paths.get(dir, s"shard=$s")
      assert(java.nio.file.Files.exists(sh), s"missing shard dir $s")
      val idx = java.nio.file.Files.readAllBytes(sh.resolve("index.bin"))
      val bin = java.nio.file.Files.readAllBytes(sh.resolve("tokens.bin"))
      val entries = (0 until idx.length / 16)
        .map(i => (le64(idx, i * 16), le64(idx, i * 16 + 8)))
      assert(entries.map(_._1) == entries.map(_._1).sorted)
      assert(entries.forall { case (id, _) => shardOf(id) == s },
        s"shard dir $s holds a foreign doc")
      var off = 0L
      entries.foreach { case (docId, len) =>
        rebuilt(docId) = (0L until len).map(j => le16(bin, (off + j).toInt * 2))
        off += len
      }
    }
    assert(rebuilt.size === n)
    (1L to n.toLong).foreach { id =>
      assert(rebuilt(id) == Seq(id.toInt, (id % 7).toInt)) }
  }

  test("bucketed tables: co-bucketed join and bucket-key aggregation plan with zero shuffles") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    def shuffles(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      var s = 0; var b = 0
      plan.foreach {
        case _: ShuffleExchangeLike => s += 1
        case _: BroadcastExchangeLike => b += 1
        case _: SparkPlan => ()
      }
      (s, b)
    }
    val left = (1L to 500L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val right = (1L to 500L).map(i => (i, i % 7)).toDF("doc_id", "meta")
    try {
      Sinks.writeBucketedTable(left, "b_docs", 4, "doc_id", Seq("doc_id"))
      Sinks.writeBucketedTable(right, "b_meta", 4, "doc_id", Seq("doc_id"))
      // force the non-broadcast plan: co-location is what's under test
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_docs").join(spark.table("b_meta"), "doc_id")
      val (js, jb) = shuffles(joined)
      assert((js, jb) === ((0, 0)),
        s"co-bucketed join should be exchange-free, got shuffles=$js broadcasts=$jb")
      assert(joined.count() === 500L)
      // aggregation on the bucket key reuses the write-side partitioning too
      val agg = spark.table("b_docs").groupBy("doc_id").count()
      assert(shuffles(agg)._1 === 0, "bucket-key aggregation should not exchange")
      // a NON-bucketed spelling of the same join must shuffle — the
      // exchange really was paid at write time, not optimized away
      val (ps, _) = shuffles(left.join(right, "doc_id"))
      assert(ps > 0, "plain join should shuffle; bucketing is the difference")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_docs")
      spark.sql("DROP TABLE IF EXISTS b_meta")
    }
  }

  test("observed stage metrics report rows and bytes after one action") {
    val (observed, obs) = Sinks.observeStage(docs, "clean_stage_test")
    observed.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("rows") == 2L)
    assert(m("text_bytes") == ("hello world".length + "spark flink beam".length).toLong)
  }
}
