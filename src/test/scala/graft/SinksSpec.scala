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

  test("observed stage metrics report rows and bytes after one action") {
    val (observed, obs) = Sinks.observeStage(docs, "clean_stage_test")
    observed.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("rows") == 2L)
    assert(m("text_bytes") == ("hello world".length + "spark flink beam".length).toLong)
  }
}
