package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup

/** Pins the round-18 [[Dedup.lineDedupQuery]] reshape (drop-set
  * semi-join + kernel rebuild from the original text) row-for-row
  * against the pre-round-18 spelling (lines ⋈ lineDf join +
  * collect_list(struct(pos, line)) rebuild), on BOTH drop-join paths
  * (broadcast and shuffled fallback), for lines and paragraphs. The
  * fixture covers: boilerplate lines shared across many docs, empty
  * lines (shared ⇒ dropped), docs losing EVERY line, docs losing none,
  * single-line docs, and trailing separators (split keeps trailing
  * empties). */
class LineDedupParitySpec extends SparkSpec {
  import spark.implicits._

  /** The retired spelling, kept verbatim as the parity arbiter. */
  private def oldLineDedup(docs: DataFrame, sep: String): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val lineDf = lines.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("line_df"))
    lines.join(lineDf, "line")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("line_df") < Dedup.LineDropDf, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          expr(s"""transform(
                  |  array_sort(collect_list(
                  |    IF(line_df < ${Dedup.LineDropDf}, struct(pos, line), NULL))),
                  |  x -> x.line)""".stripMargin),
          sep).as("text_kept"))
  }

  private def docsDf(sep: String): DataFrame = {
    val boiler = "copyright footer all rights reserved"
    val nav = "home | products | contact"
    val rows = (1L to 60L).map { i =>
      val own = s"unique line for document $i with own words"
      val parts =
        if (i % 7 == 0) Seq(boiler, nav) // doc loses everything
        else if (i % 5 == 0) Seq(own) // single unique line
        else if (i % 3 == 0) Seq(boiler, own, "", s"second unique $i", "")
        else Seq(own, nav, s"tail $i")
      (i, parts.mkString(sep))
    }
    rows.toDF("doc_id", "text")
  }

  private def collected(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet

  for (sepName <- Seq("line" -> "\n", "paragraph" -> "\n\n")) {
    val (label, sep) = sepName
    test(s"$label dedup: reshaped query == old spelling (broadcast path)") {
      val d = docsDf(sep)
      assert(collected(Dedup.lineDedupQuery(d, sep)) ===
        collected(oldLineDedup(d, sep)))
    }
    test(s"$label dedup: reshaped query == old spelling (shuffled fallback)") {
      val d = docsDf(sep)
      assert(collected(Dedup.lineDedupQuery(d, sep, dropBroadcastMax = 0L)) ===
        collected(oldLineDedup(d, sep)))
    }
  }

  test("paragraphs whose bytes exceed the bound take the shuffled path, " +
      "however few they are") {
    val para = (0 until 3).map(i => s"shared paragraph $i " + "word " * 400)
    val d = Seq(
      1L -> (para :+ "own one").mkString("\n\n"),
      2L -> (para :+ "own two").mkString("\n\n")).toDF("doc_id", "text")
    def joins(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    // three keys of ~2 KB: over a 4 KB bound, far under the default
    val over = Dedup.lineDedupQuery(d, "\n\n", dropBroadcastMax = 4096L)
    assert(joins(over) > 0)
    assert(joins(Dedup.lineDedupQuery(d, "\n\n")) === 0)
    assert(collected(over) === collected(oldLineDedup(d, "\n\n")))
  }

  test("empty-line handling: an empty line shared by >= 2 docs drops") {
    val d = Seq(1L -> "a\n\nb", 2L -> "c\n\nd").toDF("doc_id", "text")
    val got = collected(Dedup.lineDedupQuery(d, "\n"))
    assert(got === collected(oldLineDedup(d, "\n")))
    // both docs had (x, "", y): the empty line is shared, so n_kept = 2
    assert(got.forall { case (_, nl, nk, _) => nl == 3 && nk == 2 })
  }
}
