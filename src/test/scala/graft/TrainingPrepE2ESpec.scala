package graft

import graft.pipeline.{Chunking, Clean, Dedup}
import org.apache.spark.sql.functions._

/** End-to-end training-data prep tail: clean → exact dedup →
  * context-window chunking. Complements IngestE2ESpec (which drives the
  * reference-shaped Pipeline.run): this pins the TRAINING-side contract
  * — chunk coverage/overlap reconstruct the document exactly. */
class TrainingPrepE2ESpec extends SparkSpec {
  import spark.implicits._

  private def word(i: Long, j: Int) = s"w${(i * 31 + j * 7) % 97}"

  test("clean -> dedup -> chunk: coverage, overlap") {
    val base = (1L to 30L).map { i =>
      (i, s"src${i % 3}", Seq.tabulate(40 + (i % 7).toInt)(j => word(i, j)).mkString(" "))
    }
    val dups = Seq((101L, "src0", base(4)._3), (102L, "src1", base(9)._3))
    val shorts = Seq((201L, "src2", "too short"))
    val docs = (base ++ dups ++ shorts).toDF("doc_id", "source", "text")

    val cleaned = docs.withColumn("text", Clean.cleanText(col("text")))
      .filter(length(col("text")) >= 100)
    val deduped = Dedup.exactDedup(cleaned)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the short doc fails the length gate; the two planted copies lose
    // first-seen-wins to their originals
    assert(deduped.count() === 30L)
    assert(!deduped.select("doc_id").as[Long].collect().exists(id => id > 100L))

    // chunk count follows the exact formula, and dropping each
    // subsequent chunk's overlap reconstructs the document verbatim
    val c = Chunking.ChunkWords
    val s = Chunking.StrideWords
    val chunks = Chunking.chunkQuery(deduped).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
      .groupBy(_._1)
    val wordsByDoc = deduped.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toMap.view.mapValues(_.split("\\s+").toSeq)
    assert(chunks.keySet === wordsByDoc.keySet.toSet)
    chunks.foreach { case (id, rows) =>
      val n = wordsByDoc(id).size
      val expected = 1 + (math.max(n - c, 0) + s - 1) / s
      assert(rows.length === expected, s"doc $id: chunk count")
      val ordered = rows.sortBy(_._2).map(_._3.split(" ").toSeq)
      val rebuilt = ordered.head ++ ordered.tail.flatMap(_.drop(c - s))
      assert(rebuilt === wordsByDoc(id), s"doc $id: overlap reconstruction")
    }

    deduped.unpersist()
  }
}
