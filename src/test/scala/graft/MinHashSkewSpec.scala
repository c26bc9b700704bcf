package graft

import scala.collection.mutable

import graft.pipeline.MinHash
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Hot-bucket skew in the MinHash band join (MinHash.scala scale notes):
  * a mass-duplicated document — the realistic 100 TB boilerplate case —
  * must NOT produce a quadratic candidate blowup or a straggler task.
  * The signature-representative collapse reduces a k-copy cluster to one
  * band row, so the planted 10k-copy cluster below costs the same as a
  * single doc. Without the collapse this corpus generates
  * 16 bands x 10k^2/2 = 800M member-level candidate pairs. */
class MinHashSkewSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from afar " +
      "and the birds sing in the trees above the quiet meadow in early spring"

  test("10k-copy cluster: correct attribution, no straggler task") {
    val hot = (1L to 10000L).map(i => (i, base))
    val tail = (10001L to 10100L).map(i =>
      (i, (0 until 25).map(j => s"uq${i}x${j}z").mkString(" "))) // all-unique tokens
    val docs = (hot ++ tail).toDF("doc_id", "text")

    val taskTimes = mutable.ArrayBuffer.empty[Long]
    val listener = new SparkListener {
      override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit =
        if (taskEnd.taskInfo != null) taskTimes.synchronized {
          taskTimes += taskEnd.taskInfo.duration
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val dup = try {
      MinHash.duplicateOf(docs).as[(Long, Long)].collect()
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
    val wallSeconds = (System.nanoTime() - t0) / 1e9

    // every copy except doc 1 attributes to doc 1; tail docs are unique
    assert(dup.length == 9999, s"expected 9999 duplicates, got ${dup.length}")
    assert(dup.forall(_._2 == 1L), "all copies must attribute to the min id")
    assert(dup.map(_._1).toSet == (2L to 10000L).toSet)

    // no straggler: with the representative collapse the heaviest task is
    // signature hashing over ~5k rows, not an 800M-pair bucket join.
    val maxTask = taskTimes.synchronized(taskTimes.max)
    info(f"wall $wallSeconds%.1f s, ${taskTimes.size} tasks, max task ${maxTask / 1000.0}%.1f s")
    // Caps sized for the failure mode they pin (an 800M-pair blowup ran
    // >540 s), with headroom for a fully-loaded parallel `sbt test` —
    // seconds-scale contention noise must not flake the suite.
    assert(wallSeconds < 180.0, f"band join too slow: $wallSeconds%.1f s (quadratic blowup?)")
    assert(maxTask < 60000L, s"straggler task of ${maxTask} ms dominates the join")
  }

  test("simhash and jaccard also collapse the 10k-copy cluster") {
    val hot = (1L to 10000L).map(i => (i, base))
    val tail = (10001L to 10100L).map(i =>
      (i, (0 until 25).map(j => s"uq${i}x${j}z").mkString(" ")))
    val docs = (hot ++ tail).toDF("doc_id", "text")
    for ((name, fn) <- Seq(
        "simhash" -> graft.pipeline.NearDup.simhashDuplicateOf _,
        "jaccard" -> ((d: org.apache.spark.sql.DataFrame) =>
          graft.pipeline.NearDup.jaccardOverGrams(graft.pipeline.Grams.triFrame(d),
            graft.pipeline.NearDup.PostingChunkLen)))) {
      val t0 = System.nanoTime()
      val dup = fn(docs).as[(Long, Long)].collect()
      val wallSeconds = (System.nanoTime() - t0) / 1e9
      info(f"$name: ${dup.length} dups in $wallSeconds%.1f s")
      assert(dup.length == 9999, s"$name: expected 9999 duplicates, got ${dup.length}")
      assert(dup.forall(_._2 == 1L), s"$name: all copies must attribute to the min id")
      assert(wallSeconds < 180.0, f"$name too slow: $wallSeconds%.1f s (quadratic blowup?)")
    }
  }

  test("mixed exact and near duplicates still attribute exactly") {
    // 2 is a copy of 1; 3 is a near-dup of 1 (distinct signature); groups
    // {1,2} and {3} must still link 3 -> 1 through the cross-group path.
    val d = Seq(
      (1L, base), (2L, base),
      (3L, base.replace("early spring", "early springs")),
      (4L, "completely different short unrelated text about submarines and jazz music")
    ).toDF("doc_id", "text")
    val dup = MinHash.duplicateOf(d).as[(Long, Long)].collect().toMap
    assert(dup.get(2L).contains(1L))
    assert(dup.get(3L).contains(1L), s"cross-group near-dup lost: $dup")
    assert(!dup.contains(4L))
  }
}
