package graft

import org.apache.spark.sql.functions.col
import graft.pipeline.{Dedup, MinHash}

/** Pins the round-18 sigrep derivation ([[MinHash.storeRepsDerived]] —
  * store reps derived from the shared rep graph) row-for-row against
  * the self-contained [[MinHash.storeRepsOf]] spelling it replaced in
  * the cold-build path, on a generated corpus that exercises every
  * case the equality argument covers:
  *   - exact-dup families entirely inside the store,
  *   - families SPANNING the store/delta boundary (incl. ones whose
  *     corpus-group min is a DELTA doc, so sgid ≠ gid),
  *   - families entirely inside the delta (no store rep at all),
  *   - unique docs on both sides.
  * Signatures are compared bit-for-bit (they feed the oracle-arbitrated
  * delta dup map downstream). */
class StoreRepsParitySpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the sun sets slowly " +
      "behind the distant mountains and the river flows quietly through the valley"

  test("storeRepsDerived == storeRepsOf on a mixed store/delta corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sigrep-parity").toString
    val rows = (1L to 400L).map { i =>
      val fam = i % 7
      val text =
        if (i % 7 < 3) base + s" family-$fam" // exact-dup families across slices
        else if (i % 40 == 0) base + " delta only family" // delta-only dups (i%10==0)
        else if (i % 5 == 0) base.replace("jumps", "leaps") + s" variant $i"
        else s"unique document $i salt-$i with its own content entirely"
      (i, text)
    } ++ Seq( // a family whose CORPUS-group min is a delta doc: the store
      // group's sgid (411) differs from the corpus gid (410)
      410L -> (base + " boundary family"),
      411L -> (base + " boundary family"),
      412L -> (base + " boundary family"))
    rows.toDF("doc_id", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val derived = MinHash.storeRepsDerived(spark, dir)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet
    val direct = MinHash.storeRepsOf(
        Tables.documents(spark, dir).filter(col("doc_id") % Dedup.DeltaMod =!= 0))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet
    assert(direct.nonEmpty)
    // fixture sanity for the two boundary cases the equality argument
    // leans on: the 410/411/412 family's store rep is 411 (corpus gid
    // 410 is a delta doc), and the delta-only family contributes no row.
    assert(direct.exists(_._1 == 411L))
    assert(!direct.exists(_._1 % Dedup.DeltaMod == 0))
    assert(derived === direct)
  }
}
