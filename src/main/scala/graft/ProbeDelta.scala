package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling probe for `dedup_delta_minhash` (round-16; r15 verdict #5's
  * acceptance: "a probe showing cost scales with the delta, not the
  * corpus"). Two legs per corpus directory:
  *
  *  1. delta-proportionality — one fixed corpus store (built once,
  *     timed separately: that is the amortized ingest-time index), then
  *     the delta dup-map timed at three delta sizes (the mod-DeltaMod
  *     slice thinned 16x / 4x / 1x — predicates derived from
  *     [[graft.pipeline.Dedup.DeltaMod]] so they can never drift from
  *     the store's own slice). Cost should track the delta size on top
  *     of a fixed floor (driver planning + the skinny store band scan).
  *  2. corpus-independence — a fixed-size delta (500 docs) against each
  *     corpus's store: 10x the corpus should move the reading by far
  *     less than 10x (only the store band-key scan term grows).
  *
  * Timings use the bench cleanup barrier between marks (drain +
  * clearCache + GC) so persisted delta intermediates never leak across
  * marks. Store state is memoized exactly as in production
  * ([[graft.pipeline.MinHash.sigStoreFor]]).
  */
object ProbeDelta {

  private def timed[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def barrier(spark: SparkSession): Unit = {
    CacheScope.drain()
    spark.catalog.clearCache()
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = GraftSession.start("graft-probe-delta")
    import graft.pipeline.{Dedup, MinHash}
    // Slice predicates DERIVED from Dedup.DeltaMod (round-17 advice):
    // sigStoreFor's store is `doc_id % DeltaMod != 0`, so the probe's
    // store count and its delta slices (multiples of DeltaMod thin the
    // mod-DeltaMod slice without ever overlapping the store) stay
    // consistent with the store it times against by construction.
    val mod = Dedup.DeltaMod.toLong

    println("| corpus | store docs | store build s | delta docs | dupmap s | dup rows |")
    println("|---|---|---|---|---|---|")
    dirs.foreach { d =>
      val docs = Tables.documents(spark, d)
      val nStore = docs.filter(col("doc_id") % mod =!= 0).count()
      val buildSec = timed(MinHash.sigStoreFor(spark, d))
      val (storeSigs, storeBands) = MinHash.sigStoreFor(spark, d)
      // leg 1: delta-proportionality (fixed store, 3 delta sizes)
      Seq(mod * 16, mod * 4, mod).foreach { m =>
        val delta = docs.filter(col("doc_id") % m === 0)
        val nDelta = delta.count()
        // one measured execution (round-16 review); the dup-row count
        // for the report re-reads the persisted chain untimed afterwards
        val dm = MinHash.deltaDupMapOf(MinHash.signatures(delta),
          storeSigs, storeBands)
        val sec = timed {
          dm.write.format("noop").mode("overwrite").save()
        }
        val rows = dm.count()
        println(f"| $d | $nStore | ${buildSec}%.1f | $nDelta (mod $m) | $sec%.2f | $rows |")
        barrier(spark)
      }
      // leg 2: fixed-size delta (corpus-independence)
      val fixed = docs.filter(col("doc_id") % mod === 0).limit(500)
      val nFixed = fixed.count()
      val sec = timed {
        MinHash.deltaDupMapOf(MinHash.signatures(fixed), storeSigs, storeBands)
          .write.format("noop").mode("overwrite").save()
      }
      println(f"| $d | $nStore | ${buildSec}%.1f | $nFixed (fixed 500) | $sec%.2f | - |")
      barrier(spark)
    }
    spark.stop()
  }
}
