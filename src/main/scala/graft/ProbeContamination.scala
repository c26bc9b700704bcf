package graft

import graft.pipeline.Contamination

/** Scale probe for the fuzzy decontamination tier's |bench| constant
  * (round-9 verdict #5): the gate corpus pins `BenchmarkDocs = 10`,
  * which cannot expose a cost proportional to the benchmark size — a
  * real eval suite is 10^4–10^5 items. This harness times
  * [[Contamination.fuzzyContaminationQuery]] at an arbitrary
  * `benchDocs`.
  *
  * With `--index`, instead builds ONLY the driver-resident fuzzy index
  * and prints its build time and memory footprint (gram-map entries,
  * per-bench gram ids, posting ints, estimated bytes) — the round-10
  * verdict asked for the |bench|-proportional driver cost to be a
  * measured number, not an extrapolation (finding #3 / task #5).
  *
  * With `--benchset`, measures the EXACT tier's driver structure the
  * same way: [[Contamination.buildBenchGramSet]]'s build time and
  * HashSet footprint at an arbitrary |bench| (the round-11 verdict's
  * task #7 — the set is eval-bounded by the same argument as the fuzzy
  * index, but the bound should be a measured row, not an argument).
  *
  * Usage: runMain graft.ProbeContamination <dir> <benchDocs> [--index|--benchset]
  * Prints one line: `probe_fuzzy dir=<dir> bench=<n> sec=<s> rows=<k>`,
  * `probe_fuzzy_index dir=<dir> bench=<n> build_sec=<s> grams=<n> ...`, or
  * `probe_bench_set dir=<dir> bench=<n> build_sec=<s> grams=<n> est_mb=<m>`.
  */
object ProbeContamination {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val benchDocs = args.lift(1).map(_.toInt).getOrElse(1000)
    if (args.contains("--index")) { indexStats(dir, benchDocs); return }
    if (args.contains("--benchset")) { benchSetStats(dir, benchDocs); return }
    val spark = GraftSession.start("graft-probe-contamination")
    val docs = Tables.documents(spark, dir)
    val q = Contamination.fuzzyContaminationQuery(docs, benchDocs)
    val t0 = System.nanoTime()
    q.write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    val rows = q.count()
    println(f"probe_fuzzy dir=$dir bench=$benchDocs sec=$sec%.2f rows=$rows")
    spark.stop()
  }

  /** Build-only probe: index construction time + driver footprint.
    * Byte estimate: JVM HashMap entry ≈ 48 B + boxed Integer 16 B +
    * String (40 B header + 2 B/char); int[] = 16 B + 4 B/element;
    * long[] similar. Deliberately rough — the point is the GROWTH LAW
    * in |bench| and the order of magnitude vs a 128 GiB driver. */
  private def indexStats(dir: String, benchDocs: Int): Unit = {
    val spark = GraftSession.start("graft-probe-contamination")
    val tri = Contamination.trigramFrame(Tables.documents(spark, dir))
    tri.count() // materialize the persisted trigram frame outside the mark
    val t0 = System.nanoTime()
    val ix = Contamination.buildFuzzyIndex(tri, benchDocs)
    val buildSec = (System.nanoTime() - t0) / 1e9
    var keyChars = 0L
    ix.gramId.forEach((g, _) => keyChars += g.length)
    val benchIdInts = ix.benchGramIds.map(_.length.toLong).sum
    val rareGrams = ix.rarePostings.count(_ != null)
    val postInts = ix.rarePostings.iterator.filter(_ != null).map(_.length.toLong).sum
    val mapBytes = ix.nGrams.toLong * (48 + 16 + 40) + keyChars * 2
    val arrBytes = (benchIdInts + postInts + rareGrams) * 4L +
      ix.benchDocIds.length.toLong * 8
    println(f"probe_fuzzy_index dir=$dir bench=$benchDocs build_sec=$buildSec%.2f " +
      f"grams=${ix.nGrams} rare_grams=$rareGrams bench_id_ints=$benchIdInts " +
      f"posting_ints=$postInts est_mb=${(mapBytes + arrBytes) / 1e6}%.1f")
    spark.stop()
  }

  /** Build-only probe for the exact tier's broadcast gram set: build
    * time + HashSet footprint (same deliberately-rough JVM estimate as
    * [[indexStats]]: entry ≈ 40 B + String 40 B header + 2 B/char —
    * the point is the growth law in |bench|, not exact bytes). */
  private def benchSetStats(dir: String, benchDocs: Int): Unit = {
    val spark = GraftSession.start("graft-probe-contamination")
    val docs = Tables.documents(spark, dir)
    docs.count() // pull the scan outside the mark (parity with indexStats)
    val t0 = System.nanoTime()
    val set = Contamination.buildBenchGramSet(docs, benchDocs)
    val buildSec = (System.nanoTime() - t0) / 1e9
    var chars = 0L
    set.forEach(g => chars += g.length)
    val estMb = (set.size.toLong * (40 + 40) + chars * 2) / 1e6
    println(f"probe_bench_set dir=$dir bench=$benchDocs build_sec=$buildSec%.2f " +
      f"grams=${set.size} est_mb=$estMb%.1f")
    spark.stop()
  }
}
