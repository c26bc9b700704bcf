package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fingerprint-keyed scratch-parquet cache for FAT derived relations —
  * the storage half of [[Grams]], generalized (round 16) so the delta
  * signature store can ride it too.
  *
  * Why parquet-on-scratch and not a checkpoint: a corpus-width relation
  * of ~1 KB rows (trigram arrays, 128-long MinHash signatures) pinned in
  * the block manager evicts every per-query persist under the bench
  * JVM's heap — the round-12 Grams measurement (checkpointed grams made
  * jaccard SLOWER, 14.4 → 19.8 s at 100×, despite serving its stages).
  * Dictionary-encoded snappy parquet holds the same relation in a
  * fraction of the bytes, STREAMS on scan without pinning heap, and is
  * exactly how a production cluster shares a derived relation across
  * jobs: materialize once to scratch HDFS/S3 at ingest, scan many
  * times.
  *
  * Root: under the reliable checkpoint dir when one is configured
  * (shared, fault-tolerant storage — the multi-node contract, same as
  * [[QueryMemo.materialize]]), else the machine-local tmpdir
  * (single-box runs, cross-process reuse included).
  *
  * Hygiene (round 13, unchanged): dirs are named
  * `graft_<name>_<corpusKey>_<fp>` — `corpusKey` hashes the table
  * DIRECTORY PATH (stable across regenerations), `fp` its data
  * fingerprint (changes on regeneration). A build writes to a
  * process-unique `.tmp-*` sibling and ATOMICALLY renames it into
  * place, so a concurrent JVM either sees the complete generation or
  * none; a lost install race renames the loser's temp back out before
  * deleting it (never a transiently doubled listing). GC is
  * access-based and writer-scoped (round 17 — this storage is SHARED
  * when a checkpoint dir is configured): every reuse bumps the
  * generation's mtime, the INSTALLING writer alone deletes superseded
  * generations of its own (name, corpus), orphaned temps go after an
  * hour, and any generation of the same name unread for a week is
  * swept (bounds the single-use-corpus tail — every ScalaTest temp dir
  * is a never-superseded key). Footprint and GC counts are logged next
  * to the memo split.
  */
private[graft] object ScratchCache {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def scratchRoot(s: SparkSession): Path =
    s.sparkContext.getCheckpointDir match {
      case Some(cp) => new Path(cp, "graft_scratch")
      case None => new Path("file:" + sys.props("java.io.tmpdir"))
    }

  /** The cached relation for `(name, table directory)`: read it if a
    * complete generation exists for the directory's current data
    * fingerprint, else build + install it. Returns None when the
    * fingerprint is unavailable (listing failed) — the caller decides
    * its heap fallback. */
  def parquetFor(s: SparkSession, d: String, name: String)
      (build: => DataFrame): Option[DataFrame] = {
    val fp = QueryMemo.fingerprint(s, d)
    if (fp == 0L) return None
    val root = scratchRoot(s)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val corpusKey = f"${scala.util.hashing.MurmurHash3.stringHash(d)}%08x"
    val target = new Path(root, f"graft_${name}_${corpusKey}_$fp%016x")
    val installed = !fs.exists(new Path(target, "_SUCCESS"))
    if (installed) {
      val tmp = new Path(root,
        target.getName + f".tmp-${ProcessHandle.current.pid}-${System.nanoTime}%x")
      build.write.mode("overwrite").parquet(tmp.toString)
      install(fs, tmp, target)
    } else {
      // Access-based eviction (round-17 advice): on shared multi-node
      // storage the week cutoff below is a GC horizon for ABANDONED
      // generations, not a TTL on live ones — a long-lived corpus whose
      // cache is read daily must never age out under a concurrent job's
      // lazy scan. Bumping mtime on every reuse makes the cutoff measure
      // time-since-last-ACCESS. Best-effort: object stores may reject
      // setTimes; the bump then degrades to the old created-time cutoff.
      try fs.setTimes(target, System.currentTimeMillis(), -1)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    gc(fs, root, name, corpusKey, target, installedHere = installed)
    Some(s.read.parquet(target.toString))
  }

  /** Atomically promote a complete temp generation to `target`. If a
    * half-written `target` exists (crashed writer) it is cleared first;
    * if a concurrent JVM wins the race with a complete generation, ours
    * is discarded.
    *
    * Race subtlety (round-16 review): Hadoop `rename(src, dst)` onto an
    * EXISTING directory does not fail — it moves `src` INSIDE `dst`
    * (POSIX mv semantics), so a loser's temp would nest inside the
    * winner's complete generation and every later parquet read of the
    * target would see conflicting directory structures / doubled rows.
    * Hence: re-check for a complete winner immediately before the
    * rename, and AFTER the rename detect + delete the nested-move case
    * (the winner installed in the window between check and rename). */
  private[graft] def install(fs: FileSystem, tmp: Path, target: Path): Unit = {
    if (fs.exists(target) && !fs.exists(new Path(target, "_SUCCESS")))
      fs.delete(target, true)
    if (fs.exists(new Path(target, "_SUCCESS"))) {
      fs.delete(tmp, true) // lost the race to a complete install — fine
      return
    }
    val renamed =
      try fs.rename(tmp, target)
      catch { case _: java.io.IOException => false }
    val nested = new Path(target, tmp.getName)
    if (fs.exists(nested)) {
      // Rename landed INSIDE a winner's complete generation. Deleting
      // in place would leave a window where a concurrent reader that
      // already started listing `target` sees the loser's nested
      // part-files beside the winner's (doubled rows / conflicting
      // footers — round-17 advice). Rename the nested dir back OUT to a
      // sibling first — a rename out of `target` restores a clean
      // listing in one atomic metadata op — then delete the sibling at
      // leisure. If even that rename fails, fall back to the in-place
      // delete (the pre-fix behavior: a narrow race beats a permanent
      // nested dir).
      val evicted = new Path(target.getParent, tmp.getName + ".lost")
      val out = try fs.rename(nested, evicted)
                catch { case _: java.io.IOException => false }
      fs.delete(if (out) evicted else nested, true)
    } else if (!renamed) {
      if (fs.exists(new Path(target, "_SUCCESS")))
        fs.delete(tmp, true) // lost the race to a complete install — fine
      else
        throw new java.io.IOException(
          s"scratch cache install failed: $tmp -> $target")
    }
  }

  private def gc(fs: FileSystem, root: Path, name: String, corpusKey: String,
                 target: Path, installedHere: Boolean): Unit = {
    // retired layouts, swept on sight: pre-round-13 grams (no corpus
    // key), the member-level "sigstore", and the BIGINT-element
    // "sigrep" (superseded in round 18 by the INT-element "sigrepi" —
    // same fingerprint, new format, so a name change is what versions
    // the cache; the trailing `_` keeps "sigrepi" itself unmatched)
    val legacy = ("graft_grams_[0-9a-f]{16}|graft_sigstore_.*|graft_sigrep_.*").r
    val cutoff = System.currentTimeMillis() - 3600L * 1000
    val weekOld = System.currentTimeMillis() - 7L * 86400 * 1000
    val entries: Array[FileStatus] =
      try fs.listStatus(root)
      catch { case scala.util.control.NonFatal(_) => Array.empty[FileStatus] }
    // Deletion scopes (round-17 advice — this GC now runs on SHARED
    // checkpoint storage, so a deletion here can fail a concurrent
    // job's in-flight scan, not just force a rebuild):
    //  * superseded generations of THIS (name, corpus): only the
    //    INSTALLING writer deletes them — the one process that knows a
    //    newer generation just landed; pure readers never delete, so a
    //    reader racing a writer can't sweep a generation the writer's
    //    own lazy frames still reference.
    //  * week-stale cross-corpus generations: mtime is access-bumped on
    //    every reuse (parquetFor), so "week old" means a week UNREAD —
    //    far beyond any plausible job over a cache it is actively
    //    scanning.
    //  * orphaned temps (incl. `.lost` eviction siblings): hour-old.
    val stale = entries.filter { st =>
      val n = st.getPath.getName
      n != target.getName && (
        (n.startsWith(s"graft_${name}_${corpusKey}_") &&
          (if (n.contains(".tmp-")) st.getModificationTime < cutoff
           else installedHere)) ||
        (n.startsWith(s"graft_${name}_") && st.getModificationTime < weekOld) ||
        legacy.matches(n))
    }
    val freed = stale.map(st => sizeOf(fs, st.getPath)).sum
    stale.foreach(st => fs.delete(st.getPath, true))
    log.info(
      f"[graft.memos] $name scratch ${sizeOf(fs, target) / 1048576.0}%.1f MB" +
        f" at ${target.getName} (gc ${stale.length} stale," +
        f" ${freed / 1048576.0}%.1f MB freed)")
  }

  private def sizeOf(fs: FileSystem, p: Path): Long =
    try fs.getContentSummary(p).getLength
    catch { case scala.util.control.NonFatal(_) => 0L }
}
