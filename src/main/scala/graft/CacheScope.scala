package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** The one lifecycle for persisted intermediates.
  *
  * Operators persist multi-use subtrees (LSH signatures, gram indexes,
  * collapsed-group frames) so the shared stage is computed once per
  * query. Blocks that outlive their query pile up in a long-lived
  * session, and MEMORY_AND_DISK's LRU eviction then degrades later
  * queries (the round-5 sweep measured `dedup_jaccard_dupmap` at 19.1 s
  * in-sweep vs 6.8–11.2 s standalone from exactly this pressure).
  *
  * Operators call [[persist]] instead of `Dataset.persist` and return
  * their lazy frames without releasing anything. Code that RUNS its own
  * actions and returns only materialized or local results wraps its body
  * in [[within]]: `Pipeline.run`, `StreamPipeline.nearDupBatch`,
  * `Cluster.connectedComponents`, each `Memos` chain, and each Bench,
  * Verify, probe and stream-parity mark. The scope unpersists exactly the
  * frames persisted inside it, when the body returns or throws. Unpersisting
  * only drops cached blocks: a frame re-used afterwards recomputes from
  * lineage.
  *
  * Scopes are per thread and nest: [[persist]] registers in the innermost
  * open scope of the calling thread, so concurrent runners (the memo
  * chains' pool threads, a streaming micro-batch) never release each
  * other's frames, and an inner scope's exit leaves the outer scope's
  * frames cached. A persist made outside every scope lands in the
  * process-level registry, which [[drain]] releases; only callers that
  * drive operators by hand (a harness timing one layer at a time) need it.
  */
object CacheScope {
  private val unscoped = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]
  private val scopes = new ThreadLocal[List[java.util.ArrayList[Dataset[_]]]] {
    override def initialValue(): List[java.util.ArrayList[Dataset[_]]] = Nil
  }

  /** Persist `ds` at MEMORY_AND_DISK and register it with the innermost
    * open scope of this thread, or with the process-level registry when
    * none is open. Returns `ds` for chaining. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    scopes.get match {
      case frames :: _ => frames.add(ds)
      case Nil => unscoped.add(ds)
    }
    ds
  }

  /** Run `body`, then unpersist (non-blocking) every frame persisted in it
    * on this thread, whether it returns or throws. */
  def within[A](body: => A): A = {
    val frames = new java.util.ArrayList[Dataset[_]]
    scopes.set(frames :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      frames.forEach(release)
    }
  }

  /** Unpersist (non-blocking) every frame persisted outside any scope
    * since the last drain. Call after the actions that read them. */
  def drain(): Unit = {
    var ds = unscoped.poll()
    while (ds != null) {
      release(ds)
      ds = unscoped.poll()
    }
  }

  private def release(ds: Dataset[_]): Unit =
    try ds.unpersist(blocking = false)
    catch { case scala.util.control.NonFatal(_) => () } // session already stopped
}
