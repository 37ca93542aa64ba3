package graft.util

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame

/** Registry of intermediates persisted INSIDE graft operators (LSH
  * candidate sets, funnel stage frames, CC's final labels). The
  * operators persist because their intermediate is referenced several
  * times in the returned plan — but the persist call is invisible to
  * the caller, so without this registry a long-lived session that
  * invokes them repeatedly accumulates MEMORY_AND_DISK entries until
  * the ContextCleaner notices the frames are unreachable (GC-timed) or
  * the caller nukes everything with `spark.catalog.clearCache()`
  * (which also evicts unrelated, caller-owned caches — and misses
  * RDD-level persists entirely).
  *
  * [[releaseAll]] is the precise middle ground: eagerly release
  * exactly the operator-internal entries, nothing else. Call it AFTER
  * materializing the operator's result (count/collect/write).
  * Persist-backed entries stay valid afterwards (they re-execute from
  * lineage if reused) — but severed entries ([[Lineage.severTracked]],
  * the labels [[graft.dedup.Dedup.connectedComponents]] returns) are
  * DESTRUCTIVE: a locally-checkpointed frame has no lineage to
  * recompute from, so reusing it after releaseAll fails with
  * checkpoint-block-not-found.
  * The contract is therefore: between releaseAll and the next query,
  * no frame returned by an operator may be re-executed. Thread-safe;
  * calling releaseAll twice is harmless (the queue drains).
  */
object IntermediateCaches {
  private val tracked = new ConcurrentLinkedQueue[Boolean => Unit]()

  /** Register an operator-internal persisted frame for later release. */
  private[graft] def track(df: DataFrame): DataFrame = {
    tracked.add(blocking => { df.unpersist(blocking); () })
    df
  }

  /** Register an arbitrary release action (e.g. the hook of a severed
    * frame, whose RDD-level persist `Dataset.unpersist` and
    * `catalog.clearCache` cannot reach). */
  private[graft] def trackRelease(release: Boolean => Unit): Unit =
    tracked.add(release)

  /** Eagerly release every tracked operator-internal cache. */
  def releaseAll(blocking: Boolean = false): Unit = {
    var r = tracked.poll()
    while (r != null) {
      r(blocking)
      r = tracked.poll()
    }
  }

  /** Number of currently tracked (not yet released) intermediates. */
  def trackedCount: Int = tracked.size()
}
