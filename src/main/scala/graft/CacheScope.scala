package graft

import org.apache.spark.sql.DataFrame

/** Governed scope for operator-internal caches.
  *
  * Several operators cache a relation that is referenced many times
  * within one action (the graph edge list across PageRank iterations,
  * the MinHash pair graph across label-propagation rounds, the
  * quantized PCA matrix across power iterations). The cache is
  * essential *during* that action — but a bare `.cache()` outlives the
  * query: across a 239-query bench/verify session the leaked entries
  * accumulate in the session CacheManager, hold storage memory, and
  * lengthen every later query's plan-canonicalization cache lookup
  * (r10 verdict item 3).
  *
  * The operator cannot unpersist at exit itself: its RESULT is a lazy
  * plan over the cached relation, and materializing it inside the
  * operator (e.g. localCheckpoint) would replace the declarative plan
  * with an RDD scan — killing the plan audit and moving physical
  * strategy choice away from Catalyst. So scoping is split:
  * operators REGISTER caches here via [[cached]]; the harness that
  * consumed the result (Bench / Verify / RunOne / scale smokes / a
  * spec) calls [[drain]] after its action completes. Registration is a
  * queue, so nested operators compose; double-draining is a no-op.
  *
  * On a real cluster the discipline is identical — the driver program
  * that ran the query unpersists after its terminal action — and the
  * cost of re-materializing a drained cache in a later query is one
  * linear rebuild, never a correctness change.
  */
object CacheScope {
  private val ledger = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** `df.cache()` + register the entry for the next [[drain]]. */
  def cached(df: DataFrame): DataFrame = {
    df.cache()
    ledger.add(df)
    df
  }

  /** Unpersist every registered cache. Non-blocking: the CacheManager
    * entry is removed immediately (so a leak assertion sees an empty
    * manager); block eviction proceeds asynchronously.
    */
  def drain(): Unit = {
    var df = ledger.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = ledger.poll()
    }
  }

  /** Block-scoped caches: `body` receives a `cache` function, and every
    * relation passed to it stays cached until the block exits; the
    * `finally` unpersists them, so an error still releases them. For
    * code that consumes its caches before returning (a commit, a
    * collect); a lazy operator result that outlives its builder uses
    * [[cached]].
    */
  def scoped[T](body: (DataFrame => DataFrame) => T): T = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df => held += df.cache(); df }
    finally held.reverseIterator.foreach(_.unpersist())
  }

  /** Registered-but-not-yet-drained entry count (spec observability). */
  def pendingCount: Int = ledger.size()
}
