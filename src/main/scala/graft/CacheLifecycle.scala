package graft

import org.apache.spark.sql.DataFrame

/** Shared cache-lifecycle helper for code paths that return a
  * DataFrame backed by a persisted intermediate: registers a one-shot
  * listener that calls `release()` after the first terminal action
  * whose plan reads `result`, so the PUBLIC APIs don't leak cached
  * frames into a long-lived session (per-call corpora differ there,
  * so CacheManager's plan-keyed dedup can't collapse the entries).
  *
  * The GRADED operator paths do NOT wire this listener: their
  * persisted intermediates and [[OpQuery.gradedSort]] tails stay
  * cached until the caller clears the cache (`operator_session` in
  * `perfbench` reads `cache.residual_mb` > 0 after each request;
  * `Bench` and `Verify` clear the SQL cache before every query).
  * Releasing them when their query completes is ROADMAP direction
  * 4(c). Graded paths drop the `Managed` handle; public APIs wrap
  * with this helper, including the APIs that end in `gradedSort`
  * (they release the sorted frame's persisted child).
  *
  * Semantics: the first materialization of the result (or any frame
  * derived from it) runs on the warm cache; the release fires after
  * it completes, so a SECOND materialization recomputes the stages —
  * correct, just slower. Callers that materialize more than once hold
  * the explicit handle from the `*Managed` variant instead.
  *
  * Leak bound (r19 ADVICE): a caller that builds a frame but never
  * runs an action would otherwise leave its listener installed for
  * the session's lifetime, and every outstanding listener runs an
  * O(|plan|) subtree scan on every later query. Registration is
  * therefore capped at [[MaxOutstanding]]: admitting a new listener
  * past the cap evicts the OLDEST one (unregister + release — an
  * early unpersist only costs that stale frame a recompute if it is
  * ever materialized after all; unpersist is idempotent, so the
  * eviction racing the listener's own fire is harmless).
  */
private[graft] object CacheLifecycle {

  /** Cap on concurrently outstanding self-release listeners — sized
    * for "a burst of API calls whose actions haven't run yet", not
    * for abandonment at scale. */
  private[graft] val MaxOutstanding = 32

  private val outstanding = new java.util.concurrent.ConcurrentLinkedQueue[
    (org.apache.spark.sql.util.QueryExecutionListener,
     () => Unit,
     org.apache.spark.sql.SparkSession)]()

  /** Outstanding listener count — spec hook. */
  private[graft] def outstandingCount: Int = outstanding.size

  def selfReleasing(pair: (DataFrame, () => Unit)): DataFrame =
    selfReleasing(pair._1, pair._2)

  def selfReleasing(result: DataFrame, release: () => Unit): DataFrame = {
    val sp = result.sparkSession
    // The ANALYZED plan, not queryExecution.logical: a write action's
    // QueryExecution wraps the frame's analyzed plan in a command, and
    // derived frames (counts, projections) embed it as an analyzed
    // subtree — the unanalyzed plan (unresolved attributes) never
    // sameResult-matches either, so a logical-plan target would fire
    // only for a bare collect() on the exact returned Dataset.
    val target = result.queryExecution.analyzed
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      private def maybeRelease(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        // Terminal actions on the result (or any frame derived from it)
        // carry its analyzed plan as a subtree; unrelated queries
        // don't. Guard the analyzed access: onFailure can deliver a
        // query that never finished analysis.
        if (scala.util.Try(qe.analyzed.exists(_.sameResult(target)))
              .getOrElse(false) && fired.compareAndSet(false, true)) {
          release()
          sp.listenerManager.unregister(this)
          outstanding.removeIf(_._1 eq this)
        }
      override def onSuccess(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        maybeRelease(qe)
      override def onFailure(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
        maybeRelease(qe)
    }
    sp.listenerManager.register(listener)
    outstanding.add((listener, release, sp))
    // evict past the cap, oldest first: the abandoned frame's cache
    // entry is dropped NOW instead of never, and its listener stops
    // scanning every future query's plan
    while (outstanding.size > MaxOutstanding) {
      val old = outstanding.poll()
      if (old != null) {
        old._3.listenerManager.unregister(old._1)
        old._2()
      }
    }
    result
  }
}
