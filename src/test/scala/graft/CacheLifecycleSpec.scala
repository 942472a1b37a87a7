package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** CacheLifecycle — the self-release listener behind the public-API
  * cached intermediates. Pins the r19-ADVICE leak bound: listeners
  * for frames that are never materialized are evicted (unregistered
  * AND released) once more than [[CacheLifecycle.MaxOutstanding]] are
  * outstanding, and a materialized frame removes its own listener.
  * Also pins that the public APIs ending in a persisted range sort
  * release the frame that sort reads.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("abandoned frames evict oldest-first past the cap; fire removes self") {
    import spark.implicits._
    val before = CacheLifecycle.outstandingCount
    var released = Vector.empty[Int]
    // register cap+3 listeners, never materializing any frame
    val n = CacheLifecycle.MaxOutstanding + 3
    (1 to n).foreach { i =>
      CacheLifecycle.selfReleasing(
        Seq(i).toDF("x"), () => released :+= i)
    }
    assert(CacheLifecycle.outstandingCount - before <= CacheLifecycle.MaxOutstanding,
      "outstanding listeners must be capped")
    // the 3 oldest of THIS batch were evicted and their releases ran
    // (pre-existing outstanding listeners, if any, evict first)
    assert(released.size >= 3, s"expected >= 3 evictions, got $released")
    assert(released == released.sorted, "eviction must be oldest-first")

    // a materialized frame fires its listener and leaves the queue
    val mid = CacheLifecycle.outstandingCount
    var fired = false
    val df = CacheLifecycle.selfReleasing(
      Seq(1, 2, 3).toDF("x"), () => fired = true)
    assert(df.count() == 3)
    // QueryExecutionListener delivery is async — poll for the fire
    val deadline = System.nanoTime() + 5e9.toLong
    while (!fired && System.nanoTime() < deadline) Thread.sleep(10)
    assert(fired, "listener must release after the first materialization")
    assert(CacheLifecycle.outstandingCount <= mid,
      "a fired listener must remove itself from the outstanding queue")
  }

  test("APIs ending in a persisted range sort release their tail after one action") {
    import spark.implicits._
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def cached(plan: LogicalPlan): Boolean =
      spark.sharedState.cacheManager.lookupCachedData(classic, plan).nonEmpty
    // the frame the API persisted is the child of its final sort
    def persistedTail(out: DataFrame): LogicalPlan =
      out.queryExecution.analyzed.collectFirst { case s: Sort => s.child }.get
    def checkReleased(api: String, out: DataFrame): Unit = {
      val tail = persistedTail(out)
      assert(cached(tail), s"$api must persist its tail before the sort")
      assert(out.collect().nonEmpty, s"$api returned no rows")
      // QueryExecutionListener delivery is async — poll for the release
      val deadline = System.nanoTime() + 10e9.toLong
      while (cached(tail) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!cached(tail), s"$api left its result frame cached after the action")
    }

    val history = Seq((2L, Array(0.9, 0.1)), (4L, Array(1.0, 0.05)), (6L, Array(0.1, 1.0)))
      .toDF("vec_id", "embedding")
    val batch = Seq((1L, Array(0.95, 0.0)), (3L, Array(0.0, 1.0))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))).toDF("c_id", "centroid")
    checkReleased("annProbe", api.Graft.annProbe(history, batch, cents))

    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today ok"))
      .toDF("my_id", "body")
    checkReleased("nearDupClusters",
      api.Graft.nearDupClusters(corpus, col("my_id"), col("body")))
  }
}
