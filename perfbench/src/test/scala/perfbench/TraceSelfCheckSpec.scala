package perfbench

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** The traced run's self-check: per request, the layer spans (tracer
  * clock) account for the wall time a separate stopwatch measured around
  * the request, and no job or task attributed to the request lies
  * outside it (listener clock), both within `Main.AccountingTolerance`.
  * Also pins the per-layer shape the
  * benchmark's workloads rely on: converting a corpus runs no range
  * sort and no shuffle; a graded operator runs both. */
class TraceSelfCheckSpec extends AnyFunSuite {
  private val work = Paths.get("target", "test-work", "trace").toAbsolutePath

  private def tracedPass(spark: org.apache.spark.sql.SparkSession, w: Workload) = {
    val tr = new Tracer(spark, true)
    val off = new Tracer(spark, false)
    w.requests.foreach { r => r.before(); r.run(off) } // warm
    val probe = new PassProbe(tr, w)
    w.requests.zipWithIndex.foreach { case (r, i) =>
      r.before()
      probe.beforeRequest()
      val q0 = System.nanoTime()
      tr.request(i, r.name)(r.run(tr))
      probe.afterRequest(i, (System.nanoTime() - q0) / 1e6)
    }
    val res = probe.finish()
    tr.close()
    (res._1.toMap, res._2)
  }

  test("per-request accounting and layer shape on both kinds of workload") {
    val spark = Main.session(work)
    try {
      val corpus = Corpus.convert(3, work.resolve("input"), shards = 2, shardBytes = 16000)
      val (conv, convAcc) = tracedPass(spark,
        new Workloads.ConvertCorpus(spark, corpus, work.resolve("output")))
      val ops = new Workloads.OperatorSession(spark, Paths.get("data", "sf0.001").toAbsolutePath.toString,
        Seq("op_set_union"), Map.empty)
      val (op, opAcc) = tracedPass(spark, ops)

      (convAcc ++ opAcc).foreach { a =>
        val tol = Main.AccountingTolerance + 10.0 / a("wall_ms")
        assert(a("sum_err_frac") <= tol, a)
        assert(a("outside_frac") <= tol, a)
        assert(a("busy_ms") > 0.0 && a("busy_ms") <= a("wall_ms"), a)
      }
      assert(conv("sort.sample_jobs") == 0.0 && conv("shuffle.write_mb") == 0.0)
      assert(conv("sources.scan_files") == corpus.docs.toDouble)
      assert(conv("sources.sink_mb") > 0.0 && conv("operators.build_jobs") == 0.0)
      assert(op("sort.sample_jobs") > 0.0 && op("shuffle.write_mb") > 0.0)
      assert(op("sched.jobs") >= op("sort.sample_jobs"))
    } finally spark.stop()
  }
}
