package graft.tools

/** Dev-only single-query timer: runs one (or a few) registered graded
  * queries with the Bench methodology (noop write of the full plan,
  * warm pass + best-of-N) without paying the 137-query suite — for
  * iterating on one operator's plan before a full floor run. Each
  * recorded run also reports its Spark job count (`SparkListenerJobStart`
  * events): `jobs` is the total, `build_jobs` the jobs started inside
  * `build` (eager driver-side actions and schema inference, told apart
  * by a local property set around `build`). For a fixed plan and input
  * both are deterministic, so they show a removed job where timing
  * noise cannot.
  *
  * Run: `sbt "Test/runMain graft.tools.BenchOne <op,op,...> [runs]
  * [sfDir]"` (defaults 3, /root/testdata/sf0.1; cpus via
  * SPARK_GRAFT_CPUS, default 4 — the driver bench cadence).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <op,op,...> [runs] [sfDir]")
    val names = args(0).split(",").filter(_.nonEmpty).toSeq
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val sfDir = args.drop(2).headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.api.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = graft.SparkEntry.queries
    names.foreach(n => require(qs.contains(n), s"unknown query $n"))
    // same warm-up as graft.Bench since r21: uncached table scans (page
    // cache + footers + probe memo), NO .cache() — every timed rep
    // below clears the SQL cache first and computes from parquet
    graft.sources.Tables.all.filterNot(_ == "events").foreach { t =>
      try graft.sources.Tables(spark, sfDir, t)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    try graft.sources.Tables.events(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val sc = spark.sparkContext
    val Phase = "graft.benchone.phase"
    val jobs, buildJobs = new java.util.concurrent.atomic.AtomicInteger
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (Option(e.properties).exists(_.getProperty(Phase) == "build")) buildJobs.incrementAndGet()
      }
    })
    for (n <- names) {
      // (seconds, jobs, jobs inside build) of one cleared-cache run
      def once(): (Double, Int, Int) = {
        spark.sharedState.cacheManager.clearCache()
        org.apache.spark.ListenerBusAccess.drain(sc)
        jobs.set(0); buildJobs.set(0)
        val t0 = System.nanoTime()
        sc.setLocalProperty(Phase, "build")
        val df = try qs(n)(spark, sfDir) finally sc.setLocalProperty(Phase, null)
        df.write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        org.apache.spark.ListenerBusAccess.drain(sc)
        (s, jobs.get, buildJobs.get)
      }
      once() // warm (JIT + codegen + footers), unrecorded
      val rs = (1 to runs).map(_ => once())
      val ss = rs.map(_._1)
      println(f"[benchone] $n%-32s best=${ss.min}%6.3f s  all=[${ss.map(s => f"$s%.3f").mkString(", ")}]" +
        s"  jobs=[${rs.map(_._2).mkString(", ")}]  build_jobs=[${rs.map(_._3).mkString(", ")}]")
    }
    spark.stop()
  }
}
