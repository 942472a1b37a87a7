package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** The benchmark driver: one JVM, one client thread, a closed loop of
  * requests against a `local[N]` session (N = available processors).
  *
  * A run: generate the workload's inputs from the seed; set up
  * [[Setups]] times (session build plus one unmeasured warm pass, the
  * first of which is the output check) and report the median; then
  * measure whole passes for at least `--seconds` and at least the
  * workload's `minPasses`. With `--trace 1`, measured passes alternate
  * untraced and traced, and the per-layer metrics come from the traced
  * ones.
  * The last stdout line is the result JSON.
  */
object Main {
  val Setups = 3
  /** Per-request accounting tolerance of the traced run (share of the
    * request's wall time, plus 10 ms for millisecond event stamps). */
  val AccountingTolerance = 0.05

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, data: String, expected: Path, recordDigests: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("data")).toAbsolutePath.toString, Paths.get(need("expected")).toAbsolutePath,
      m.getOrElse("record-digests", "0") == "1")
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  /** Linear-interpolated percentile ((n-1)·p rule). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val x = (s.size - 1) * p / 100.0
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (x - lo)
    }
  }

  /** Heap occupancy after garbage collection (heap pools only, no
    * Metaspace or code cache), maximized over a window. Two sources: the
    * collections the workload causes, from the collectors' notifications,
    * and the full collection the benchmark runs between passes, read
    * synchronously once `System.gc()` returns (its notification, which
    * arrives on another thread, is skipped by its cause). */
  private object Heap {
    private var open = false
    private var peak = 0L
    private var collections = 0
    /** After-GC heap bytes at each request boundary, in order. */
    val boundaries = mutable.ArrayBuffer.empty[Long]
    private def offer(used: Long, workload: Boolean): Unit = synchronized {
      if (open) {
        if (workload) collections += 1 else boundaries += used
        if (used > peak) peak = used
      }
    }
    /** Starts the window. */
    def start(): Unit = synchronized { open = true; peak = 0L; collections = 0; boundaries.clear() }
    /** Ends the window: (peak bytes, collections the workload caused). */
    def stop(): (Long, Int) = synchronized { open = false; (peak, collections) }
    private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val l = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcCause != "System.gc()")
            offer(info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum, workload = true)
        }
    }
    def fullGc(): Unit = {
      System.gc()
      offer(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed, workload = false)
    }
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ => ()
    }
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: Path): SparkSession = {
    val s = graft.api.GraftSession.builder(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Inputs from the seed, and a factory that binds them to a session. */
  private def inputs(a: Args): SparkSession => Workload = {
    val in = a.work.resolve("input")
    deleteTree(in)
    a.workload match {
      case "convert_corpus" =>
        val c = Corpus.convert(a.seed, in, shards = 6, shardBytes = 256 * 1024)
        val out = a.work.resolve("output")
        deleteTree(out)
        s => new Workloads.ConvertCorpus(s, c, out)
      case "operator_session" =>
        val expected: Map[String, String] =
          if (!Files.exists(a.expected)) Map.empty
          else {
            val n = new ObjectMapper().readTree(Files.readString(a.expected))
            n.fieldNames().asScala.map(k => k -> n.get(k).asText).toMap
          }
        s => new Workloads.OperatorSession(s, a.data, Workloads.OperatorSet, expected)
      case other => sys.error(s"unknown workload '$other' (known: ${Workloads.Names.mkString(", ")})")
    }
  }

  final case class ReqTime(pass: Int, index: Int, sec: Double, ok: Boolean)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val bind = inputs(a)
    val inputS = (System.nanoTime() - t0) / 1e9

    // ---- set-up, several times; the last session stays for the run.
    // The first (cold-JVM, slowest) set-up's warm pass is the untimed
    // output check: it runs every request and verifies what it returns,
    // and its time is the maximum the median discards.
    var spark: SparkSession = null
    var w: Workload = null
    var checks: Seq[(String, Option[String])] = Seq.empty
    val setupS = mutable.ArrayBuffer.empty[Double]
    val buildS = mutable.ArrayBuffer.empty[Double]
    for (k <- 1 to Setups) {
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = session(a.work)
      val b = (System.nanoTime() - s0) / 1e9
      w = bind(spark)
      if (k == 1 && !a.recordDigests) checks = w.check()
      else {
        val off = new Tracer(spark, false)
        w.requests.foreach { r =>
          r.before()
          try r.run(off) catch { case e: Throwable => System.err.println(s"[warm] ${r.name}: $e") }
        }
      }
      buildS += b
      setupS += (System.nanoTime() - s0) / 1e9
    }
    checks.collect { case (n, Some(why)) => System.err.println(s"[check] $n: $why") }

    if (a.recordDigests) {
      val ow = w.asInstanceOf[Workloads.OperatorSession]
      val m = new java.util.TreeMap[String, String]()
      ow.digests().foreach { case (k, v) => m.put(k, v) }
      Files.writeString(a.expected, new ObjectMapper().writerWithDefaultPrettyPrinter()
        .writeValueAsString(m) + "\n")
      println(s"recorded ${m.size} digests to ${a.expected}")
      spark.stop()
      return
    }

    // ---- measured passes
    val tracer = new Tracer(spark, a.trace)
    val off = new Tracer(spark, false)
    Heap.install()
    val times = mutable.ArrayBuffer.empty[ReqTime]
    val passS = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val layers = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val accounting = mutable.ArrayBuffer.empty[Map[String, Double]]
    val minPasses = if (a.trace) math.max(4, w.minPasses) else w.minPasses
    // Set-ups run the requests in their listed order, measured passes in
    // the seed's rotation of it. Every seed thus warms the JVM on the same
    // sequence and runs the same cycle of neighbours, so what a request
    // leaves behind for the next is the same; only the starting point
    // moves.
    val rot = Math.floorMod(a.seed, w.requests.size.toLong).toInt
    val order = w.requests.indices.drop(rot) ++ w.requests.indices.take(rot)
    val m0 = System.nanoTime()
    Heap.start()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - m0) / 1e9 < a.seconds) {
      val traced = a.trace && pass % 2 == 1
      val tr = if (traced) tracer else off
      val probe = if (traced) Some(new PassProbe(tracer, w)) else None
      var passSec = 0.0
      order.foreach { i =>
        val r = w.requests(i)
        // A full collection at every request boundary, outside the timed
        // region: no request pays for its predecessor's garbage, and the
        // heap read after it is what the previous request (or the set-up)
        // left live, cache included, whatever order the seed gives.
        Heap.fullGc()
        probe.foreach(_.beforeRequest())
        val b0 = System.nanoTime()
        r.before()
        val q0 = System.nanoTime()
        val ok = try { tr.request(i, r.name)(r.run(tr)); true }
          catch { case e: Throwable => System.err.println(s"[run] ${r.name}: $e"); false }
        val q1 = System.nanoTime()
        val sec = (q1 - q0) / 1e9
        passSec += (q1 - b0) / 1e9
        times += ReqTime(pass, i, sec, ok)
        probe.foreach(_.afterRequest(i, sec * 1e3))
      }
      passS += traced -> passSec
      probe.foreach { pr =>
        val (l, acc) = pr.finish()
        layers += l
        accounting ++= acc
      }
      pass += 1
    }
    Heap.fullGc()
    val (heapPeak, heapCollections) = Heap.stop()
    val measuredS = (System.nanoTime() - m0) / 1e9

    // ---- metrics
    val untimed = passS.filterNot(_._1).map(_._2).toSeq
    val lat = times.filter(t => !(a.trace && t.pass % 2 == 1)).map(_.sec).toSeq
    val nMin = minPasses * w.requests.size
    val tailPct = math.max(50.0, math.floor(100.0 * (1.0 - 10.0 / nMin)))
    val failedRuns = times.count(!_.ok)
    val failedChecks = checks.count(_._2.isDefined)
    val attempted = times.size + checks.size
    val failed = failedRuns + failedChecks
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setupS.toSeq), "s"),
      "pass_s" -> (median(untimed), "s"),
      "latency_s.p50" -> (median(lat), "s"),
      "latency_s.tail" -> (percentile(lat, tailPct), "s"),
      "throughput_mb_s" -> (w.passInputMb / median(untimed), "MB/s"),
      "ok_frac" -> (1.0 - failed.toDouble / attempted, "frac"),
      "peak_heap_mb" -> (heapPeak / 1e6, "MB"))

    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (a.trace) {
      val traced = passS.filter(_._1).map(_._2).toSeq
      perLayer("api.session_build_s") = (median(buildS.toSeq), "s")
      layers.head.map(_._1).foreach { k =>
        perLayer(k) = (median(layers.map(_.toMap.apply(k)).toSeq), PassProbe.unit(k))
      }
      val (cMb, pMb) = functionsMbS(w.sampleTexts)
      perLayer("functions.convert_mb_s") = (cMb, "MB/s")
      perLayer("functions.parse_mb_s") = (pMb, "MB/s")
      perLayer("trace.overhead_frac") = ((median(traced) - median(untimed)) / median(untimed), "frac")
    }
    tracer.close()
    spark.stop()

    val detail = new java.util.LinkedHashMap[String, Any]()
    detail.put("workload", a.workload); detail.put("seed", a.seed); detail.put("trace", a.trace)
    detail.put("cores", cores); detail.put("input_s", inputS); detail.put("measured_s", measuredS)
    detail.put("setup_s_each", setupS.asJava); detail.put("session_build_s_each", buildS.asJava)
    detail.put("pass_s_untraced", untimed.asJava)
    detail.put("pass_s_traced", passS.filter(_._1).map(_._2).asJava)
    detail.put("latency_samples", lat.size); detail.put("latency_tail_percentile", tailPct)
    detail.put("requests", w.requests.map(_.name).asJava)
    detail.put("request_s", times.map(t => java.util.List.of(t.pass, t.index, t.sec)).asJava)
    detail.put("heap_collections", heapCollections)
    detail.put("heap_after_full_gc_mb", Heap.boundaries.map(_ / 1e6).asJava)
    detail.put("failed_runs", failedRuns); detail.put("failed_checks", failedChecks)
    detail.put("check_failures", checks.collect { case (n, Some(y)) => s"$n: $y" }.asJava)
    if (a.trace) {
      detail.put("accounting_tolerance", AccountingTolerance)
      detail.put("accounting", accounting.map(_.asJava).asJava)
    }
    val om = new ObjectMapper()
    Files.writeString(a.work.resolve(s"detail_${a.workload}_${a.seed}_${if (a.trace) 1 else 0}.json"),
      om.writerWithDefaultPrettyPrinter().writeValueAsString(detail) + "\n")

    // ---- human summary, then the result line
    val shown = if (a.trace) perLayer else e2e
    println(f"workload ${a.workload} seed ${a.seed} cores $cores passes ${passS.size} " +
      f"requests ${times.size} (tail = p${tailPct}%.0f of ${lat.size} samples) " +
      s"failed_frac ${failed.toDouble / attempted}")
    shown.foreach { case (k, (v, u)) => println(f"  $k%-26s $v%14.6f $u") }
    val metrics = new java.util.LinkedHashMap[String, Any]()
    shown.foreach { case (k, (v, u)) =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("value", if (v.isNaN || v.isInfinite) 0.0 else v); m.put("unit", u)
      metrics.put(k, m)
    }
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", failed == 0)
    result.put("attempted", attempted)
    result.put("failed", failed)
    result.put("metrics", metrics)
    println(om.writeValueAsString(result))
  }

  /** Single-thread `Graft.convertText` / `Graft.parseFile` throughput
    * over the workload's own documents, MB/s (one untimed warm sweep). */
  def functionsMbS(texts: Seq[String]): (Double, Double) = {
    val docs = texts.take(400)
    val mb = docs.map(_.getBytes(UTF_8).length.toLong).sum / 1e6
    def rate(f: String => Unit): Double = {
      docs.foreach(f)
      var n = 0
      val s0 = System.nanoTime()
      while (n < 3 || (System.nanoTime() - s0) < 500000000L) { docs.foreach(f); n += 1 }
      mb * n / ((System.nanoTime() - s0) / 1e9)
    }
    (rate(t => graft.api.Graft.convertText(t)), rate(t => graft.api.Graft.parseFile(t)))
  }
}
