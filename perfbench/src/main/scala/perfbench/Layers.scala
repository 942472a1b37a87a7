package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer numbers of one traced pass, from the tracer's spans and
  * listener records, plus the per-request time accounting.
  *
  * Created right before the pass (it drains the listener bus and opens
  * the cache-peak window); `beforeRequest` and `afterRequest` bracket
  * each request: the latter takes the request's wall time from the
  * caller's own stopwatch and samples what the request left cached and
  * in its sink. The per-pass wall time is the sum of the requests',
  * which leaves out whatever the caller does between them. `finish`
  * drains again and aggregates. */
final class PassProbe(tr: Tracer, w: Workload) {
  tr.drain()
  tr.openPeak()
  private val span0 = tr.spans.size
  private val phase0 = tr.phases.size
  private val task0 = tr.tasks.size
  private val files0 = tr.scanFiles
  private var gc = 0L
  private var gcAtStart = PassProbe.gcMs
  private val t0 = tr.nowMs
  private val residual = mutable.ArrayBuffer.empty[Long]
  private val sink = mutable.Map.empty[Int, Long]
  private val wall = mutable.Map.empty[Int, Double]

  def beforeRequest(): Unit = gcAtStart = PassProbe.gcMs

  def afterRequest(i: Int, wallMs: Double): Unit = {
    gc += PassProbe.gcMs - gcAtStart
    residual += tr.storedBytes
    sink(i) = w.sinkBytes(i)
    wall(i) = wallMs
  }

  def finish(): (Seq[(String, Double)], Seq[Map[String, Double]]) = {
    val t1 = tr.nowMs
    tr.drain()
    val peak = tr.closePeak()
    val spans = tr.spans.slice(span0, tr.spans.size).toSeq
    val ids = spans.map(_.id).toSet
    val byId = spans.map(s => s.id -> s).toMap
    def under(id: Int, name: String): Boolean =
      byId.get(id).exists(s => s.name == name || under(s.parent, name))
    val jobs = tr.jobs.values.filter(j => ids(j.span)).toSeq
    val tasks = tr.tasks.slice(task0, tr.tasks.size).filter(t => ids(t.span)).toSeq
    val phases = tr.phases.slice(phase0, tr.phases.size).toSeq
    val resultStages = tasks.filter(_.result).map(_.stage).toSet
    val sample = jobs.filter(j => j.finalScope == "Exchange" && resultStages(j.finalStage))
    val wallMs = wall.values.sum
    val scanMb = tasks.map(_.inBytes).sum / 1e6
    val cpuS = tasks.map(_.cpuNs).sum / 1e9
    val busy = Tracer.unionLength(Tracer.clip(tasks.map(t => (t.launch.toDouble, t.finish.toDouble)), t0, t1))
    def spanS(name: String) = spans.filter(_.name == name).map(_.dur).sum / 1e3
    def phaseS(name: String) = phases.filter(_.name == name).map(p => p.end - p.start).sum / 1e3
    val commitMs = spans.filter(s => s.name == "operators.exec" && sink.getOrElse(s.req, 0L) > 0L)
      .flatMap { s =>
        val ends = jobs.filter(_.span == s.id).map(_.end).filter(_ > 0)
        if (ends.isEmpty) None else Some(math.max(0.0, s.end - ends.max))
      }.sum

    val m = mutable.LinkedHashMap[String, Double](
      "sources.scan_mb" -> scanMb,
      "sources.scan_files" -> (tr.scanFiles - files0).toDouble,
      "sources.sink_mb" -> sink.values.sum / 1e6,
      "sources.sink_commit_s" -> commitMs / 1e3,
      "plans.kernel_mb_s_core" -> (if (cpuS > 0) scanMb / cpuS else 0.0),
      "operators.build_s" -> spanS("operators.build"),
      "operators.build_jobs" -> jobs.count(j => under(j.span, "operators.build")).toDouble,
      "operators.exec_s" -> spanS("operators.exec"),
      "catalyst.analyze_s" -> phaseS("analysis"),
      "catalyst.optimize_s" -> phaseS("optimization"),
      "catalyst.plan_s" -> phaseS("planning"),
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> ids.toSeq.map(tr.stagesBySpan).sum.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.busy_frac" -> tasks.map(t => (t.finish - t.launch).toDouble).sum / (wallMs * Main.cores),
      "sched.idle_s" -> (wallMs - busy) / 1e3,
      "shuffle.write_mb" -> tasks.map(_.shufWrite).sum / 1e6,
      "shuffle.read_mb" -> tasks.map(_.shufRead).sum / 1e6,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_mb" -> tasks.map(_.spillBytes).sum / 1e6,
      "sort.sample_jobs" -> sample.size.toDouble,
      "sort.sample_s" -> sample.map(j => (j.end - j.start).toDouble).sum / 1e3,
      "cache.stored_mb_peak" -> peak / 1e6,
      "cache.residual_mb" -> residual.sum / 1e6,
      "cache.evicted_blocks" -> tasks.map(_.evicted).sum.toDouble,
      "jvm.gc_s" -> gc / 1e3)

    // Per-request accounting. Two checks that can fail: the layer spans
    // (tracer clock) must cover the wall time the caller's stopwatch
    // measured around the request, and no job or task attributed to the
    // request may lie outside it (listener clock). busy/idle split the
    // wall time by task activity; idle is wall - busy by definition.
    val acc = spans.filter(_.parent == -1).map { r =>
      val sub = spans.filter(_.req == r.req)
      val subIds = sub.map(_.id).toSet
      val jIv = jobs.filter(j => subIds(j.span) && j.end > 0).map(j => (j.start.toDouble, j.end.toDouble))
      val bIv = tasks.filter(t => subIds(t.span)).map(t => (t.launch.toDouble, t.finish.toDouble))
      val outside = (jIv ++ bIv).map { case (s, e) =>
        (e - s) - Tracer.unionLength(Tracer.clip(Seq((s, e)), r.start, r.end)) }.sum
      val wallMs = wall.getOrElse(r.req, r.dur)
      val layersMs = sub.filter(_.parent == r.id).map(_.dur).sum
      val busyR = Tracer.unionLength(Tracer.clip(bIv, r.start, r.end))
      val err = math.abs(layersMs - wallMs) / wallMs
      val outFrac = outside / wallMs
      val tol = Main.AccountingTolerance + 10.0 / wallMs
      Map("request" -> r.req.toDouble, "wall_ms" -> wallMs, "layers_ms" -> layersMs,
        "busy_ms" -> busyR, "idle_ms" -> (wallMs - busyR),
        "sum_err_frac" -> err, "outside_frac" -> outFrac,
        "ok" -> (if (err <= tol && outFrac <= tol) 1.0 else 0.0))
    }
    (m.toSeq, acc)
  }
}

object PassProbe {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def unit(metric: String): String = metric match {
    case m if m.endsWith("_mb") || m.endsWith("_mb_peak") => "MB"
    case m if m.endsWith("_mb_s_core") => "MB/s/core"
    case m if m.endsWith("_mb_s") => "MB/s"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_frac") => "frac"
    case _ => "count"
  }
}
