package perfbench

import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call into a layer. Times are wall-clock milliseconds
  * with sub-millisecond digits (driver `nanoTime` anchored to the epoch
  * once), so they compare with the listener's epoch-millisecond event
  * times. `parent` is -1 for a request's root span. */
final case class Span(id: Int, name: String, parent: Int, req: Int,
    start: Double, var end: Double) {
  def dur: Double = end - start
}

final case class JobRec(id: Int, span: Int, start: Long, var end: Long,
    finalStage: Int, finalScope: String)
final case class TaskRec(stage: Int, span: Int, launch: Long, finish: Long,
    result: Boolean, runNs: Long, cpuNs: Long, inBytes: Long,
    shufWrite: Long, shufRead: Long, fetchWaitMs: Long, spillBytes: Long,
    evicted: Int)
final case class PhaseRec(name: String, start: Long, end: Long)

/** In-memory tracer. Spans are recorded from the benchmark's own calls
  * into each layer; a benchmark-owned `SparkListener` and
  * `QueryExecutionListener` record jobs, stages, tasks, blocks and the
  * Catalyst phases. Jobs carry the id of the span that submitted them
  * (a local property, which Spark also hands to AQE's stage threads),
  * so listener counts are attributed to the span they occurred in;
  * Catalyst phases are attributed by time. With `enabled = false` a
  * span is a plain call and no listener is attached.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanProp = "perfbench.span"
  private val sc: SparkContext = spark.sparkContext
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var req = -1

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]
  private val stageSpan = mutable.Map.empty[Int, Int]
  val stagesBySpan = mutable.Map.empty[Int, Int].withDefaultValue(0)
  var scanFiles = 0L
  private val blockBytes = mutable.Map.empty[String, Long]
  private var blockTotal = 0L
  @volatile private var peakOpen = false
  private var blockPeak = 0L

  def request[T](id: Int, name: String)(body: => T): T = {
    req = id
    try span(name)(body) finally req = -1
  }

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, parent, req, nowMs, 0.0)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body finally {
      s.end = nowMs
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
    }
  }

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val fin = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      val scope = fin.map(org.apache.spark.perfbench.Bus.lastRddScope).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, spanOf(e.properties), e.time, -1L,
        fin.map(_.stageId).getOrElse(-1), scope)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val sp = spanOf(e.properties)
      stageSpan(e.stageInfo.stageId) = sp
      stagesBySpan(sp) += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks += TaskRec(e.stageId, stageSpan.getOrElse(e.stageId, -1),
        i.launchTime, i.finishTime, e.taskType == "ResultTask",
        m.executorRunTime * 1000000L, m.executorCpuTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
        m.updatedBlockStatuses.count { case (id, st) => id.isRDD && st.memSize == 0 && st.diskSize == 0 })
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockManagerId.executorId + "/" + b.blockId.name
        val now = b.memSize + b.diskSize
        blockTotal += now - blockBytes.getOrElse(key, 0L)
        if (now == 0) blockBytes.remove(key) else blockBytes(key) = now
        if (peakOpen) blockPeak = math.max(blockPeak, blockTotal)
      }
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (n, p) => phases += PhaseRec(n, p.startTimeMs, p.endTimeMs) }
      scanFiles += Tracer.planNodes(qe.executedPlan)
        .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
  }

  /** Waits until every posted event has reached the listeners. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  /** Opens a cache-peak window at the current stored total. */
  def openPeak(): Unit = Tracer.this.synchronized { blockPeak = blockTotal; peakOpen = true }
  def closePeak(): Long = synchronized { peakOpen = false; blockPeak }

  /** RDD-block bytes the block manager holds right now. */
  def storedBytes: Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }
}

object Tracer {
  /** Every node of an executed plan, through AQE wrappers, query stages
    * and subqueries. */
  def planNodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ planNodes(q.plan)
    case o => Iterator(o) ++ o.children.iterator.flatMap(planNodes) ++
      o.subqueries.iterator.flatMap(planNodes)
  }

  /** Total length of the union of intervals (any unit). */
  def unionLength(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def clip(iv: Iterable[(Double, Double)], lo: Double, hi: Double): Iterable[(Double, Double)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
}
