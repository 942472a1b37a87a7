package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two private[spark] reads the benchmark's tracer needs. */
object Bus {
  /** Waits until every posted event has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Operation scope of the last RDD a stage computes ("Exchange" for
    * the RDDs a shuffle exchange builds, including its range-bound
    * sampling job). */
  def lastRddScope(s: StageInfo): String =
    if (s.rddInfos.isEmpty) ""
    else s.rddInfos.maxBy(_.id).scope.map(_.name).getOrElse("")
}
