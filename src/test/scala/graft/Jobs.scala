package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{ListenerBusAccess, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Job counting for specs: for a fixed plan and input the number of
  * Spark jobs is deterministic, so a pinned count shows an added or
  * removed job where timing noise cannot. */
object Jobs {
  /** `f`'s result and the number of Spark jobs it started. */
  def count[T](sc: SparkContext)(f: => T): (T, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      ListenerBusAccess.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}
