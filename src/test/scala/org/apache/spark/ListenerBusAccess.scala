package org.apache.spark

/** Test-scope access to the context's listener bus (`private[spark]`):
  * wait until every posted event has reached the listeners, so a
  * listener-side count is complete when an action returns. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
