package org.apache.spark

/** Waits until every queued listener event has been delivered: listener
  * delivery is asynchronous, so counts read right after an action can
  * miss its last events.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
