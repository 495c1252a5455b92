package org.apache.spark

/** The listener bus is private to Spark; this is the one place the
  * benchmark reaches it, to wait until every posted event was delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
