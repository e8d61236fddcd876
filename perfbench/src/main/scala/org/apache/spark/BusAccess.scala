package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * counters read at a span boundary include the work done inside it.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
