package org.apache.spark

/** Reaches `LiveListenerBus.waitUntilEmpty`, which is `private[spark]`:
  * the benchmark drains the bus before reading any listener counter, so
  * every event of a finished operation has been delivered. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
