package org.apache.spark

/** The listener bus's idle wait is `private[spark]`; the benchmark's probe
  * needs it to read its counters only after every event has arrived.
  */
object LcbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
