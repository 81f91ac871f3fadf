package org.apache.spark

/** The listener bus's drain is `private[spark]`; the benchmark's
  * listeners run on that bus, so their records are complete only once
  * every posted event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
