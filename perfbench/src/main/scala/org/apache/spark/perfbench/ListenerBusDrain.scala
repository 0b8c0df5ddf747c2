package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the benchmark reads
  * its listener's counters only after every posted event has been
  * delivered, so it needs this one call from inside the package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
