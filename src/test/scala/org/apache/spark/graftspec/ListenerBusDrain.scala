package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; specs that count
  * listener events read them only after every posted event has been
  * delivered, so they need this one call from inside the package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
