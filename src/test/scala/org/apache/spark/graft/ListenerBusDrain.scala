package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event already posted to the listener bus has
  * been delivered, so what a spec's listener recorded is complete. The
  * bus is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
