package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every event already posted to the listener bus has been
  * delivered, so counts read after it are complete. The bus is
  * `private[spark]`, hence this package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
