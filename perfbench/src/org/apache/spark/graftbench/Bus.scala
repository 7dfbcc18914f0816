package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not expose: events reach a
  * listener asynchronously, so a reader of recorded jobs must first wait
  * until every posted event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
