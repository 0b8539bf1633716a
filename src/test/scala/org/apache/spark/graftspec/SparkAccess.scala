package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Reaches the one `private[spark]` member the specs need: listener
  * events are delivered asynchronously, so a count read right after an
  * action must first wait for the bus to drain.
  */
object SparkAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
