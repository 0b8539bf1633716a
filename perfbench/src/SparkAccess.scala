package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the one `private[spark]` member the harness needs: listener
  * events are delivered asynchronously, so counters read right after an
  * action must first wait for the bus to drain.
  */
object SparkAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
