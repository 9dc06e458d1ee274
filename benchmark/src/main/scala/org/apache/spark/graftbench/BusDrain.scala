package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: blocks until every event
  * posted so far has been delivered to every listener, so counters read
  * afterwards are complete without polling or sleeping. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
