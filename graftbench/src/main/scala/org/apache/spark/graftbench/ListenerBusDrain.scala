package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so the
  * counts a listener keeps are complete when they are read. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
