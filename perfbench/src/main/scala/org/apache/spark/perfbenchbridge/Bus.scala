package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a
  * traced unit's trace is complete before its listener is removed. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
