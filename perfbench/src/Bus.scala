package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a
  * phase boundary sees all events its jobs posted. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
