package org.apache.spark.etlbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a span's counters are
  * complete only once the bus has delivered everything posted during it. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
