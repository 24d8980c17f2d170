package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, so per-op event counts are read only
  * after every event of the op has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
