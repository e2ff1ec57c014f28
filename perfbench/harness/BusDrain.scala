package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; a pass's counters are read only
  * after every event it posted has been delivered. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
