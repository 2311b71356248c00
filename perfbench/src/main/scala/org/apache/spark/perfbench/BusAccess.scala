package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is private[spark]; the benchmark's traced
  * runs must wait for it to drain before reading listener counters, so
  * this accessor lives under the org.apache.spark package. */
object BusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
