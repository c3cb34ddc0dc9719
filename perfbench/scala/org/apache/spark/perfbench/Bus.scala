package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the (package-private) live listener bus, so the benchmark can
 * settle its counters by draining the bus instead of sleeping. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
