package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the scheduler's listener bus, which is spark-private. The
  * traced run drains it before reading listener totals, so the last
  * job's task events are counted. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
