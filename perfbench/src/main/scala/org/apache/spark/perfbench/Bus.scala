package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the live listener bus, which is private to Spark. Listener
  * events arrive asynchronously, so counters read right after an action
  * can miss that action's last job and task events, and counters reset
  * right after one can pick up the previous one's; draining the bus
  * first makes both exact. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
