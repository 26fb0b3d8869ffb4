package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: counters read right after an action
  * can miss that action's last events. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line shim. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
