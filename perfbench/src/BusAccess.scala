package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is private to the spark package. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
