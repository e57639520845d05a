package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run must drain it
  * before reading what its listeners collected.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
