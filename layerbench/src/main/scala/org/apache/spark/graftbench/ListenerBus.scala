package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: the traced run drains it before
  * reading what its listeners collected, or late task and progress
  * events would fall out of the totals. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
