package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the benchmark must wait for it to
  * deliver every task-end event before it reads its stage roll-up. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
