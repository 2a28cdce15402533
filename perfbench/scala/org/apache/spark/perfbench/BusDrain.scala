package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every queued event, so the
  * counters a listener fed can be read right after an op returns. The bus is
  * package-private to Spark; this shim is the benchmark's only use of it.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
