package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every queued event, so a
  * spec can read what its listeners counted right after the work returns.
  * The bus is package-private to Spark, hence this shim's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
