package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * a spec's listener has seen every job started before the call. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
