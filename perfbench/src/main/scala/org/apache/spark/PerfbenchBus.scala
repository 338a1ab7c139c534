package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * a traced pass reads complete task counts before it is summed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
