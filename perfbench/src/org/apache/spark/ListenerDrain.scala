package org.apache.spark

/** Waits until the SparkContext's listener bus has delivered every
  * event posted so far. The bus is asynchronous and its drain call is
  * Spark-internal, so the benchmark reaches it from this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
