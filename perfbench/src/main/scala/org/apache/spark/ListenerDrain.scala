package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * listener counts read afterwards are complete. The bus is internal to
  * Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
