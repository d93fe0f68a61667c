package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * listener aggregates read afterwards are complete. The bus is
  * package-private to Spark, hence this helper's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = { sc.listenerBus.waitUntilEmpty(60000L); () }
}
