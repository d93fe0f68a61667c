package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * a test's listener has seen everything its action posted. The bus is
  * package-private to Spark, hence this helper's package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
