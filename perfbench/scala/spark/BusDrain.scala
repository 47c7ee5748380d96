package org.apache.spark

/** Waits until every event posted so far has reached the listeners. The
  * listener bus is asynchronous and its drain call is package-private, so
  * the benchmark reaches it from inside the package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
