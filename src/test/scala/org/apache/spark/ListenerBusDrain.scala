package org.apache.spark

/** Waits for the listener bus to deliver every event posted so far:
  * listener counts read after it are complete. `listenerBus` is
  * package-private to Spark; this object lives in Spark's package to
  * reach it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
