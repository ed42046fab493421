package org.apache.spark

/** The listener bus drains asynchronously; reading task metrics before it
  * is empty would undercount the last jobs. `waitUntilEmpty` is
  * package-private to Spark, hence this one-method bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
