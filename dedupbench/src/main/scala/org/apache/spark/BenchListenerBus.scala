package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: task
  * metrics arrive asynchronously, so a measurement window must drain the
  * bus before it reads its totals. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
