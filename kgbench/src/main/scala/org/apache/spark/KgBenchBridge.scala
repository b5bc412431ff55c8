package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark drains it before reading listener counters. */
object KgBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
