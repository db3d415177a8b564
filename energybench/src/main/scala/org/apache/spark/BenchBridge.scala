package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run must see every task-end event of a span before it reads the
  * span's counters.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
