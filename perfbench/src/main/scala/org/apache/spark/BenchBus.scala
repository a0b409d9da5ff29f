package org.apache.spark

/** Listener-bus drain for the benchmark's listener: the bus is private to
  * Spark, and task metrics must all be delivered before a pass's totals are
  * read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
