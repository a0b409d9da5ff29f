package org.apache.spark

/** Listener-bus drain for specs that read their own listeners: the bus is
  * private to Spark, and every task and SQL-execution event of a finished
  * job must be delivered before a spec reads its totals. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
