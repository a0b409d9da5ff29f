package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the listener bus (private[spark]), needed to wait until
  * every event already posted has been delivered: task ends, SQL
  * execution starts and ends, and the QueryExecutionListener callbacks
  * those drive (graft.tools.ExplainDump, and specs that read their own
  * listeners).
  * Lives under org.apache.spark for the private[spark] scope; no logic
  * of its own. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
