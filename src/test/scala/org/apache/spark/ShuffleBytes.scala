package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Shuffle bytes written by the tasks of one block of work, for specs
  * that bound what a plan moves. */
object ShuffleBytes {

  /** Shuffle bytes written by the tasks that `body` runs, and its result.
    * The bus is drained before and after `body`, so every task of `body`
    * is counted and none that finished before it. */
  def apply[T](sc: SparkContext)(body: => T): (Long, T) = {
    val bytes = new AtomicLong
    val tasks = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(tasks)
    try {
      val out = body
      ListenerBridge.drain(sc)
      (bytes.get, out)
    } finally sc.removeSparkListener(tasks)
  }
}
