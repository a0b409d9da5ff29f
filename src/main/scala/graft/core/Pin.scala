package graft.core

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.{DatasetBridge, StorageBridge}

/** The one way library code pins an intermediate: an eager
  * `localCheckpoint` whose plan reports the pinned blocks' real size.
  *
  * A raw `localCheckpoint()` keeps the optimizer's size estimate from
  * BEFORE it was materialized: a 100-row checkpoint cut from a
  * 10^5 × 10^5 join still reports the join's estimate (hundreds of GB).
  * A join whose only broadcastable side is the pinned one — a left-semi
  * join restricting a big frame to pinned ids — is then planned as a
  * sort-merge join, which shuffles the big side too: the dedup verify
  * legs shuffled the whole corpus text this way to join it against a
  * few dozen candidate ids, before AQE turned the join into a
  * broadcast. [[apply]] rewraps the checkpoint with the stored size of
  * its blocks, so the planner broadcasts a small pinned side and keeps a
  * sort-merge join for a large one, by the session's ordinary
  * thresholds.
  *
  * Executor loss: the blocks live only in executor storage and the
  * lineage is cut, so a job that reads a lost block fails loudly; it
  * never recomputes and never returns different rows. */
object Pin {

  /** Eager local checkpoint of `df`, sized by its stored blocks. The
    * size is at least 1 byte: a join's size estimate is the product of
    * its children's, so a 0 would zero every join above an empty frame.
    * The result reads the checkpoint's RDD, so [[free]] and the timing
    * tools' reset ([[graft.tools.Timing.reset]]) reach its blocks. */
  def apply(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.queryExecution.logical match {
      case lr: LogicalRDD =>
        val session = cp.sparkSession.asInstanceOf[classic.SparkSession]
        val stats = Statistics(StorageBridge.storedBytes(lr.rdd.id).max(1))
        DatasetBridge.ofRows(session,
          lr.copy()(session, Some(stats), Some(lr.constraints)))
      case _ => cp
    }
  }

  /** Free the executor-storage blocks of every pin `df` reads NOW
    * instead of when the ContextCleaner GCs them: `df` may be a pin
    * itself or any frame built on pins (a join of two, a verifier's
    * output). Every `LogicalRDD` leaf of its logical plan (the node a
    * checkpoint reads), subqueries included, has its RDD unpersisted.
    * A pin's own inputs sit behind its lineage cut, so freeing a frame
    * never reaches them.
    *
    * `Dataset.unpersist` does NOT do this: it only uncaches cache-manager
    * entries (`.cache()`/`.persist()`), and a checkpoint's persisted RDD
    * lives outside the cache manager — so calling unpersist on a
    * checkpointed frame is a silent no-op and the blocks linger until a
    * driver GC cycle notices the RDD is unreachable. This reaches each
    * RDD through its LogicalRDD node and unpersists it directly; the
    * timing tools' reset ([[graft.tools.Timing.reset]]), a
    * `getPersistentRDDs` sweep, reaches the same RDDs.
    *
    * Caller contract: the caller owns every pin `df` reads — no other
    * live frame may still need one of them — and nothing executes those
    * pins afterwards, through `df` or any other frame: the checkpoint
    * truncated their lineage, so re-execution would fail rather than
    * silently recompute. The usual caller materializes a result built on
    * pins, then frees the result. */
  def free(df: DataFrame): Unit =
    df.queryExecution.logical.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }
      .distinct.foreach(_.unpersist(blocking = false))
}
