package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.storage.RDDBlockId

/** Bridge to the block manager master (private[spark]), needed to read
  * how many bytes a pinned RDD's blocks really occupy
  * (graft.core.Pin). Lives under org.apache.spark for the private[spark]
  * scope; no logic beyond the sum. */
object StorageBridge {

  /** Bytes the block managers hold for `rddId`, memory plus disk. The
    * master records a block before the task that stored it finishes, so
    * after the job that materialized the RDD this is complete. */
  def storedBytes(rddId: Int): BigInt =
    SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.iterator)
      .collect { case (RDDBlockId(`rddId`, _), s) => BigInt(s.memSize) + s.diskSize }
      .sum
}
