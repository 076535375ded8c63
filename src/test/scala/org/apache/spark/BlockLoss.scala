package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Test hooks on an RDD's cached blocks, read and dropped through the block
  * manager master: dropping them while the RDD stays persisted is what
  * losing the executors that held them does, and the next job that reads
  * them recomputes them from lineage.
  */
object BlockLoss {
  def dropCachedBlocks(rddId: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)

  /** How many of the RDD's partitions some block manager holds. */
  def cachedPartitions(rddId: Int, partitions: Int): Int =
    (0 until partitions).count(p => SparkEnv.get.blockManager.master.getLocations(RDDBlockId(rddId, p)).nonEmpty)
}
