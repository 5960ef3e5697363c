package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Bridge to the `private[spark]` checkpoint, block-manager master and
  * unpersist calls of checkpoint liveness and release. None runs a job. */
object BlockBridge {
  def isLocalCheckpoint(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])

  /** Partitions of `rdd` no block manager holds. Reads the master's block
    * table, which blocks update as they are stored — unlike the listener-fed
    * status store behind `SparkContext.getRDDStorageInfo`. */
  def missingBlocks(rdd: RDD[_]): Int = {
    val ids: Array[BlockId] = Array.tabulate(rdd.partitions.length)(RDDBlockId(rdd.id, _))
    rdd.context.env.blockManager.master.getLocations(ids).count(_.isEmpty)
  }

  /** Drops `rdd`'s blocks without `RDD.unpersist`'s warning that a local
    * checkpoint cannot be recomputed. */
  def release(rdd: RDD[_]): Unit = rdd.context.unpersistRDD(rdd.id, blocking = false)

  /** Drops one block everywhere: what an executor loss does. */
  def dropBlock(rdd: RDD[_], partition: Int): Unit =
    rdd.context.env.blockManager.master.removeBlock(RDDBlockId(rdd.id, partition))
}
