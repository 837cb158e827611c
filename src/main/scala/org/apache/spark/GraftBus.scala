package org.apache.spark

import org.apache.spark.storage.BlockId

/** Reads Spark internals that are private to its own package. */
object GraftBus {

  /** Waits until every listener event posted so far has been delivered,
    * so the status tracker has seen each job an entry started. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The RDD and broadcast blocks this driver's block manager holds, with
    * their memory plus disk bytes (in local mode the driver's block
    * manager is the only one). */
  def blocks(sc: SparkContext): Map[BlockId, Long] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds(id => id.isRDD || id.isBroadcast)
      .flatMap(id => bm.getStatus(id).map(s => id -> (s.memSize + s.diskSize)))
      .toMap
  }
}
