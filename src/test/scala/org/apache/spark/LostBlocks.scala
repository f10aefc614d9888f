package org.apache.spark

import org.apache.spark.rdd.RDD

/** Simulates the loss of an RDD's cached blocks (as a dead executor
  * loses them): the blocks go, the RDD keeps its storage level, so the
  * next reader finds nothing cached. Lives in the `org.apache.spark`
  * package tree solely for access to the block manager. */
object LostBlocks {
  def drop(rdd: RDD[_]): Unit = SparkEnv.get.blockManager.master.removeRdd(rdd.id, true)
}
