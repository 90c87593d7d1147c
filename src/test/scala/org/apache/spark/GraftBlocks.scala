package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Block-manager view for specs: the RDD blocks the cluster holds, and
  * a blocking drop of one RDD's blocks that leaves the RDD marked
  * persistent (what an executor loss does). The block manager master
  * is `private[spark]`; this shim lives in the `org.apache.spark`
  * package only to reach it. */
object GraftBlocks {
  def rddBlocks(sc: SparkContext): Set[RDDBlockId] =
    sc.env.blockManager.master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case b: RDDBlockId => b }.toSet

  def dropBlocks(sc: SparkContext, rddId: Int): Unit =
    sc.env.blockManager.master.removeRdd(rddId, blocking = true)
}
