package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.storage.RDDBlockId

/** Block-manager probes for specs (`SparkContext.env` is `private[spark]`). */
object TestBlocks {

  /** RDD blocks of `rddIds` that any block manager still holds. */
  def rddBlocks(sc: SparkContext, rddIds: Set[Int]): Int =
    sc.env.blockManager.master.getMatchingBlockIds({
      case RDDBlockId(id, _) => rddIds(id)
      case _ => false
    }, askStorageEndpoints = true).size
}
