package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.storage.RDDBlockId

/** Block-manager probes for specs (`SparkContext.env` and the listener
  * bus are `private[spark]`).
  */
object TestBlocks {

  /** RDD blocks of `rddIds` that any block manager still holds. */
  def rddBlocks(sc: SparkContext, rddIds: Set[Int]): Int =
    sc.env.blockManager.master.getMatchingBlockIds({
      case RDDBlockId(id, _) => rddIds(id)
      case _ => false
    }, askStorageEndpoints = true).size

  /** Run `body` with the app status queue slowed by `delayMs` per block
    * update — the lag a busy listener bus puts between a block being
    * stored and `getRDDStorageInfo` seeing it.
    */
  def withSlowStatusQueue[A](sc: SparkContext, delayMs: Long)(body: => A): A = {
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onBlockUpdated(
          b: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit = Thread.sleep(delayMs)
    }
    sc.listenerBus.addToStatusQueue(slow)
    try body finally sc.listenerBus.removeListener(slow)
  }
}
