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

  /** (RDD blocks stored while `body` ran, RDD blocks of the RDDs it made
    * still held afterwards). Those RDDs are the ids between two fresh
    * marker RDDs; block removal is asynchronous, so the second figure is
    * read once it reaches 0, or after 30 s.
    */
  def storedAndLeft(sc: SparkContext)(body: => Unit): (Int, Int) = {
    val stored = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onBlockUpdated(
          b: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
        b.blockUpdatedInfo.blockId match {
          case _: RDDBlockId if b.blockUpdatedInfo.storageLevel.isValid =>
            stored.incrementAndGet()
          case _ => ()
        }
    }
    val first = sc.emptyRDD[Int].id
    sc.addSparkListener(listener)
    try {
      body
      shims.waitForListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    val ids = (first + 1 until sc.emptyRDD[Int].id).toSet
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (rddBlocks(sc, ids) > 0 && System.nanoTime < deadline) Thread.sleep(50)
    (stored.get, rddBlocks(sc, ids))
  }

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
