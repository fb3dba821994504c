package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.BroadcastBlockId

/** The Spark internals the benchmark reaches from outside graft: the block
  * manager's storage memory (pins plus broadcasts), its broadcast blocks,
  * and the listener-bus drain that makes per-query listener totals
  * complete. */
object SparkProbe {
  def storageMemoryUsed(): Long = {
    val env = SparkEnv.get
    if (env == null) 0L else env.memoryManager.storageMemoryUsed
  }

  /** Remove every broadcast's blocks now instead of whenever the context
    * cleaner gets to them after a garbage collection. Between queries no
    * live plan reads an earlier query's broadcasts. */
  def dropBroadcasts(): Unit = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isBroadcast)
      .collect { case b: BroadcastBlockId => b.broadcastId }
      .distinct.foreach(bm.removeBroadcast(_, tellMaster = true))
  }

  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
