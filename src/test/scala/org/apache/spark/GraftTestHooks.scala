package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Test-only access to `private[spark]` internals: deterministic partial
  * eviction of a cached RDD, so HonestStatsSpec can exercise the
  * proportional-scaling path of [[graft.plans.HonestRddStats]] (VERDICT
  * r13 directive 6) without relying on real memory pressure; and a drain
  * of the listener bus, so a listener's count is complete when read. */
object GraftTestHooks {
  /** Drop one cached partition of an RDD from the block manager. */
  def dropRddBlock(sc: SparkContext, rddId: Int, partition: Int): Unit =
    SparkEnv.get.blockManager.master.removeBlock(RDDBlockId(rddId, partition))

  /** Block until every event posted so far has reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
