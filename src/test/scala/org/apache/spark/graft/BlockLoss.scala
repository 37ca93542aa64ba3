package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to `private[spark]` block-manager internals. */
object BlockLoss {
  /** Drops every block of RDD `rddId` from every executor, as losing
    * them would, while the RDD stays registered as persisted. */
  def dropBlocks(sc: SparkContext, rddId: Int): Unit =
    sc.env.blockManager.master.removeRdd(rddId, blocking = true)
}
