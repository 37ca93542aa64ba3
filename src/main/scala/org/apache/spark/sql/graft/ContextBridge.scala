package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Public bridge over `private[spark]` SparkContext internals. */
object ContextBridge {
  def unpersistRDD(sc: SparkContext, rddId: Int, blocking: Boolean): Unit =
    sc.unpersistRDD(rddId, blocking)
}
