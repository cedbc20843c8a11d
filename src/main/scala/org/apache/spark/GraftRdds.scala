package org.apache.spark

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** Package-placed shim (the [[GraftListenerBus]] convention):
  * `RDD.checkpointData` and `SparkContext.unpersistRDD` are
  * `private[spark]`. `RDD.unpersist` logs "was locally checkpointed, its
  * lineage has been truncated" for every locally checkpointed RDD, and
  * graft frees such blocks on purpose, once nothing will read them again
  * (`Lifecycle.release`'s sweep, the connected-components round frees),
  * so that warning would drown the one a real lost lineage raises. Only
  * Spark's public artifact is referenced. */
object GraftRdds {
  /** Drop `rdd`'s blocks. A materialized local checkpoint goes straight
    * to `SparkContext.unpersistRDD`, which `RDD.unpersist` itself calls
    * after its warning: its lineage is cut, so every later read fails on
    * the missing checkpoint block whatever its storage level says. Any
    * other RDD keeps `RDD.unpersist`, which also resets its storage
    * level, so a cached RDD cannot re-cache outside the sweep's view. */
  def free(rdd: RDD[_], blocking: Boolean): Unit = rdd.checkpointData match {
    case Some(_: LocalRDDCheckpointData[_]) if rdd.isCheckpointed =>
      rdd.sparkContext.unpersistRDD(rdd.id, blocking)
    case _ =>
      rdd.unpersist(blocking); ()
  }
}
