package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** The two Spark internals the harness reads; both are private to Spark. */
object SparkInternals {

  /** Waits until the listener bus has delivered every event posted so far,
    * so per-operation counters are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Every RDD block the block managers hold now, as (RDD id, bytes in
    * memory and on disk). Unlike `SparkContext.getRDDStorageInfo`, this
    * includes blocks of RDDs already unpersisted but not yet removed. */
  def rddBlocks(sc: SparkContext): Seq[(Int, Long)] =
    sc.env.blockManager.master.getStorageStatus.toSeq.flatMap(_.rddBlocks.toSeq.collect {
      case (id: RDDBlockId, s) => id.rddId -> (s.memSize + s.diskSize)
    })
}
