package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The two `private[spark]` reads the benchmark's probe needs. */
object SparkInternals {
  /** Deliver every queued listener event, so counters read at a span
    * boundary hold exactly the work that ran inside the span. */
  def flushListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes the block manager holds in memory and on disk. */
  def storageBytes(sc: SparkContext): Long =
    sc.env.blockManager.master.getStorageStatus.map(s => s.memUsed + s.diskUsed).sum
}
