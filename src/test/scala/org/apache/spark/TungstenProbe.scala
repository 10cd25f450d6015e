package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Reads the driver's Tungsten page size and the size its memory store
  * holds a broadcast value at; both are package-private to Spark.
  */
object TungstenProbe {
  def pageSizeBytes: Long = SparkEnv.get.memoryManager.pageSizeBytes

  /** Bytes the memory store reports for broadcast `id`'s deserialized value. */
  def broadcastValueBytes(id: Long): Long =
    SparkEnv.get.blockManager.memoryStore.getSize(BroadcastBlockId(id))
}
