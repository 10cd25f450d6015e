package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Reads the driver's Tungsten page size, the size its memory store
  * holds a broadcast value at and the sizes of a broadcast's serialized
  * pieces; all are package-private to Spark.
  */
object TungstenProbe {
  def pageSizeBytes: Long = SparkEnv.get.memoryManager.pageSizeBytes

  /** Bytes the memory store reports for broadcast `id`'s deserialized value. */
  def broadcastValueBytes(id: Long): Long =
    SparkEnv.get.blockManager.memoryStore.getSize(BroadcastBlockId(id))

  /** Sizes of the serialized pieces the driver's block manager holds for
    * broadcast `id`, in piece order.
    */
  def broadcastPieceBytes(id: Long): Seq[Long] =
    Iterator.from(0)
      .map(k => SparkEnv.get.blockManager.getStatus(BroadcastBlockId(id, s"piece$k")))
      .takeWhile(_.isDefined)
      .map(s => s.get.memSize + s.get.diskSize)
      .toSeq
}
