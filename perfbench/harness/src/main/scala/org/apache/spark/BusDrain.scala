package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * traced span's jobs, stages and query executions are all recorded
  * before the next span starts. The bus is package-private to Spark.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
