package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a
  * spec's listener has seen all jobs started before the call. The bus
  * is package-private to Spark.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
