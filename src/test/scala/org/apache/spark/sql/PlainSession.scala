package org.apache.spark.sql

import org.apache.spark.SparkContext

/** A session on a running SparkContext with none of the extensions of
  * the sessions built on it: Spark's own analyzer and optimizer only.
  */
object PlainSession {
  def on(sc: SparkContext): SparkSession = new classic.SparkSession(sc)
}
