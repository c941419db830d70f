package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
  * The listener bus is asynchronous and its drain is Spark-private, so a
  * reader of listener-collected state calls this first. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
