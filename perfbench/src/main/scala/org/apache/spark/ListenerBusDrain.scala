package org.apache.spark

/** Blocks until every event posted so far has reached the listeners.
  * The listener bus is asynchronous: without this, counters read right
  * after an action returns can miss that action's last stage and job. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
