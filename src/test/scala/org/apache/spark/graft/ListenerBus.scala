package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Draining the listener bus is package-private to Spark: specs that count
  * listener events call this so every event of an action has arrived. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
