package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; reading a listener's
  * figures right after an action needs every event of that action
  * delivered first. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
