package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; counters read from a
  * listener are complete only once the bus has drained. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
