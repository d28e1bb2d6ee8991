package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event (throws
  * `TimeoutException` after 10 s); `listenerBus` is package-private to
  * `org.apache.spark`. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
