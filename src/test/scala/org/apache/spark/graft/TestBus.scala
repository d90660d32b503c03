package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; specs that count
  * jobs drain the bus before reading their counts. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
