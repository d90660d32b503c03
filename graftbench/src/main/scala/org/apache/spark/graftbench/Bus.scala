package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events (jobs, stages, tasks, query executions and streaming
  * progress) reach listeners asynchronously. The harness drains the bus
  * at every measurement boundary so counts read there are complete.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
