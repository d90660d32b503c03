package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a piece of work starts. Lives in a Spark
  * package for `listenerBus.waitUntilEmpty()`: job events reach
  * listeners asynchronously, so the bus is drained before the count is
  * read. */
object Jobs {
  private val key = "graft.jobs.counted"

  /** Runs `body` and returns how many jobs it started on this thread,
    * with its result. */
  def counted[T](sc: SparkContext)(body: => T): (Int, T) = {
    val tag = s"${Thread.currentThread().getId}-${System.nanoTime()}"
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(key, tag)
      val out = try body finally sc.setLocalProperty(key, null)
      sc.listenerBus.waitUntilEmpty()
      (n.get(), out)
    } finally sc.removeSparkListener(l)
  }
}
