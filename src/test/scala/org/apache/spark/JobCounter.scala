package org.apache.spark

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. Only jobs submitted from the
  * calling thread (or threads it hands its local properties to, such as
  * AQE's broadcast and subquery threads) are counted, so stray jobs of
  * other work in the session cannot leak in. Spark delivers listener
  * events asynchronously, so the listener bus is drained before the count
  * is read (`listenerBus` is package-private, hence this file's package). */
object JobCounter {
  private val Tag = "graft.test.jobCounter"

  /** The block's result and the number of jobs it started. */
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val token = UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == token)
          jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    val prior = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, token)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, jobs.get)
    } finally {
      sc.setLocalProperty(Tag, prior)
      sc.removeSparkListener(listener)
    }
  }
}
