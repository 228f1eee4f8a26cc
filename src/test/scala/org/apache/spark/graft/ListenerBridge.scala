package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-only bridge into `private[spark]` listener-bus draining, so
  * job-count assertions don't race the async listener events. */
object ListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsOf[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      waitUntilListenerBusEmpty(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
