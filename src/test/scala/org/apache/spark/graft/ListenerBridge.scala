package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-only bridge into `private[spark]` listener-bus draining, so
  * job-count assertions don't race the async listener events. */
object ListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsOf[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, jobs) = jobDescriptionsOf(sc)(body)
    (out, jobs.size)
  }

  /** `body`'s result and the description of each Spark job it started
    * (`spark.job.description`; "" when unset), in start order. */
  def jobDescriptionsOf[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION)))
          .getOrElse("")); ()
      }
    }
    waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      waitUntilListenerBusEmpty(sc)
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
