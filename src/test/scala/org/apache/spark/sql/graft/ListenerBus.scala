package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The driver's listener bus is private to Spark; specs that count events
  * drain it so every event posted so far has reached their listener.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The number of Spark jobs `body` starts. */
  def countJobs(sc: SparkContext)(body: => Any): Int = {
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(counter)
    try {
      body
      drain(sc)
    } finally sc.removeSparkListener(counter)
    jobs.get
  }
}
