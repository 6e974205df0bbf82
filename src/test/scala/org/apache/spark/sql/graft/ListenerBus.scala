package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The driver's listener bus is private to Spark; specs that count events
  * drain it so every event posted so far has reached their listener.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
