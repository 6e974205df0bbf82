package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which is private to Spark. The
  * tracer drains it at the end of every span so that every job, stage and
  * task event of the span has reached the listener before it is read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
