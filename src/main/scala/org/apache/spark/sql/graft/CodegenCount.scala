package org.apache.spark.sql.graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Janino compiles of generated code so far in this JVM: every codegen
  * cache miss (whole-stage and expression classes alike) is one. Spark's
  * `CodegenMetrics` is private to Spark; the difference of two readings is
  * the compiles a piece of work paid.
  */
object CodegenCount {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
