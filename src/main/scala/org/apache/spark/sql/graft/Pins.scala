package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Scoped eager pins: materialize an intermediate once and release it when
  * the scope ends.
  *
  * The rule: pin only an intermediate that later plans re-read, and whose
  * grain is bounded by an input's (a filtered fact table, a per-timestamp
  * or per-day aggregate — never a fan-out). Every reference to an unpinned
  * DataFrame re-plans and re-runs its whole lineage; a pin turns N re-runs
  * into one job plus N scans of cached blocks. A result read once gains
  * nothing from a pin and pays its job. Two corollaries:
  *
  *  - a projection or explode of an input or of another pin is not
  *    pinned: re-running it costs less than the pin's job. A selective
  *    filter (a few deleted rows out of an index) may be;
  *  - loop state is pinned each round, so the plan stays one round deep
  *    instead of growing by a round's joins per iteration.
  *
  * `pin` is `localCheckpoint(eager = true)`: the lineage is cut, so later
  * plans over the pin neither re-optimize nor match it against the cache
  * manager (an eager `cache()` + `count()` pays that plan matching on every
  * later query, and measured slower on the analyses). A local checkpoint's
  * blocks live in a persisted RDD that `Dataset.unpersist()` does not
  * reach; [[scoped]] unpersists every RDD its pins created when the body
  * returns or throws, so nothing outlives the scope. A pinned DataFrame
  * must not be used after its scope ends.
  */
final class Pins private {
  private val rdds = mutable.ArrayBuffer.empty[RDD[_]]

  def pin(df: DataFrame): DataFrame = {
    val ckpt = df.localCheckpoint(true)
    rdds ++= ckpt.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    ckpt
  }

  private def release(): Unit = {
    rdds.foreach(_.unpersist(blocking = false))
    rdds.clear()
  }
}

object Pins {
  def scoped[T](body: Pins => T): T = {
    val pins = new Pins
    try body(pins) finally pins.release()
  }
}
