package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.classic
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
  *  - loop state is pinned each round with [[loop]], so the plan stays one
  *    round deep instead of growing by a round's joins per iteration.
  *
  * `pin` is `localCheckpoint(eager = true)`: the lineage is cut, so later
  * plans over the pin neither re-optimize nor match it against the cache
  * manager (an eager `cache()` + `count()` pays that plan matching on every
  * later query, and measured slower on the analyses). The checkpoint keeps
  * the origin plan's Catalyst statistics (`LogicalRDD.originStats`), so
  * join selection over a pin still sees the pre-pin size estimate.
  *
  * `loop` is the same checkpoint with those statistics dropped. Carried
  * statistics are a time bomb for loop state: `SizeInBytesOnlyStatsPlanVisitor`
  * estimates a join as the PRODUCT of its children's `sizeInBytes`, so a
  * round whose plan reads the previous round's state twice (a self-join,
  * or a lazy 1-row total folded back via crossJoin) roughly SQUARES the
  * carried estimate every round. The number is a `BigInt`: after ~20
  * rounds it has millions of bits and every planning pass disappears into
  * Toom-Cook multiplication — measured on the Bradley–Terry MM loop as 6
  * rounds = 0.4 s/round, 24 rounds = hung (>10 min inside
  * `BigInteger.multiply` under `visitJoin`). A `loop` pin plans from the
  * engine default estimate instead; AQE re-plans from runtime sizes
  * anyway, so nothing is lost at execution time. It keeps the
  * checkpoint's output partitioning and ordering.
  *
  * A local checkpoint's blocks live in a persisted RDD that
  * `Dataset.unpersist()` does not reach. When the body of [[Pins.scoped]]
  * returns or throws, the scope unpersists every RDD its pins created,
  * except those a DataFrame result still reads (the `LogicalRDD`s of its
  * logical plan): an operator may return its last loop state, or a lazy
  * frame over its pins. Those survive the scope; a scope nested in another
  * on the same thread hands them to the enclosing scope, which releases
  * them in turn unless its own result reads them. Any other pinned
  * DataFrame must not be used after its scope ends.
  */
final class Pins private {
  private val rdds = mutable.ArrayBuffer.empty[RDD[_]]

  def pin(df: DataFrame): DataFrame = {
    val ckpt = df.localCheckpoint(true)
    rdds ++= ckpt.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    ckpt
  }

  def loop(df: DataFrame): DataFrame = {
    val ckpt = pin(df)
    val session = ckpt.sparkSession.asInstanceOf[classic.SparkSession]
    val relation = ckpt.queryExecution.logical.asInstanceOf[LogicalRDD]
    classic.Dataset.ofRows(session, relation.copy()(session, None, None))
  }
}

object Pins {
  private val enclosing = new ThreadLocal[Pins]

  def scoped[T](body: Pins => T): T = {
    val pins = new Pins
    val outer = enclosing.get
    enclosing.set(pins)
    var read = Set.empty[Int]
    try {
      val result = body(pins)
      read = result match {
        case df: Dataset[_] =>
          df.queryExecution.logical.collectWithSubqueries { case r: LogicalRDD => r.rdd.id }.toSet
        case _ => Set.empty[Int]
      }
      result
    } finally {
      enclosing.set(outer)
      val (kept, released) = pins.rdds.partition(r => read(r.id))
      released.foreach(_.unpersist(blocking = false))
      if (outer != null) outer.rdds ++= kept
    }
  }
}
