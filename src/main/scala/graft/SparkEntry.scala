package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Met
import graft.operators._

/** Driver contract (SURVEY.md §7 + TESTDATA.md): one `queries` entry per
  * implemented operator family, each with a DuckDB oracle in `oracleSql`.
  *
  * Determinism rules used throughout (the driver hash-compares values):
  *  - SUMs go through DECIMAL(38,10) so both engines compute the exact sum
  *    and convert once to double (`dsum`); means are dsum/count.
  *  - Quantities whose FP result depends on accumulation order or libm
  *    (stddev, corr, trig) are rounded to 5-6 decimals on BOTH sides.
  *  - Time buckets are emitted as epoch seconds (BIGINT) to dodge
  *    timestamp-precision representation differences (parquet us vs ns).
  *  - Every query ORDER BYs a unique key.
  */
object SparkEntry {

  // Shared helpers live in graft.GateHelpers; the per-family
  // gate maps live in src/main/scala/graft/gates/ (r8 split).

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_revenue")(spark, "/root/testdata/sf0.001")

  // =========================================================================
  // Queries — each returns a deterministic DataFrame over the sf tables.
  // =========================================================================
  /** One entry per implemented operator, assembled from the
    * per-family gate files. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    GatesCore.queries ++
    GatesPlant.queries ++
    GatesDedup.queries ++
    GatesAnn.queries ++
    GatesText.queries ++
    GatesCuration.queries ++
    GatesSampling.queries ++
    GatesGraph.queries ++
    GatesEvents.queries ++
    GatesDiag.queries

  /** DuckDB oracles. Key set == queries key set — since r7 every gate is
    * oracle-backed: ops whose hash/centroid/merge/codec internals aren't
    * SQL-expressible gate on engine-portable CLAIMS (planted-structure
    * recall, coverage, monotonicity) the oracle verifies in closed form.
    */
  def oracleSql: Map[String, String] = Oracles.sql
}

