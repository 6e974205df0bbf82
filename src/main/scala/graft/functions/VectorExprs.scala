package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{ArrayDot, ColumnBridge}

/** Public wrappers for graft's codegen'd dense-vector kernels (see
  * [[org.apache.spark.sql.graft.ArrayDot]] for the design rationale).
  */
object VectorExprs {
  /** Codegen'd dot product of two array<double> columns; summation order is
    * sequential (index 0..n-1), identical to the HOF fold it replaces, so
    * results are bit-identical.
    */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd element-wise a - b over two array<double> columns (the
    * interpreted `zip_with(a, b, _ - _)` replacement for hot map paths:
    * PCA centering, IVF-PQ residuals).
    */
  def sub(a: Column, b: Column): Column =
    ColumnBridge.column(org.apache.spark.sql.graft.ArraySub(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd multi-table sign-LSH bucketing: one input fetch, one
    * (table, bit, dim) loop — see
    * [[org.apache.spark.sql.graft.HyperplaneBuckets]].
    */
  def hyperplaneBuckets(vec: Column, w: Array[Double], tables: Int,
                        bits: Int, dims: Int): Column =
    ColumnBridge.column(org.apache.spark.sql.graft.HyperplaneBuckets(
      ColumnBridge.expression(vec), w, tables, bits, dims))

  /** MinHash signature aggregate over two base-hash columns: ONE aggregate
    * producing the array<long> signature (see
    * [[org.apache.spark.sql.graft.MinHashAgg]]).
    */
  def minHashSignature(h1: Column, h2: Column, numHashes: Int): Column =
    ColumnBridge.column(org.apache.spark.sql.graft.MinHashAgg(
      ColumnBridge.expression(h1), ColumnBridge.expression(h2), numHashes)
      .toAggregateExpression())

  /** 64-bit SimHash signature aggregate over a token-hash column (see
    * [[org.apache.spark.sql.graft.SimHashAgg]]).
    */
  def simHashSignature(tokenHash: Column): Column =
    ColumnBridge.column(org.apache.spark.sql.graft.SimHashAgg(
      ColumnBridge.expression(tokenHash)).toAggregateExpression())
}
