package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Second-moment (Gram) aggregate over an array<double> vector column: one
  * pass accumulates [count, per-dim sums, upper-triangle sums of pairwise
  * products] in a single primitive double buffer and emits the flattened
  * array. This is THE covariance/PCA building block at scale: the state is
  * a fixed 1 + d + d(d+1)/2 doubles regardless of row count (d=64 -> 2145
  * doubles ~ 17 KB), map-side partial merge applies, and no shuffle of
  * vector data ever happens — the alternative (explode to (i, x) rows and
  * self-join per row id for products) shuffles n*d^2 rows.
  *
  * Buffer layout: slot 0 = n; slots 1..d = sum(x_i); then for i <= j the
  * product sums row-major: slot 1 + d + (i*(2d-i-1))/2 + j. The companion
  * object is the layout's one reader: callers build the aggregate with
  * [[GramMatrixAgg.column]] and find a slot with [[GramMatrixAgg.sumSlot]],
  * [[GramMatrixAgg.slot]] or [[GramMatrixAgg.slots]].
  * Null rows are skipped; a row of the wrong length is a schema bug and
  * throws with both lengths named.
  */
case class GramMatrixAgg(
    child: Expression, dims: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] with ImplicitCastInputTypes {
  require(dims > 0, s"dims must be positive, got $dims")

  private val bufLen = 1 + dims + dims * (dims + 1) / 2

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "gram_matrix"

  override def createAggregationBuffer(): Array[Double] = new Array[Double](bufLen)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val a = child.eval(input)
    if (a != null) {
      val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      if (arr.numElements() != dims) {
        throw new IllegalArgumentException(
          s"gram_matrix: expected vectors of length $dims, got ${arr.numElements()}")
      }
      val v = arr.toDoubleArray()
      buf(0) += 1.0
      var i = 0
      var p = 1 + dims
      while (i < dims) {
        val xi = v(i)
        buf(1 + i) += xi
        var j = i
        while (j < dims) {
          buf(p) += xi * v(j)
          p += 1
          j += 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    var i = 0
    while (i < bufLen) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(bufLen * 8)
    bb.asDoubleBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bufLen)
    java.nio.ByteBuffer.wrap(bytes).asDoubleBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramMatrixAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramMatrixAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

object GramMatrixAgg {
  /** The aggregate over the array<double> column `vec` of length `dims`. */
  def column(vec: Column, dims: Int): Column =
    ColumnBridge.column(GramMatrixAgg(ColumnBridge.expression(vec), dims).toAggregateExpression())

  /** Slot of sum(x_i). Slot 0 holds the count. */
  def sumSlot(i: Int): Int = 1 + i

  /** Slot of sum(x_i * x_j), in either order. */
  def slot(i: Int, j: Int, dims: Int): Int = {
    val a = math.min(i, j)
    1 + dims + a * dims - a * (a - 1) / 2 + (math.max(i, j) - a)
  }

  /** Every slot with its (i, j): the count at (-1, -1), sum(x_i) at
    * (i, -1) and sum(x_i * x_j) at (i, j) for i <= j.
    */
  def slots(dims: Int): Seq[(Int, Long, Long)] =
    (0, -1L, -1L) +: ((0 until dims).map(i => (sumSlot(i), i.toLong, -1L)) ++
      (for (i <- 0 until dims; j <- i until dims) yield (slot(i, j, dims), i.toLong, j.toLong)))
}
