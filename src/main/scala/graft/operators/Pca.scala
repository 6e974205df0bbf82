package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GramMatrixAgg

import graft.functions.VectorExprs

/** Distributed PCA / whitening over an embedding column.
  *
  * Scale shape (the reason this is not spark.ml): the ONLY distributed work
  * is one pass building the fixed-size second-moment buffer
  * ([[org.apache.spark.sql.graft.GramMatrixAgg]]: 1 + d + d(d+1)/2 doubles
  * per partial, map-side merged), so fitting over 10^11 rows moves ~17 KB
  * per task to the driver. The d x d eigendecomposition is driver-side
  * (cyclic Jacobi — d is an embedding dimension, 64-4096, never data-sized)
  * and the projection is a broadcast of k component literals: one codegen'd
  * [[graft.functions.VectorExprs.dot]] per component per row, no shuffle.
  *
  * Mirrors the role of sklearn-PCA preprocessing in embedding dedup
  * pipelines (SemDeDup et al. whiten before cosine); the reference itself
  * has no PCA — beyond-reference scale operator.
  */
object Pca {

  /** mean / eigenvalues (desc) / components(j) = unit row vectors. */
  case class PcaModel(dims: Int, count: Long, mean: Array[Double],
                      eigenvalues: Array[Double], components: Array[Array[Double]])

  /** One-row frame holding the flattened moment buffer (see
    * [[org.apache.spark.sql.graft.GramMatrixAgg]] for the layout).
    */
  def secondMoments(df: DataFrame, vecCol: String, dims: Int): DataFrame =
    df.agg(GramMatrixAgg.column(col(vecCol).cast("array<double>"), dims).as("moments"))

  /** The moment buffer as gate-able rows: (-1, -1, n), (i, -1, sum_i) and
    * (i, j, sum of x_i*x_j) for i <= j. The flat-position -> (i, j) map is
    * a broadcast-joined literal dim table (d(d+1)/2 + d + 1 rows — driver
    * arithmetic, never data-sized).
    */
  def momentRows(df: DataFrame, vecCol: String, dims: Int): DataFrame =
    secondMoments(df, vecCol, dims)
      .select(posexplode(col("moments")).as(Seq("pos", "sxy")))
      .join(slotTable(df, dims), "pos")
      .select(col("i"), col("j"), col("sxy"))

  /** [[GramMatrixAgg.slots]] as a broadcast (pos, i, j) frame. */
  private def slotTable(df: DataFrame, dims: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    broadcast(GramMatrixAgg.slots(dims).toDF("pos", "i", "j"))
  }

  /** Per-group moment rows: (group, i, j, sxy) — one fixed-size gram buffer
    * per group (grouped PCA / per-language embedding statistics), same
    * layout as [[momentRows]]. Shuffle carries |groups| buffers, never
    * vector data.
    */
  def momentRowsBy(df: DataFrame, vecCol: String, dims: Int,
                   byCol: String): DataFrame =
    df.groupBy(col(byCol).as("group"))
      .agg(GramMatrixAgg.column(col(vecCol).cast("array<double>"), dims).as("moments"))
      .select(col("group"), posexplode(col("moments")).as(Seq("pos", "sxy")))
      .join(slotTable(df, dims), "pos")
      .select(col("group"), col("i"), col("j"), col("sxy"))

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix. Returns
    * (eigenvalues, eigenvectors as rows), unsorted. Deterministic: fixed
    * sweep order, convergence on the off-diagonal Frobenius norm.
    */
  private[graft] def jacobiEigSym(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) { var j = i + 1; while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    val eps = {
      var f = 0.0
      for (i <- 0 until d; j <- 0 until d) f += a(i)(j) * a(i)(j)
      1e-22 * math.max(f, 1e-300)
    }
    var sweep = 0
    while (sweep < 64 && off() > eps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0
              case s0 => s0 / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vpk = v(p)(k); val vqk = v(q)(k)
              v(p)(k) = c * vpk - s * vqk
              v(q)(k) = s * vpk + c * vqk
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Fit a k-component PCA model: one distributed moment pass, then the
    * driver-side d x d eigensolve. Sign convention: each component's
    * largest-|coordinate| entry is positive (removes the eigenvector sign
    * ambiguity so outputs are stable across runs/JVMs).
    */
  def fit(df: DataFrame, vecCol: String, dims: Int, k: Int): PcaModel = {
    require(k >= 1 && k <= dims, s"k must be in [1, $dims], got $k")
    val m = secondMoments(df, vecCol, dims).collect()(0).getSeq[Double](0).toArray
    val n = m(0)
    require(n > 1, s"PCA needs at least 2 rows, saw ${n.toLong}")
    val mean = Array.tabulate(dims)(i => m(GramMatrixAgg.sumSlot(i)) / n)
    val cov = Array.tabulate(dims, dims)((i, j) =>
      m(GramMatrixAgg.slot(i, j, dims)) / n - mean(i) * mean(j))
    val (eig, vecs) = jacobiEigSym(cov)
    val order = (0 until dims).sortBy(i => -eig(i))
    val comps = order.take(k).map { i =>
      val e = vecs(i).clone()
      val amax = e.indices.maxBy(t => math.abs(e(t)))
      if (e(amax) < 0) { var t = 0; while (t < e.length) { e(t) = -e(t); t += 1 } }
      e
    }.toArray
    PcaModel(dims, n.toLong, mean, order.take(k).map(eig).toArray, comps)
  }

  /** Append `outCol` = array<double> of the k component scores. Whitening
    * divides each score by sqrt(eigenvalue) (unit output variance), with a
    * floor for degenerate components. The centered vector is materialized
    * ONCE as a column before the per-component dots (the repo's HOF rule:
    * an O(d) expression must not be re-evaluated inside k lambdas).
    */
  def project(df: DataFrame, vecCol: String, model: PcaModel,
              whiten: Boolean = false, outCol: String = "pca"): DataFrame = {
    val centered = VectorExprs.sub(col(vecCol).cast("array<double>"),
      typedlit(model.mean.toSeq))
    val base = df.withColumn("__centered", centered)
    val scores = model.components.zipWithIndex.map { case (comp, j) =>
      val s = VectorExprs.dot(col("__centered"), typedlit(comp.toSeq))
      if (whiten) s / math.sqrt(math.max(model.eigenvalues(j), 1e-12)) else s
    }
    base.withColumn(outCol, array(scores: _*)).drop("__centered")
  }
}
