package graft.fitting

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GramMatrixAgg

import graft.functions.VectorExprs

/** Distributed L2-regularized logistic regression by full-batch IRLS
  * (Newton–Raphson) — the trainable quality classifier behind the
  * fastText-style corpus filters ([[graft.operators.TextAnalysis
  * .naiveBayesScore]] is the counting cousin; this one learns weights over
  * arbitrary dense feature vectors, e.g. the quality/repetition/script
  * signals the other operators emit).
  *
  * Scale shape: each Newton iteration is ONE distributed pass building a
  * fixed-size buffer — the (d+2)-dim augmented Gram of
  * [sqrt(W)·x̃, (y−p)/sqrt(W)] via [[org.apache.spark.sql.graft
  * .GramMatrixAgg]] (x̃ = intercept-augmented features; its top-left block
  * is the IRLS Hessian X̃ᵀWX̃, its last column the gradient X̃ᵀ(y−p)) plus
  * the scalar log-loss — state is O(d²) doubles per partial regardless of
  * row count, map-side merged. The d×d Newton solve is driver-side
  * Gaussian elimination (d = a feature count, never data-sized); the new
  * weight vector returns to the executors as a literal. Iteration count is
  * FIXED (no data-dependent early exit) so a fit is reproducible run to
  * run up to float-sum ordering.
  */
object Logistic {

  /** weights(0) is the intercept; weights(i) pairs with feature i-1.
    * lossTrace(k) = mean regularized log-loss BEFORE iteration k's update.
    */
  case class LogisticModel(dims: Int, count: Long, weights: Array[Double],
                           lambda: Double, lossTrace: Array[Double]) {
    def intercept: Double = weights(0)
    def coefficients: Array[Double] = weights.drop(1)
  }

  /** Fit on `featuresCol: array<double>` (fixed length `dims`) against
    * `labelCol` (boolean or 0/1 numeric). `lambda` is the L2 strength on
    * the coefficients (never the intercept); with separable data use
    * lambda > 0 or the weights diverge (standard logistic behavior).
    */
  def fit(df: DataFrame, featuresCol: String, labelCol: String, dims: Int,
          iters: Int = 20, lambda: Double = 1e-6): LogisticModel = {
    require(dims > 0, s"bad dims $dims")
    require(iters > 0, s"bad iters $iters")
    require(lambda >= 0, s"bad lambda $lambda")
    val d = dims + 1 // intercept slot 0
    val base = df.select(
      concat(array(lit(1.0)), col(featuresCol).cast("array<double>")).as("xa"),
      col(labelCol).cast("double").as("y"))
    val w = new Array[Double](d)
    val trace = new Array[Double](iters)
    var n = 0L
    for (it <- 0 until iters) {
      val wLit = array(w.map(lit(_)): _*)
      val mu = VectorExprs.dot(col("xa"), wLit)
      // stage p, then sw, as materialized columns: an expression captured
      // inside a transform() lambda is inlined and re-evaluated PER
      // ELEMENT (the topNgramFraction lesson) — a column reference is not
      val staged = base
        .select(col("xa"), col("y"),
          (lit(1.0) / (lit(1.0) + exp(-mu))).as("p"))
        .select(col("xa"), col("y"), col("p"),
          // Newton weight, floored so a saturated row (p ~ 0/1) cannot
          // zero the working-response division
          sqrt(greatest(col("p") * (lit(1.0) - col("p")), lit(1e-12)))
            .as("sw"))
      val vz = concat(transform(col("xa"), e => e * col("sw")),
        array((col("y") - col("p")) / col("sw")))
      val row = staged.agg(
        GramMatrixAgg.column(vz, d + 1).as("m"),
        sum(-(col("y") * log(greatest(col("p"), lit(1e-300))) +
          (lit(1.0) - col("y")) * log(greatest(lit(1.0) - col("p"), lit(1e-300)))))
          .as("ll")).head()
      val m = row.getSeq[Double](0).toArray
      n = m(0).toLong
      // the Gram of the (d+1)-dim vz: H = block [0..d), g = column d
      val h = Array.tabulate(d, d)((i, j) => m(GramMatrixAgg.slot(i, j, d + 1)))
      val g = Array.tabulate(d)(i => m(GramMatrixAgg.slot(i, d, d + 1)))
      // L2 on coefficients only; a tiny unconditional ridge keeps the
      // solve well-posed on collinear features
      var i = 1
      while (i < d) { g(i) -= lambda * w(i); h(i)(i) += lambda; i += 1 }
      i = 0
      while (i < d) { h(i)(i) += 1e-10; i += 1 }
      val l2 = 0.5 * lambda * w.drop(1).map(x => x * x).sum
      trace(it) = (row.getDouble(1) + l2) / math.max(n, 1L)
      val delta = Fitting.solve(h, g)
      // a NaN or infinite feature makes the whole system NaN
      require(delta.forall(java.lang.Double.isFinite),
        s"logistic Newton step $it is not finite: a NaN or infinite feature?")
      i = 0
      while (i < d) { w(i) += delta(i); i += 1 }
    }
    LogisticModel(dims, n, w, lambda, trace)
  }

  /** P(y=1 | x) under the model — a codegen'd row-local column (the model
    * is d+1 literals; scoring 100 TB is one map stage). */
  def probability(features: Column, model: LogisticModel): Column = {
    val wLit = array(model.weights.map(lit(_)): _*)
    val mu = VectorExprs.dot(
      concat(array(lit(1.0)), features.cast("array<double>")), wLit)
    lit(1.0) / (lit(1.0) + exp(-mu))
  }

  /** Scored frame: (idCol, prob, predicted). */
  def score(df: DataFrame, idCol: String, featuresCol: String,
            model: LogisticModel): DataFrame = {
    val p = probability(col(featuresCol), model)
    df.select(col(idCol), p.as("prob"), (p > 0.5).as("predicted"))
  }

  /** The model as a 1-row frame — persist with any sink and reload with
    * [[modelFromDf]]: the deployment loop trains once (offline, this
    * module) and scores everywhere (a broadcast-free literal column),
    * the calibrationModel pattern.
    */
  def modelToDf(spark: org.apache.spark.sql.SparkSession,
                model: LogisticModel): DataFrame = {
    import spark.implicits._
    Seq((model.dims, model.count, model.lambda, model.weights.toSeq,
      model.lossTrace.toSeq))
      .toDF("dims", "count", "lambda", "weights", "loss_trace")
  }

  /** Rebuild a model from a persisted [[modelToDf]] frame. */
  def modelFromDf(df: DataFrame): LogisticModel = {
    val r = df.select("dims", "count", "lambda", "weights", "loss_trace")
      .head()
    LogisticModel(r.getInt(0), r.getLong(1),
      r.getSeq[Double](3).toArray, r.getDouble(2),
      r.getSeq[Double](4).toArray)
  }
}
