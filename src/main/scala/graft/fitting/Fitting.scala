package graft.fitting

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-fitting at the right altitude: Spark aggregates produce the
  * sufficient statistics (or small binned tables); the iterative math runs
  * on the driver over <= ~10^4 numbers, matching the reference's train/
  * predict pattern (SURVEY.md §2.8). Nothing here collects fact-grain data.
  *
  * Every driver-side linear least-squares fit goes through one kernel,
  * `leastSquares`, which accumulates XᵀX and Xᵀy, and one solver,
  * [[solve]]: [[olsFit]], [[gamFit]], [[curveFit]]'s Gauss-Newton step and
  * [[HingeSpline]] (the power-curve spline and TIE's power model).
  * [[Logistic]]'s Newton step uses the same solver.
  */
object Fitting {

  /** Simple linear fit y = intercept + slope*x. */
  final case class LinearFit(slope: Double, intercept: Double) {
    def predict(x: Column): Column = lit(intercept) + lit(slope) * x
    def predict(x: Double): Double = intercept + slope * x
  }

  /** Closed-form OLS via one distributed aggregate:
    * slope = cov(x,y)/var(x). Reference: aep.py:920-927 (sklearn
    * LinearRegression, 1-D), imputing.py:117-130 (numpy polyfit deg 1).
    */
  def linearFit(df: DataFrame, xCol: String, yCol: String): LinearFit = {
    val row = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .agg(covar_samp(col(xCol), col(yCol)).as("cov"),
        var_samp(col(xCol)).as("varx"),
        avg(col(xCol)).as("mx"), avg(col(yCol)).as("my"))
      .head()
    val slope = row.getDouble(0) / row.getDouble(1)
    LinearFit(slope, row.getDouble(3) - slope * row.getDouble(2))
  }

  /** Column-expression closed-form regression (stays in the plan; used when
    * the fit itself must be distributed per group).
    */
  def slopeExpr(x: Column, y: Column): Column = covar_samp(x, y) / var_samp(x)
  def interceptExpr(x: Column, y: Column): Column =
    avg(y) - (covar_samp(x, y) / var_samp(x)) * avg(x)

  /** Weighted least squares on driver-side arrays (used by Huber IRLS). */
  def wlsFit(x: Array[Double], y: Array[Double], w: Array[Double]): LinearFit = {
    val sw = w.sum
    val mx = x.zip(w).map { case (a, b) => a * b }.sum / sw
    val my = y.zip(w).map { case (a, b) => a * b }.sum / sw
    var cov = 0.0; var vx = 0.0
    var i = 0
    while (i < x.length) {
      cov += w(i) * (x(i) - mx) * (y(i) - my)
      vx += w(i) * (x(i) - mx) * (x(i) - mx)
      i += 1
    }
    val slope = cov / vx
    LinearFit(slope, my - slope * mx)
  }

  /** Huber-T robust linear regression via iteratively reweighted least
    * squares — driver-side over collected (x, y) arrays (the reference
    * applies it only to monthly aggregates of <= a few hundred rows).
    * Reference: aep.py:780-789 (statsmodels RLM, HuberT, t=1.345 default).
    */
  def huberFit(x: Array[Double], y: Array[Double], t: Double = 1.345,
               maxIter: Int = 50, tol: Double = 1e-8): LinearFit = {
    var fit = wlsFit(x, y, Array.fill(x.length)(1.0))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val resid = x.zip(y).map { case (xi, yi) => yi - fit.predict(xi) }
      // scale: median absolute deviation / 0.6745 (statsmodels mad scale)
      val sorted = resid.map(math.abs).sorted
      val mad = percentileSorted(sorted, 0.5) / 0.6745
      val scale = if (mad > 0) mad else 1e-12
      val w = resid.map { r =>
        val u = math.abs(r / scale)
        if (u <= t) 1.0 else t / u
      }
      val next = wlsFit(x, y, w)
      converged = math.abs(next.slope - fit.slope) < tol &&
        math.abs(next.intercept - fit.intercept) < tol
      fit = next
      iter += 1
    }
    fit
  }

  /** Final Huber IRLS weights for each point (1.0 = inlier; < 1 = outlier
    * the robust fit down-weighted). The reference flags AEP outlier months
    * as `rlm_results.weights != 1` (aep.py:780-789); this reproduces that
    * signal from [[huberFit]]'s converged fit.
    */
  def huberWeights(x: Array[Double], y: Array[Double],
                   t: Double = 1.345): Array[Double] = {
    val fit = huberFit(x, y, t)
    val resid = x.zip(y).map { case (xi, yi) => yi - fit.predict(xi) }
    val mad = percentileSorted(resid.map(math.abs).sorted, 0.5) / 0.6745
    val scale = if (mad > 0) mad else 1e-12
    resid.map { r =>
      val u = math.abs(r / scale)
      if (u <= t) 1.0 else t / u
    }
  }

  /** Multivariate OLS on driver-side arrays via normal equations; returns
    * coefficients [intercept, b1..bk]. Reference: aep.py:920-927 (sklearn
    * LinearRegression over [ws, temp?, sin(wd)?, cos(wd)?]).
    */
  def olsFit(xs: Array[Array[Double]], y: Array[Double]): Array[Double] =
    leastSquares(xs, y, intercept = true)((_, v) => v)

  def olsPredict(coefs: Array[Double])(x: Array[Double]): Double = {
    var s = coefs(0)
    var j = 0
    while (j < x.length) { s += coefs(j + 1) * x(j); j += 1 }
    s
  }

  /** Additive hinge-spline GAM with ridge regularization, driver-side: each
    * feature gets a linear term plus `nKnots` hinge-basis terms at interior
    * quantile knots; the combined design matrix is solved by regularized
    * normal equations. Stand-in for the reference's pyGAM option
    * (machine_learning_setup.py algorithm="gam", aep.py reg_model) at the
    * same altitude — the inputs are always period-aggregate arrays.
    * Returns a predictor over feature vectors.
    */
  def gamFit(xs: Array[Array[Double]], y: Array[Double], nKnots: Int = 4,
             ridge: Double = 1e-6): Array[Double] => Double = {
    requireSample(xs.length, y.length)
    val nf = xs(0).length
    val knots: Array[Array[Double]] = Array.tabulate(nf) { j =>
      val sorted = xs.map(_(j)).sorted
      Array.tabulate(nKnots)(q => percentileSorted(sorted, (q + 1.0) / (nKnots + 1)))
    }
    def basis(x: Array[Double]): Array[Double] = {
      val out = new Array[Double](nf * (nKnots + 1))
      var j = 0
      while (j < nf) {
        out(j * (nKnots + 1)) = x(j)
        var q = 0
        while (q < nKnots) {
          out(j * (nKnots + 1) + q + 1) = math.max(0.0, x(j) - knots(j)(q))
          q += 1
        }
        j += 1
      }
      out
    }
    // no penalty on the intercept
    val coefs = leastSquares(xs.map(basis), y, intercept = true)((d, v) =>
      if (d == 0) v else v + ridge)
    x => olsPredict(coefs)(basis(x))
  }

  /** Exact percentile of a pre-sorted array (linear interpolation, matching
    * numpy's default). */
  def percentileSorted(sorted: Array[Double], q: Double): Double = {
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
    }
  }

  /** Generic curve fit via Gauss-Newton with numeric Jacobian + simple
    * damping — driver-side, for <= ~thousands of points. Used for the yaw
    * cosine fit (yaw_misalignment.py:59-71: A*cos(x-offset)^exp via scipy
    * curve_fit) and similar small fits.
    */
  def curveFit(f: (Double, Array[Double]) => Double,
               x: Array[Double], y: Array[Double], p0: Array[Double],
               maxIter: Int = 100, tol: Double = 1e-10): Array[Double] = {
    val n = x.length
    val k = p0.length
    var p = p0.clone()
    var lambda = 1e-3
    def sse(params: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < n) { val r = y(i) - f(x(i), params); s += r * r; i += 1 }
      s
    }
    var currentSse = sse(p)
    var iter = 0
    while (iter < maxIter) {
      // numeric Jacobian J[i][j] = d f(x_i)/d p_j
      val jac = Array.ofDim[Double](n, k)
      val resid = new Array[Double](n)
      var i = 0
      while (i < n) {
        resid(i) = y(i) - f(x(i), p)
        var j = 0
        while (j < k) {
          val h = math.max(1e-7, math.abs(p(j)) * 1e-7)
          val pj = p.clone(); pj(j) += h
          jac(i)(j) = (f(x(i), pj) - f(x(i), p)) / h
          j += 1
        }
        i += 1
      }
      // solve (J'J + lambda I) dp = J'r
      val dp = leastSquares(jac, resid, intercept = false)((_, v) => v * (1.0 + lambda))
      val cand = p.zip(dp).map { case (pi, d) => pi + d }
      val candSse = sse(cand)
      if (candSse < currentSse) {
        val improved = currentSse - candSse
        p = cand; currentSse = candSse; lambda = math.max(lambda * 0.5, 1e-12)
        if (improved < tol) iter = maxIter
      } else {
        lambda *= 4.0
        if (lambda > 1e10) iter = maxIter
      }
      iter += 1
    }
    p
  }

  private def requireSample(rows: Int, targets: Int): Unit =
    require(rows > 0 && rows == targets,
      s"a fit needs a non-empty sample with one target per row, got $rows rows and $targets targets")

  /** The one least-squares kernel: accumulates XᵀX and Xᵀy over the design
    * rows, row by row and cell by cell (with `intercept`, column 0 is an
    * implicit 1.0 ahead of each row), replaces each diagonal cell d by
    * `diagonal(d, cell)` (each fit's ridge or damping) and solves the
    * system by [[solve]].
    */
  private def leastSquares(rows: Array[Array[Double]], y: Array[Double], intercept: Boolean)(
      diagonal: (Int, Double) => Double): Array[Double] = {
    requireSample(rows.length, y.length)
    val off = if (intercept) 1 else 0
    val k = rows(0).length + off
    val xtx = Array.ofDim[Double](k, k)
    val xty = new Array[Double](k)
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      var a = 0
      while (a < k) {
        val ra = if (a < off) 1.0 else r(a - off)
        var b = 0
        while (b < k) {
          xtx(a)(b) += ra * (if (b < off) 1.0 else r(b - off))
          b += 1
        }
        xty(a) += ra * y(i)
        a += 1
      }
      i += 1
    }
    var d = 0
    while (d < k) { xtx(d)(d) = diagonal(d, xtx(d)(d)); d += 1 }
    solve(xtx, xty)
  }

  /** Uniform-knot hinge spline on [lo, hi], the sample's range: knots
    * lo + (hi − lo)·i/nKnots for i in 1 until nKnots, design row
    * [1, x, extras…, max(0, x − knot)…], ridge on every coefficient, and
    * x clamped to [lo, hi] when predicting. The one basis and predictor of
    * [[graft.powercurve.PowerCurve.fitSpline]] (no extras) and TIE's power
    * model (sin/cos of the wind direction and the density as extras).
    */
  private[graft] final case class HingeSpline(knots: Array[Double], coef: Array[Double],
                                              lo: Double, hi: Double) {
    def predict(x: Double, extras: Array[Double]): Double =
      olsPredict(coef)(HingeSpline.row(knots, math.min(math.max(x, lo), hi), extras))
  }

  private[graft] object HingeSpline {
    private def row(knots: Array[Double], x: Double, extras: Array[Double]): Array[Double] =
      (x +: extras) ++ knots.map(k => math.max(0.0, x - k))

    def fit(xs: Array[Double], extras: Array[Array[Double]], ys: Array[Double], nKnots: Int,
            ridge: Double): HingeSpline = {
      requireSample(xs.length, ys.length)
      val lo = xs.min; val hi = xs.max
      val knots = (1 until nKnots).map(i => lo + (hi - lo) * i / nKnots).toArray
      val design = Array.tabulate(xs.length)(i => row(knots, xs(i), extras(i)))
      HingeSpline(knots, leastSquares(design, ys, intercept = true)((_, v) => v + ridge), lo, hi)
    }
  }

  /** Gaussian elimination with partial pivoting for small dense systems. */
  def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    val m = a.map(_.clone())
    val v = b.clone()
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) { if (math.abs(m(r)(col)) > math.abs(m(piv)(col))) piv = r; r += 1 }
      val tmp = m(col); m(col) = m(piv); m(piv) = tmp
      val tv = v(col); v(col) = v(piv); v(piv) = tv
      val d = m(col)(col)
      if (math.abs(d) < 1e-300) { v(col) = 0.0 }
      else {
        r = col + 1
        while (r < n) {
          val factor = m(r)(col) / d
          var c = col
          while (c < n) { m(r)(c) -= factor * m(col)(c); c += 1 }
          v(r) -= factor * v(col)
          r += 1
        }
      }
      col += 1
    }
    val x = new Array[Double](n)
    var r = n - 1
    while (r >= 0) {
      var s = v(r)
      var c = r + 1
      while (c < n) { s -= m(r)(c) * x(c); c += 1 }
      x(r) = if (math.abs(m(r)(r)) < 1e-300) 0.0 else s / m(r)(r)
      r -= 1
    }
    x
  }

  /** Differential evolution global optimizer (rand/1/bin), seeded —
    * driver-side, used for the 5-parameter logistic power curve.
    * Reference: power_curve/parametric_optimize.py:17-84.
    */
  def differentialEvolution(obj: Array[Double] => Double,
                            bounds: Array[(Double, Double)],
                            popSize: Int = 15, maxGen: Int = 200,
                            f: Double = 0.8, cr: Double = 0.9,
                            seed: Long = 42L): Array[Double] = {
    val rng = new scala.util.Random(seed)
    val dim = bounds.length
    val np = popSize * dim
    val pop = Array.fill(np) {
      bounds.map { case (lo, hi) => lo + rng.nextDouble() * (hi - lo) }
    }
    val fitness = pop.map(obj)
    var gen = 0
    while (gen < maxGen) {
      var i = 0
      while (i < np) {
        val Seq(a, b, c) = rng.shuffle((0 until np).filter(_ != i).toList).take(3)
        val jRand = rng.nextInt(dim)
        val trial = new Array[Double](dim)
        var j = 0
        while (j < dim) {
          trial(j) = if (rng.nextDouble() < cr || j == jRand) {
            val v = pop(a)(j) + f * (pop(b)(j) - pop(c)(j))
            math.min(math.max(v, bounds(j)._1), bounds(j)._2)
          } else pop(i)(j)
          j += 1
        }
        val tf = obj(trial)
        if (tf < fitness(i)) { pop(i) = trial; fitness(i) = tf }
        i += 1
      }
      gen += 1
    }
    pop(fitness.indexOf(fitness.min))
  }
}
