package graft.fitting

import graft.SparkSpec
import graft.analysis.TurbineLongTermGrossEnergy
import graft.operators.Pca
import graft.powercurve.PowerCurve

/** Pins the fitting layer bit for bit on fixed fixtures: the OLS and
  * hinge-spline coefficients, GAM and TIE power-model predictions at fixed
  * points, the cosine `curveFit` parameters, the logistic weights, the PCA
  * model and the Gram moment rows. The other specs check these fits within
  * tolerances; these pins fail on any change of summation order or solver.
  * A value array is pinned by its length, its sum and
  * `java.util.Arrays.hashCode` (a hash of every bit). The distributed fits
  * read one partition, so the aggregate merges a single partial buffer.
  */
class FitPinSpec extends SparkSpec {
  import spark.implicits._

  private def fingerprint(vs: Seq[Double]): (Int, Double, Int) =
    (vs.size, vs.sum, java.util.Arrays.hashCode(vs.toArray))

  /** 60 rows of three features in [0, 10) and a noisy response with a kink. */
  private lazy val (xs, ys) = {
    val r = new java.util.Random(17L)
    val x = Array.fill(60)(Array.fill(3)(10.0 * r.nextDouble()))
    val y = x.map(v => 2.0 + 1.5 * v(0) - 0.7 * v(1) + 0.3 * math.max(0.0, v(2) - 4.0) * v(2) +
      r.nextGaussian())
    (x, y)
  }

  /** (ws, wd, rho) daily covariates and a cubic-then-flat power response. */
  private lazy val (wsX, pY) = {
    val r = new java.util.Random(23L)
    val x = Array.fill(80)((3.0 + 12.0 * r.nextDouble(), 360.0 * r.nextDouble(),
      1.15 + 0.1 * r.nextDouble()))
    val y = x.map { case (ws, wd, rho) =>
      math.min(math.pow(ws, 3), 1500.0) * rho * (1.0 + 0.05 * math.cos(math.toRadians(wd))) +
        20.0 * r.nextGaussian()
    }
    (x, y)
  }

  private val points = Seq(Array(1.0, 2.0, 3.0), Array(5.5, 0.5, 9.0), Array(9.9, 9.9, 0.1),
    Array(-1.0, 4.0, 12.0))

  test("olsFit coefficients are pinned") {
    assert(Fitting.olsFit(xs, ys).toSeq == Seq(-5.48195597241899, 1.7472914118233607,
      -0.3527967571717706, 1.7457590942863634))
  }

  test("gamFit predictions are pinned") {
    val gam = Fitting.gamFit(xs, ys)
    assert(points.map(gam) == Seq(2.1092389628505024, 23.293449109105936, 10.866713006655873,
      21.089313197157278))
  }

  test("fitSpline coefficients and predictions are pinned") {
    val sp = PowerCurve.fitSpline(wsX.map(_._1), pY, 20, 1e-6)
    assert(fingerprint(sp.coef.toSeq) == ((21, -290.07624848601654, 2006993268)))
    assert(fingerprint(sp.knots.toSeq) == ((19, 170.72705430233415, 60007614)))
    assert(sp.lo == 3.026220875822357 && sp.hi == 14.945047998107556)
    assert(Seq(0.0, 3.0, 7.7, 14.9, 30.0).map(sp.predict) == Seq(46.760740328635194,
      46.760740328635194, 565.882576039838, 1757.4957928098065, 1749.0558713740647))
  }

  test("fitPowerModel predictions are pinned") {
    val tie = TurbineLongTermGrossEnergy.fitPowerModel(wsX, pY)
    assert(Seq((0.0, 10.0, 1.2), (6.3, 200.0, 1.18), (11.0, 359.0, 1.25), (40.0, 90.0, 1.1))
      .map { case (ws, wd, rho) => tie(ws, wd, rho) } ==
      Seq(127.82501023896123, 243.08953987209026, 1669.3042791135713, 1720.1759428578214))
  }

  test("curveFit parameters are pinned (yaw cosine model)") {
    val vane = (-20 to 20).map(_.toDouble).toArray
    val r = new java.util.Random(5L)
    val perf = vane.map(v => 900.0 * math.pow(math.cos(math.toRadians(v - 3.5)), 2.4) +
      10.0 * r.nextGaussian())
    val p = Fitting.curveFit(
      (x, p) => p(0) * math.pow(math.cos(math.toRadians(x - p(1))), p(2)),
      vane, perf, Array(perf.max, vane(perf.indexOf(perf.max)), 2.0))
    assert(p.toSeq == Seq(898.8529163584673, 4.066145460545847, 2.2928636281773627))
  }

  test("Logistic.fit weights are pinned") {
    val m = Logistic.fit(labelled.coalesce(1), "x", "y", dims = 3, iters = 8, lambda = 0.01)
    assert(m.count == 300L)
    assert(m.weights.toSeq == Seq(0.8615994939679328, 1.7784142044789466, 0.7076952529350493,
      -0.22349536770091744))
  }

  test("Pca.fit model is pinned") {
    val m = Pca.fit(vectors.coalesce(1), "v", 4, 3)
    assert(m.count == 200L)
    assert(m.mean.toSeq == Seq(0.938144300354974, -0.06255060423364708, 0.021389146583033557,
      2.517075619271273))
    assert(m.eigenvalues.toSeq == Seq(10.127519918516041, 0.999077977334547, 0.084217999480039))
    assert(fingerprint(m.components.flatten.toSeq) == ((12, 2.328103015063027, 1987490870)))
  }

  test("momentRows rows are pinned") {
    val rows = Pca.momentRows(vectors.coalesce(1), "v", 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(r => (r._1, r._2))
    assert(rows.map(r => (r._1, r._2)).toSeq == Seq((-1L, -1L), (0L, -1L), (0L, 0L), (0L, 1L),
      (0L, 2L), (0L, 3L), (1L, -1L), (1L, 1L), (1L, 2L), (1L, 3L), (2L, -1L), (2L, 2L), (2L, 3L),
      (3L, -1L), (3L, 3L)))
    assert(fingerprint(rows.map(_._3).toSeq) == ((15, 5518.6552526886535, 1178784587)))
  }

  /** Two noisy, overlapping classes in three features. */
  private def labelled = {
    val r = new java.util.Random(31L)
    (0 until 300).map { i =>
      val pos = i % 3 != 0
      val c = if (pos) 0.8 else -0.8
      (i.toLong, Array(c + r.nextGaussian(), 0.5 * c + r.nextGaussian(), r.nextGaussian()), pos)
    }.toDF("id", "x", "y")
  }

  /** 200 correlated 4-d vectors. */
  private def vectors = {
    val r = new java.util.Random(41L)
    (0 until 200).map { i =>
      val a = r.nextGaussian(); val b = r.nextGaussian()
      (i.toLong, Seq(3.0 * a + 1.0, a - b, 0.5 * b + 0.1 * r.nextGaussian(), 2.0 + r.nextDouble()))
    }.toDF("id", "v")
  }
}
