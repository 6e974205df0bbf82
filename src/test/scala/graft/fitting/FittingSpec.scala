package graft.fitting

import graft.SparkSpec

class FittingSpec extends SparkSpec {
  import spark.implicits._

  test("linearFit recovers exact coefficients") {
    val df = (1 to 100).map(i => (i.toDouble, 2.5 * i + 7.0)).toDF("x", "y")
    val fit = Fitting.linearFit(df, "x", "y")
    assert(math.abs(fit.slope - 2.5) < 1e-9)
    assert(math.abs(fit.intercept - 7.0) < 1e-9)
  }

  test("huberFit shrugs off a gross outlier that wrecks OLS") {
    val x = (1 to 50).map(_.toDouble).toArray
    val y = x.map(v => 3.0 * v + 1.0)
    y(10) = 10000.0 // gross outlier
    val ols = Fitting.wlsFit(x, y, Array.fill(x.length)(1.0))
    val huber = Fitting.huberFit(x, y)
    assert(math.abs(huber.slope - 3.0) < 0.05)
    assert(math.abs(ols.slope - 3.0) > 0.5)
  }

  test("percentileSorted matches numpy linear interpolation") {
    val a = Array(1.0, 2.0, 3.0, 4.0)
    assert(Fitting.percentileSorted(a, 0.5) == 2.5)
    assert(Fitting.percentileSorted(a, 0.0) == 1.0)
    assert(Fitting.percentileSorted(a, 1.0) == 4.0)
  }

  test("curveFit recovers cosine parameters (yaw model)") {
    // y = A * cos(x - offset), the yaw_misalignment.py:59 model shape
    val aTrue = 5.0; val offTrue = 0.3
    val xs = (-30 to 30).map(_ / 10.0).toArray
    val ys = xs.map(x => aTrue * math.cos(x - offTrue))
    val p = Fitting.curveFit((x, p) => p(0) * math.cos(x - p(1)),
      xs, ys, Array(1.0, 0.0))
    assert(math.abs(p(0) - aTrue) < 1e-4)
    assert(math.abs(p(1) - offTrue) < 1e-4)
  }

  test("differentialEvolution finds the global minimum of a multimodal fn") {
    // Rastrigin-lite in 2D over [-5, 5]^2, global min at (0,0)
    def f(p: Array[Double]): Double =
      p.map(v => v * v - 3.0 * math.cos(2 * math.Pi * v) + 3.0).sum
    val best = Fitting.differentialEvolution(f,
      Array((-5.0, 5.0), (-5.0, 5.0)), maxGen = 150, seed = 11)
    assert(f(best) < 1e-3)
  }

  test("solve handles a well-conditioned 3x3 system") {
    val a = Array(Array(4.0, 1.0, 0.0), Array(1.0, 3.0, 1.0), Array(0.0, 1.0, 2.0))
    val x = Fitting.solve(a, Array(5.0, 5.0, 3.0))
    val r = a.map(row => row.zip(x).map { case (c, v) => c * v }.sum)
    assert(r.zip(Seq(5.0, 5.0, 3.0)).forall { case (p, q) => math.abs(p - q) < 1e-9 })
  }

  test("solve solves a pivoting-required system exactly") {
    // first pivot is 0: partial pivoting must swap
    val a = Array(
      Array(0.0, 2.0, 1.0),
      Array(4.0, 1.0, -1.0),
      Array(2.0, -1.0, 3.0))
    val x = Array(1.0, -2.0, 3.0)
    val b = a.map(row => row.zip(x).map { case (c, v) => c * v }.sum)
    val got = Fitting.solve(a, b)
    got.zip(x).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
  }
}
