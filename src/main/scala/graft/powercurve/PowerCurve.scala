package graft.powercurve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.fitting.Fitting

/** Power-curve fitting: train on (windspeed, power) pairs, return a
  * predictor applicable as a Column expression.
  *
  * The Spark altitude matches the reference (power_curve/functions.py):
  * heavy data reduces to binned means distributed; the tiny fitted model
  * (bin table or parameters) broadcasts back as an expression or join.
  */
object PowerCurve {

  /** A fitted curve: predict power from wind speed, both driver-side and as
    * a Column expression.
    */
  trait Fitted extends Serializable {
    def predict(ws: Double): Double
    def predictCol(ws: Column): Column
  }

  /** IEC 61400-12-1-2 binned power curve, matching the reference's bin
    * geometry exactly (power_curve/functions.py:20-73 `IEC`): edges are
    * `linspace(windspeedStart, windspeedEnd, ceil((end-start)/binWidth)+1)`
    * (so the effective step is <= binWidth when binWidth does not divide the
    * range), bins are left-closed [e_i, e_{i+1}), the last bin is
    * [windspeedEnd, inf), empty interior bins linearly interpolate and edge
    * bins nearest-fill (pandas `interpolate().bfill()`), and PREDICTED power
    * is zero outside [windspeedStart, windspeedEnd]. The bin table
    * (<= ~100 rows) is collected and embedded as a literal-array expression.
    */
  def iec(df: DataFrame, wsCol: String, powerCol: String,
          binWidth: Double = 0.5, windspeedStart: Double = 0.0,
          windspeedEnd: Double = 30.0): IecCurve = {
    val nBins = math.ceil((windspeedEnd - windspeedStart) / binWidth).toInt + 1
    val step = (windspeedEnd - windspeedStart) / (nBins - 1)
    val idx = least(floor((col(wsCol) - windspeedStart) / step).cast("int"),
      lit(nBins - 1))
    val bins = df
      .filter(col(wsCol).isNotNull && col(powerCol).isNotNull &&
        col(wsCol) >= windspeedStart)
      .groupBy(idx.as("bin"))
      .agg(avg(col(powerCol)).as("p"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // linear interp of missing interior bins by bin position, nearest at the
    // edges (pandas interpolate(method="linear").bfill() equivalent)
    val known = (0 until nBins).filter(bins.contains)
    val values = new Array[Double](nBins)
    if (known.nonEmpty) {
      for (b <- 0 until nBins) {
        values(b) = bins.get(b) match {
          case Some(v) => v
          case None =>
            val prev = known.filter(_ < b).lastOption
            val next = known.find(_ > b)
            (prev, next) match {
              case (Some(p), Some(n)) =>
                val vp = bins(p); val vn = bins(n)
                vp + (vn - vp) * (b - p).toDouble / (n - p)
              case (Some(p), None) => bins(p)
              case (None, Some(n)) => bins(n)
              case _ => 0.0
            }
        }
      }
    }
    IecCurve(values, windspeedStart, windspeedEnd, step)
  }

  final case class IecCurve(values: Array[Double], start: Double, end: Double,
                            step: Double) extends Fitted {
    def predict(ws: Double): Double = {
      if (ws < start || ws > end) 0.0
      else values(math.min(math.floor((ws - start) / step).toInt, values.length - 1))
    }
    /** Lookup via element_at on a literal array (codegen'd; no UDF). */
    def predictCol(ws: Column): Column = {
      val arr = array(values.map(lit): _*)
      val idx = least(floor((ws - start) / step).cast("int"), lit(values.length - 1))
      when(ws < start || ws > end, lit(0.0)).otherwise(element_at(arr, idx + 1))
    }
  }

  /** 5-parameter logistic curve fit via differential evolution + local
    * refinement (power_curve/functions.py:77-123 `logistic_5_parametric`,
    * forms at parametric_forms.py:22-112). Input pairs are collected —
    * call on binned/sampled aggregates, not fact-grain data.
    */
  def logistic5(df: DataFrame, wsCol: String, powerCol: String,
                seed: Long = 42L): Logistic5Curve = {
    val pts = df.filter(col(wsCol).isNotNull && col(powerCol).isNotNull)
      .select(col(wsCol).cast("double"), col(powerCol).cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val xs = pts.map(_._1); val ys = pts.map(_._2)
    val pMax = ys.max
    def model(x: Double, p: Array[Double]): Double = {
      // logistic5param(x; a, b, c, d, g) = d + (a - d) / (1 + (x/c)^b)^g
      val Array(a, b, c, d, g) = p
      d + (a - d) / math.pow(1.0 + math.pow(x / c, b), g)
    }
    def sse(p: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < xs.length) {
        val r = ys(i) - model(xs(i), p); s += r * r; i += 1
      }
      s
    }
    // reference-shaped bounds (power_curve/functions.py:123: a in
    // (1200,1800) for a ~1500 kW fleet, b negative, d the small asymptote),
    // rescaled by the observed max power so any fleet size fits
    val bounds = Array(
      (pMax * 0.8, pMax * 1.2), (-10.0, -1e-3), (1e-3, 30.0),
      (1e-3, 1.0), (1e-3, 10.0))
    val best = Fitting.differentialEvolution(sse, bounds, seed = seed)
    val refined = Fitting.curveFit(model, xs, ys, best)
    Logistic5Curve(if (sse(refined) < sse(best)) refined else best)
  }

  final case class Logistic5Curve(p: Array[Double]) extends Fitted {
    // logistic5param(x; a,b,c,d,g) = d + (a-d)/(1+(x/c)^b)^g. The
    // reference's special case (x=0, b<0 -> d, parametric_forms.py:58-68)
    // falls out of IEEE arithmetic: pow(0, b<0)=Inf -> (a-d)/Inf = 0.
    def predict(ws: Double): Double =
      p(3) + (p(0) - p(3)) / math.pow(1.0 + math.pow(ws / p(2), p(1)), p(4))
    /** Output clamped to [lower, upper] (parametric_forms.py:71-101
      * `logistic5param_capped`).
      */
    def predictCapped(ws: Double, lower: Double, upper: Double): Double =
      math.min(math.max(predict(ws), lower), upper)
    def predictCol(ws: Column): Column =
      lit(p(3)) + (lit(p(0)) - lit(p(3))) /
        pow(lit(1.0) + pow(ws / p(2), p(1)), p(4))
  }

  /** GAM-lite: penalized cubic B-spline-free alternative — piecewise-linear
    * hinge basis (regression splines) fit by ridge-regularized normal
    * equations on the driver. Stands in for pygam LinearGAM(s(0), 20
    * splines) (power_curve/functions.py:127-150) at matching smoothness.
    */
  def spline(df: DataFrame, wsCol: String, powerCol: String, nKnots: Int = 20,
             ridge: Double = 1e-6): SplineCurve = {
    val pts = df.filter(col(wsCol).isNotNull && col(powerCol).isNotNull)
      .select(col(wsCol).cast("double"), col(powerCol).cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    fitSpline(pts.map(_._1), pts.map(_._2), nKnots, ridge)
  }

  /** [[Fitting.HingeSpline]] on wind speed alone. */
  def fitSpline(xs: Array[Double], ys: Array[Double], nKnots: Int,
                ridge: Double): SplineCurve = {
    val h = Fitting.HingeSpline.fit(xs, xs.map(_ => Array.emptyDoubleArray), ys, nKnots, ridge)
    SplineCurve(h.knots, h.coef, h.lo, h.hi)
  }

  final case class SplineCurve(knots: Array[Double], coef: Array[Double],
                               lo: Double, hi: Double) extends Fitted {
    def predict(ws: Double): Double =
      Fitting.HingeSpline(knots, coef, lo, hi).predict(ws, Array.emptyDoubleArray)
    def predictCol(ws: Column): Column = {
      val x = least(greatest(ws, lit(lo)), lit(hi))
      val hinges = knots.zipWithIndex.map { case (kn, i) =>
        lit(coef(i + 2)) * greatest(x - kn, lit(0.0))
      }
      hinges.foldLeft(lit(coef(0)) + lit(coef(1)) * x)(_ + _)
    }
  }
}
