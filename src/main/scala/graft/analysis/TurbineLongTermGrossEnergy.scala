package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.fitting.Fitting
import graft.functions.Met
import graft.operators.Flags
import graft.plant.PlantData

/** Per-turbine long-term gross energy (TIE): filter SCADA to normal
  * operation, fit a power model on daily (ws, wd, rho) covariates, and apply
  * it to the long-term daily reanalysis record.
  *
  * Spark re-expression of openoa/analysis/turbine_long_term_gross_energy.py
  * :46-564. The reference loops turbines in Python over pandas frames.
  * Scale design: only the fact-grain steps are Spark plans — the flags and
  * the daily reduction, one plan over the long (time, asset_id) table, and
  * the daily reanalysis means. What they produce is collected: the
  * per-turbine valid days (#turbines x #days rows) and the daily
  * reanalysis (#days of the long-term record). The bounded-grain tail runs
  * on the driver, where the reference runs it: the gap-fill grid, the
  * correlation imputation, the join by day and the model fits.
  *
  * Model note: the reference fits a pygam GAM(ws, wd, rho)
  * (power_curve/functions.py:154-200); here it's a ridge regression on
  * hinge-spline(ws) + sin/cos(wd) + rho — same covariates, same smooth
  * univariate response shape, dependency-free.
  */
final class TurbineLongTermGrossEnergy(
    plant: PlantData,
    // UQ ranges sampled per simulation (collapsing to their means without
    // UQ), matching turbine_long_term_gross_energy.py:99-119
    maxPowerFilter: (Double, Double) = (0.8, 0.9),
    windBinThreshold: (Double, Double) = (1.0, 3.0),
    correctionThreshold: (Double, Double) = (0.85, 0.95),
    uncertaintyScada: Double = 0.005,
    // restrict product sampling (turbine_long_term_gross_energy.py:101-111)
    reanalysisProducts: Option[Seq[String]] = None,
    imputeMissingDays: Boolean = true,
    uq: Boolean = false,
    numSim: Int = 20,
    seed: Long = 42L) {

  require(!uq || numSim >= 1, s"numSim must be >= 1 with uq, got $numSim")
  require(maxPowerFilter._1 <= maxPowerFilter._2,
    s"maxPowerFilter must be (lo, hi) with lo <= hi, got $maxPowerFilter")
  require(windBinThreshold._1 <= windBinThreshold._2,
    s"windBinThreshold must be (lo, hi) with lo <= hi, got $windBinThreshold")
  require(correctionThreshold._1 <= correctionThreshold._2,
    s"correctionThreshold must be (lo, hi) with lo <= hi, got $correctionThreshold")

  final case class Result(plantGrossGwhPerYear: Array[Double],
                          perTurbine: Map[String, Double]) {
    def mean: Double = plantGrossGwhPerYear.sum / plantGrossGwhPerYear.length
  }

  private val freqS = plant.metadata.scadaFreqSeconds

  /** Flag abnormal operation per turbine, mirroring the reference's flag set
    * (turbine_long_term_gross_energy.py:327-385 `filter_turbine_data`):
    * rows without ws/energy dropped; ws range flag [0, 40]; frozen ws
    * sensor (>= 3 repeats); window flag (plausible ws but power outside
    * [0.02, 1.2] x rated); and the median/std digitize bin filter of ws
    * over power bins (width 0.06 x rated, bounds [0.01, maxPF] x rated) —
    * expressed on the power FRACTION of rated so one distributed
    * `Flags.binFilter(groupCols = asset_id)` pass covers every turbine.
    */
  def filteredScada(ratedPowerByTurbine: Map[String, Double],
                    maxPowerFilterValue: Double,
                    windBinThresholdValue: Double): DataFrame = {
    val rated = typedLit(ratedPowerByTurbine)
    val cap = rated.apply(col("asset_id"))
    val base = plant.scadaDf
      .na.drop(Seq("WMET_HorWdSpd", "WTUR_SupWh"))
      .withColumn("p_frac", col("WTUR_W") / cap)
      .withColumn("flag_range", Flags.rangeFlag(col("WMET_HorWdSpd"), 0.0, 40.0))
      .withColumn("flag_window",
        col("WMET_HorWdSpd").between(5.0, 40.0) &&
          !col("WTUR_W").between(lit(0.02) * cap, lit(1.2) * cap))
    val frozen = Flags.unresponsiveFlag(base, "WMET_HorWdSpd", "time",
      threshold = 3, flagCol = "flag_frozen", partitionCols = Seq("asset_id"))
    Flags.binFilter(frozen, "p_frac", "WMET_HorWdSpd",
        binWidth = 0.06, threshold = windBinThresholdValue,
        centerType = "median", deviationType = "std", direction = "all",
        flagCol = "flag_bin", binMin = Some(0.01),
        binMax = Some(maxPowerFilterValue), groupCols = Seq("asset_id"))
      .withColumn("flag_final",
        col("flag_range") || col("flag_window") || col("flag_bin") ||
          col("flag_frozen"))
  }

  /** Daily valid energy per turbine with availability scaling
    * (turbine_long_term_gross_energy.py:427-474 `setup_daily_sums`):
    * days keep >= correctionThreshold valid samples; energy scaled by
    * expected/actual count.
    */
  def dailyValid(filtered: DataFrame,
                 correctionThresholdValue: Double): DataFrame = {
    val expected = 24.0 * 3600.0 / freqS
    filtered.filter(!col("flag_final"))
      .groupBy(col("asset_id"), date_trunc("day", col("time")).as("day"))
      .agg(sum(col("WTUR_SupWh")).as("energy_kwh"), count(lit(1)).as("n"))
      .filter(col("n") >= expected * correctionThresholdValue)
      .withColumn("energy_corrected", col("energy_kwh") * lit(expected) / col("n"))
  }

  /** Gap-fill the daily per-turbine grid over the POR and impute missing
    * days from the best-correlated turbines
    * (turbine_long_term_gross_energy.py:476-501: gap-filled frame +
    * imputing.impute_all_assets_by_correlation, then drop what could not be
    * imputed). Like the reference, the grid and the imputation run on the
    * driver: the valid-day table is collected (#turbines x #days rows),
    * every turbine gets a row for every calendar day (session time zone)
    * from the first valid day to the last, and
    * [[graft.operators.Imputing.imputeAllByCorrelation]] fills the gaps.
    * Returns a local frame.
    */
  def dailyImputed(daily: DataFrame, turbines: Seq[String]): DataFrame = {
    val spark = daily.sparkSession
    val valid = daily.select("day", "asset_id", "energy_corrected").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r.getDouble(2)).toMap
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    def date(ms: Long) = java.time.Instant.ofEpochMilli(ms).atZone(zone).toLocalDate
    val days =
      if (valid.isEmpty) Seq.empty
      else {
        val last = date(valid.keys.map(_._1).max)
        Iterator.iterate(date(valid.keys.map(_._1).min))(_.plusDays(1))
          .takeWhile(!_.isAfter(last))
          .map(d => java.sql.Timestamp.from(d.atStartOfDay(zone).toInstant)).toSeq
      }
    val grid = for (d <- days; t <- turbines) yield (d, t, valid.get((d.getTime, t)))
    graft.operators.Imputing
      .imputeAllByCorrelation(spark.createDataFrame(grid).toDF("day", "asset_id", "energy_corrected"),
        "day", "asset_id", "energy_corrected")
      .filter(col("energy_corrected_imputed").isNotNull)
      .withColumn("energy_corrected", col("energy_corrected_imputed"))
      .drop("energy_corrected_imputed")
  }

  /** Daily reanalysis covariates per product: mean density-corrected ws,
    * vector-mean wind direction, mean density
    * (turbine_long_term_gross_energy.py:392-415).
    */
  def dailyReanalysis(product: String): DataFrame = {
    val df = plant.reanalysis(product)
    df.groupBy(date_trunc("day", col("time")).as("day"))
      .agg(avg(col("WMETR_HorWdSpd")).as("ws"),
        avg(col("WMETR_HorWdSpdU")).as("u"),
        avg(col("WMETR_HorWdSpdV")).as("v"),
        avg(col("WMETR_AirDen")).as("rho"),
        count(lit(1)).as("n"))
      .withColumn("wd", Met.windDirection(col("u"), col("v")))
  }

  def run(): Result = {
    val rng = new scala.util.Random(seed)
    val turbines = plant.turbineIds
    val rated = plant.ratedPower
    val products = reanalysisProducts
      .map { ps =>
        ps.foreach(p => require(plant.reanalysis.contains(p), s"unknown reanalysis product '$p'"))
        ps.sorted
      }
      .getOrElse(plant.reanalysis.keys.toSeq.sorted)

    // per-simulation filter thresholds: uniform within the tuple under UQ
    // (rounded to 0.01 so the daily-table memo below stays bounded),
    // collapsing to the tuple mean without UQ
    def sample(t: (Double, Double)): Double =
      if (uq) math.rint((t._1 + rng.nextDouble() * (t._2 - t._1)) * 100) / 100
      else (t._1 + t._2) / 2

    val sims = if (uq) numSim else 1
    val results = new Array[Double](sims)
    var perTurbineAcc = Map.empty[String, Double]

    // Spark runs the fact-grain steps: the flags and the daily sums. The
    // valid-day table is collected once per threshold CONFIG (<= numSim
    // distinct aggregation plans — the reference refilters per simulation,
    // turbine_long_term_gross_energy.py TODO notes the resulting slowness)
    // and the daily reanalysis once per product (reference memo at
    // turbine_long_term_gross_energy.py:392-415). The driver does the rest:
    // the gap-fill grid and the imputation ([[dailyImputed]] returns a
    // local frame, collected without a job), the join by day and the
    // per-turbine sort, once per (config, product) pair however many
    // simulations draw it.
    val dailyCache = scala.collection.mutable.Map.empty[(Double, Double, Double),
      Array[org.apache.spark.sql.Row]]
    def dailyFor(cfg: (Double, Double, Double)) =
      dailyCache.getOrElseUpdate(cfg, {
        val valid = dailyValid(filteredScada(rated, cfg._1, cfg._2), cfg._3)
        (if (imputeMissingDays) dailyImputed(valid, turbines) else valid)
          .select("asset_id", "day", "energy_corrected").collect()
      })
    // (ws, wd, rho, day in epoch ms) per product
    val reanCache = scala.collection.mutable.Map.empty[String, Array[(Double, Double, Double, Long)]]
    def reanFor(product: String) =
      reanCache.getOrElseUpdate(product,
        dailyReanalysis(product).select("ws", "wd", "rho", "day").collect()
          .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getTimestamp(3).getTime)))
    val memo = scala.collection.mutable.Map.empty[((Double, Double, Double), String),
      Map[String, Array[(Double, Double, Double, Double)]]]
    // (energy, ws, wd, rho) per turbine, sorted by day, so the UQ
    // bootstrap's draws do not depend on the order the rows were collected in
    def productData(cfg: (Double, Double, Double), product: String) =
      memo.getOrElseUpdate((cfg, product), {
        val rean = reanFor(product).map(c => c._4 -> c).toMap
        dailyFor(cfg).toSeq
          .flatMap { r =>
            val day = r.getTimestamp(1).getTime
            rean.get(day).map { case (ws, wd, rho, _) => (r.getString(0), day, (r.getDouble(2), ws, wd, rho)) }
          }
          .groupBy(_._1)
          .map { case (t, rows) => t -> rows.sortBy(_._2).map(_._3).toArray }
      })

    for (n <- 0 until sims) {
      val cfg = (sample(maxPowerFilter), sample(windBinThreshold),
        sample(correctionThreshold))
      val scadaFrac = if (uq) 1.0 + rng.nextGaussian() * uncertaintyScada else 1.0
      val product = products(if (uq) rng.nextInt(products.size) else n % products.size)
      val joined = productData(cfg, product)
      val perTurbine = turbines.map { t =>
        val rows = joined.getOrElse(t, Array.empty)
        val xs = rows.map(r => (r._2, r._3, r._4))
        val ys = rows.map(_._1 * scadaFrac)
        val sampleIdx =
          if (uq) Array.fill(ys.length)(rng.nextInt(ys.length))
          else ys.indices.toArray
        val model = TurbineLongTermGrossEnergy.fitPowerModel(
          sampleIdx.map(xs), sampleIdx.map(ys))
        // apply to full LT record; per-day energy, cap at plausible bounds
        val maxDaily = rated(t) * 24.0 * 1.2
        val lt = reanFor(product).map { r =>
          val p = model(r._1, r._2, r._3)
          math.min(math.max(p, 0.0), maxDaily)
        }
        val years = lt.length / 365.25
        t -> (lt.sum / years / 1e6) // GWh/yr
      }.toMap
      if (n == 0) perTurbineAcc = perTurbine
      results(n) = perTurbine.values.sum
    }
    Result(results, perTurbineAcc)
  }
}

object TurbineLongTermGrossEnergy {
  /** Ridge fit of daily energy on hinge-spline(ws) + sin/cos(wd) + rho.
    * Returns the predictor (gam_3param stand-in).
    */
  def fitPowerModel(xs: Array[(Double, Double, Double)], ys: Array[Double],
                    nKnots: Int = 8, ridge: Double = 1e-4): (Double, Double, Double) => Double = {
    if (xs.isEmpty) return (_, _, _) => 0.0
    val wsMin = xs.map(_._1).min; val wsMax = xs.map(_._1).max
    val knots = (1 until nKnots).map(i => wsMin + (wsMax - wsMin) * i / nKnots).toArray
    def basis(ws: Double, wd: Double, rho: Double): Array[Double] =
      Array(1.0, ws, math.sin(math.toRadians(wd)), math.cos(math.toRadians(wd)), rho) ++
        knots.map(k => math.max(0.0, ws - k))
    val k = 5 + knots.length
    val xtx = Array.ofDim[Double](k, k)
    val xty = new Array[Double](k)
    var i = 0
    while (i < xs.length) {
      val b = basis(xs(i)._1, xs(i)._2, xs(i)._3)
      var a = 0
      while (a < k) {
        xty(a) += b(a) * ys(i)
        var c = 0
        while (c < k) { xtx(a)(c) += b(a) * b(c); c += 1 }
        a += 1
      }
      i += 1
    }
    var d = 0
    while (d < k) { xtx(d)(d) += ridge; d += 1 }
    val coef = Fitting.solve(xtx, xty)
    (ws, wd, rho) => {
      val b = basis(math.min(math.max(ws, wsMin), wsMax), wd, rho)
      var s = 0.0; var j = 0
      while (j < k) { s += coef(j) * b(j); j += 1 }
      s
    }
  }
}
