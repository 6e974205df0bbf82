package graft.analysis

import java.sql.Timestamp
import java.time.ZoneOffset

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.fitting.Fitting
import graft.functions.Met
import graft.plant.PlantData

/** Long-term AEP via Monte-Carlo regression of plant energy on reanalysis
  * wind speed, with windiness correction and loss sampling.
  *
  * Spark re-expression of openoa/analysis/aep.py:64-1096 (MonteCarloAEP):
  * the fact-grain work — meter/curtail resampling and per-product
  * density-corrected reanalysis means — runs as Catalyst plans; the
  * collected aggregate (months x columns, <= a few hundred rows) feeds the
  * driver-side MC loop, the same altitude as the reference's in-memory
  * simulation over a pre-reduced frame.
  *
  * Each reanalysis product is resampled once per analysis: the products'
  * period means are joined and collected once, and both [[aggregate]] and
  * [[longTermSeries]] read that collection. The MC loop computes what does
  * not depend on the draw once per run — the long-term features per
  * product, the typical-loss weight per long-term row, and the window start
  * and annual buckets per sampled window length — so each draw is one pass
  * over its window.
  *
  * Feature parity with the reference:
  *  - per-simulation OUTLIER FILTER pass (aep.py:718-840): loss/nan filter,
  *    range flag on ws (and temperature when regressed), window-range flag
  *    on energy vs plant capacity, then Huber-RLM residual flagging
  *    (monthly) or a median/std bin filter (daily), memoized per
  *    (product, loss threshold, outlier threshold) as in aep.py:736-741
  *  - optional temperature / wind-direction regressors (aep.py:531-641):
  *    period means of WMETR_EnvTmp and of the U/V components (direction
  *    recovered from mean U/V), entering the regression as
  *    [ws, temp?, sin(wd)?, cos(wd)?]
  *  - models: "lin" (multivariate OLS), "gam" (additive hinge-spline
  *    ridge), "gbt"/"rf" (driver-side CART boosting/bagging,
  *    graft.fitting.Trees, with random-search KFold hyperparameter
  *    optimization memoized per product, machine_learning_setup.py:62-213)
  */
final class MonteCarloAEP(
    plant: PlantData,
    // "MS" | "ME" (monthly, start/end labels) | "D" (daily) | "h" (hourly)
    // — the reference's full calendar_samples set (aep.py:245-256)
    timeResolution: String = "MS",
    uq: Boolean = false,
    numSim: Int = 2000,
    regModel: String = "lin", // "lin" | "gam" | "gbt" | "rf"
    regTemperature: Boolean = false,
    regWindDirection: Boolean = false,
    outlierDetection: Boolean = false,
    uncertaintyOutlier: (Double, Double) = (1.0, 3.0),
    uncertaintyMeter: Double = 0.005,
    uncertaintyLosses: Double = 0.05,
    // periods built from more than this fraction of missing meter/loss
    // samples are excluded from the regression (aep.py:104-161, :509-520)
    uncertaintyNanEnergy: Double = 0.01,
    // restrict Monte-Carlo product sampling to a subset (aep.py:92-94
    // reanalysis_products); None = all loaded products
    reanalysisProducts: Option[Seq[String]] = None,
    windinessYears: (Int, Int) = (10, 20),
    lossMaxPct: (Int, Int) = (10, 20),
    hyperOptIter: Int = 8, // random-search draws for gbt/rf; 0 = fixed params
    // last bucket (inclusive) of the long-term correction window; None = the
    // end of the long-term series (aep.py:219-224 end_date_lt)
    endDateLt: Option[java.sql.Timestamp] = None,
    seed: Long = 42L) {

  require(Seq("MS", "ME", "D", "h").contains(timeResolution), s"bad timeResolution $timeResolution")
  require(Seq("lin", "gam", "gbt", "rf").contains(regModel), s"bad regModel $regModel")
  MonteCarlo.requireSims(uq, numSim)
  MonteCarlo.requireRange("windinessYears", windinessYears)
  require(windinessYears._1 >= 1, s"windinessYears must start at 1 year or more, got $windinessYears")
  MonteCarlo.requireRange("lossMaxPct", lossMaxPct)
  MonteCarlo.requireRange("uncertaintyOutlier", uncertaintyOutlier)
  private val isMonthly = timeResolution == "MS" || timeResolution == "ME"
  // monthly data has too few points for the nonlinear models (aep.py:257-259)
  require(!isMonthly || regModel == "lin",
    "For monthly time resolution, only linear regression is allowed")
  private val truncUnit =
    if (isMonthly) "month" else if (timeResolution == "D") "day" else "hour"
  private val resampleHours =
    if (isMonthly) 30 * 24 else if (timeResolution == "D") 24 else 1
  /** Max plausible period energy, GWh (aep.py:754). */
  private val plantCapacGwh = plant.metadata.capacityKw / 1e6 * resampleHours

  final case class PeriodRow(
      epochSec: Long, energyGwh: Double, availGwh: Double, curtGwh: Double,
      grossGwh: Double, availPct: Double, curtPct: Double, numDays: Double,
      ws: Map[String, Double], temp: Map[String, Double],
      u: Map[String, Double], v: Map[String, Double],
      nanFlag: Boolean = false) {
    /** Regression features for `product`: [ws, temp?, sin(wd)?, cos(wd)?]
      * with wd from the period-mean components (aep.py:633-641).
      */
    def features(product: String, withTemp: Boolean, withWd: Boolean): Array[Double] = {
      val base = mutable.ArrayBuffer(ws(product))
      if (withTemp) base += temp(product)
      if (withWd) {
        val wd = math.Pi - math.atan2(-u(product), v(product))
        base += math.sin(wd)
        base += math.cos(wd)
      }
      base.toArray
    }
  }

  final case class LtRow(epochSec: Long, numDays: Double,
                         ws: Map[String, Double], temp: Map[String, Double],
                         u: Map[String, Double], v: Map[String, Double]) {
    def features(product: String, withTemp: Boolean, withWd: Boolean): Array[Double] =
      PeriodRow(epochSec, 0, 0, 0, 0, 0, 0, numDays, ws, temp, u, v)
        .features(product, withTemp, withWd)
  }

  final case class Result(aepGwh: Array[Double], availPct: Array[Double],
                          curtPct: Array[Double], iav: Array[Double]) {
    def aepMean: Double = MonteCarlo.mean(aepGwh)
    def aepStd: Double = MonteCarlo.std(aepGwh)
  }

  private lazy val products = MonteCarlo.products(plant, reanalysisProducts)
  private def needsExtras: Boolean = regTemperature || regWindDirection

  /** Density-corrected per-product wind speed resampled to the analysis
    * period (aep.py:611-626; met_data_processing.py:217-234): the density
    * normalizer is the product's full-period mean density, computed as a
    * distributed aggregate and folded back in as a broadcast scalar.
    * Temperature and U/V means ride on the same aggregate when the extra
    * regressors are on.
    */
  private def reanalysisResampled(name: String): DataFrame = {
    val df = plant.reanalysis(name)
    val corrected = df
      .crossJoin(broadcast(df.agg(avg(col("WMETR_AirDen")).as("__rho_ref"))))
      .withColumn("ws_dens_corr", Met.densityAdjustedWindSpeed(
        col("WMETR_HorWdSpd"), col("WMETR_AirDen"), col("__rho_ref")))
    val baseAggs = Seq(
      avg(col("ws_dens_corr")).as(s"ws_$name"),
      count(lit(1)).as(s"n_$name"))
    val extraAggs =
      if (!needsExtras) Seq.empty
      else Seq(
        avg(col("WMETR_EnvTmp")).as(s"temp_$name"),
        avg(col("WMETR_HorWdSpdU")).as(s"u_$name"),
        avg(col("WMETR_HorWdSpdV")).as(s"v_$name"))
    val aggs = baseAggs ++ extraAggs
    corrected.groupBy(date_trunc(truncUnit, col("time")).as("period"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Every product's resampled reanalysis, inner-joined on the period, in
    * period order; collected once per analysis for [[aggregate]] and
    * [[longTermSeries]].
    */
  private lazy val reanalysisRows: Array[Row] =
    byPeriod(products.map(reanalysisResampled)
      .reduce((a, b) => a.join(b, Seq("period"), "inner")).collect())

  /** Collected period rows in period order, a null period first as in
    * `orderBy`: a few thousand rows at most, so they are sorted on the
    * driver, not range-partitioned by a Spark sort.
    */
  private def byPeriod(rows: Array[Row]): Array[Row] =
    rows.sortBy(r => Option(r.getAs[Timestamp]("period")).fold(Long.MinValue)(_.getTime))

  private def mapsOf(r: Row, prefix: String): Map[String, Double] =
    if (!needsExtras) Map.empty
    else products.map(p => p -> r.getAs[Double](s"${prefix}_$p")).toMap

  /** The period-of-record aggregate: energy + losses + per-product wind
    * speeds per month/day (aep.py:414-437 `calculate_aggregate_dataframe`).
    */
  def aggregate(): Seq[PeriodRow] = {
    def nanPerc(c: org.apache.spark.sql.Column) =
      avg(when(c.isNull || isnan(c), 1.0).otherwise(0.0))
    val meterAgg = plant.meterDf
      .groupBy(date_trunc(truncUnit, col("time")).as("period"))
      .agg((sum(col("MMTR_SupWh")) / 1e6).as("energy_gwh"),
        countDistinct(date_trunc("day", col("time"))).as("num_days_actual"),
        nanPerc(col("MMTR_SupWh")).as("energy_nan_perc"))
    val curtAgg = plant.curtailDf
      .groupBy(date_trunc(truncUnit, col("time")).as("period"))
      .agg((sum(col("IAVL_DnWh")) / 1e6).as("availability_gwh"),
        (sum(col("IAVL_ExtPwrDnWh")) / 1e6).as("curtailment_gwh"),
        nanPerc(col("IAVL_DnWh")).as("avail_nan_perc"),
        nanPerc(col("IAVL_ExtPwrDnWh")).as("curt_nan_perc"))
    val rows = byPeriod(meterAgg.join(curtAgg, Seq("period"), "left")
      .withColumn("gross_energy_gwh",
        col("energy_gwh") + col("availability_gwh") + col("curtailment_gwh"))
      .withColumn("availability_pct", col("availability_gwh") / col("gross_energy_gwh"))
      .withColumn("curtailment_pct", col("curtailment_gwh") / col("gross_energy_gwh"))
      .withColumn("num_days_expected",
        if (isMonthly) dayofmonth(last_day(col("period"))).cast("double")
        else lit(1.0))
      .na.drop(Seq("energy_gwh", "gross_energy_gwh"))
      .collect())
    // the reanalysis row of each period; a period without a finite wind
    // speed from every product is dropped
    val reanByPeriod = reanalysisRows.map(r => r.getAs[Timestamp]("period") -> r).toMap
    def finiteWs(re: Row) = products.forall { p =>
      val i = re.fieldIndex(s"ws_$p")
      !re.isNullAt(i) && !re.getDouble(i).isNaN
    }
    val matched = rows.flatMap(r =>
      reanByPeriod.get(r.getAs[Timestamp]("period")).filter(finiteWs).map(r -> _))
    val out = matched.map { case (r, re) =>
      PeriodRow(
        epochSec = MonteCarloAEP.labelEpochSec(
          r.getAs[Timestamp]("period"), timeResolution),
        energyGwh = r.getAs[Double]("energy_gwh"),
        availGwh = r.getAs[Double]("availability_gwh"),
        curtGwh = r.getAs[Double]("curtailment_gwh"),
        grossGwh = r.getAs[Double]("gross_energy_gwh"),
        availPct = r.getAs[Double]("availability_pct"),
        curtPct = r.getAs[Double]("curtailment_pct"),
        numDays = r.getAs[Double]("num_days_expected"),
        ws = products.map(p => p -> re.getAs[Double](s"ws_$p")).toMap,
        temp = mapsOf(re, "temp"), u = mapsOf(re, "u"), v = mapsOf(re, "v"),
        // nan_flag: period excluded when ANY input series is too gappy
        // (aep.py:517-520); missing loss rows (left-join nulls) flag too
        nanFlag = Seq("energy_nan_perc", "avail_nan_perc", "curt_nan_perc")
          .exists { c =>
            val i = r.fieldIndex(c)
            r.isNullAt(i) || r.getDouble(i) > uncertaintyNanEnergy
          })
    }.toSeq
    // trim partial first/last periods (aep.py:643-653)
    if (isMonthly) {
      val actual = matched.map(_._1.getAs[Long]("num_days_actual").toDouble)
      out.zipWithIndex.filter { case (row, i) =>
        !((i == 0 || i == out.length - 1) && actual(i) != row.numDays)
      }.map(_._1)
    } else out
  }

  /** Full long-term reanalysis series per product at the analysis resolution
    * (for the windiness correction), trimmed to full periods.
    */
  def longTermSeries(): Seq[LtRow] = {
    val expectedN = plant.metadata.reanalysisFreqSeconds
    val lt = reanalysisRows.map { r =>
      val ts = r.getAs[Timestamp]("period")
      val date = ts.toInstant.atZone(ZoneOffset.UTC).toLocalDate
      val numDays = if (isMonthly) date.lengthOfMonth.toDouble
                    else if (timeResolution == "D") 1.0 else 1.0 / 24
      val full = products.forall { p =>
        val n = r.getAs[Long](s"n_$p")
        n >= (numDays * 24 * 3600 / expectedN).toLong
      }
      (LtRow(MonteCarloAEP.labelEpochSec(ts, timeResolution), numDays,
        products.map(p => p -> r.getAs[Double](s"ws_$p")).toMap,
        mapsOf(r, "temp"), mapsOf(r, "u"), mapsOf(r, "v")), full)
    }
    lt.filter(_._2).map(_._1).toSeq
  }

  // -------------------------------------------------------------------------
  // Per-simulation outlier filtering (aep.py:718-840), memoized per
  // (product, loss threshold, outlier threshold) — the reference memoizes on
  // (product, loss threshold) only, which silently reuses the FIRST sampled
  // outlier threshold; keying on all three is the correct generalization.
  // -------------------------------------------------------------------------
  private val outlierCache =
    mutable.Map.empty[(String, Double, Double), Seq[PeriodRow]]

  private[analysis] def filterOutliers(agg: Seq[PeriodRow], product: String,
                                       lossThreshold: Double,
                                       outlierThreshold: Double): Seq[PeriodRow] =
    outlierCache.getOrElseUpdate((product, lossThreshold, outlierThreshold), {
      // loss filter + the nan-gappiness flag (aep.py:746-749)
      val sub = agg.filter(r =>
        (r.availPct + r.curtPct) < lossThreshold && !r.nanFlag)
      if (sub.isEmpty) sub
      else {
        // range flag on ws (filters.range_flag(lower=0, upper=40))
        def flagRange(r: PeriodRow) = r.ws(product) < 0 || r.ws(product) > 40
        // range flag on temperature, Kelvin (aep.py:760-766)
        def flagRangeT(r: PeriodRow) =
          regTemperature && (r.temp(product) < 200 || r.temp(product) > 320)
        // window-range flag: plausible ws but implausible energy (aep.py:767-774)
        def flagWindow(r: PeriodRow) =
          r.ws(product) >= 5.0 && r.ws(product) <= 40.0 &&
            !(r.energyGwh >= 0.02 * plantCapacGwh && r.energyGwh <= 1.2 * plantCapacGwh)
        val flaggedOutlier: Set[Long] =
          if (!outlierDetection) Set.empty
          else if (isMonthly) {
            // monthly: Huber-RLM on (ws, 30-day-normalized gross energy);
            // months the robust fit down-weights are outliers (aep.py:776-790)
            val xs = sub.map(_.ws(product)).toArray
            val ys = sub.map(r => r.grossGwh * 30.0 / r.numDays).toArray
            val w = Fitting.huberWeights(xs, ys, outlierThreshold)
            sub.zip(w).filter(_._2 != 1.0).map(_._1.epochSec).toSet
          } else {
            // daily/hourly: median/std bin filter on (gross energy bin -> ws)
            // (aep.py:792-806)
            binFilterFlags(sub, product,
              binWidth = 0.06 * plantCapacGwh, threshold = outlierThreshold,
              binMin = 0.01 * plantCapacGwh, binMax = 0.85 * plantCapacGwh)
          }
        sub.filterNot(r => flagRange(r) || flagRangeT(r) || flagWindow(r) ||
          flaggedOutlier(r.epochSec))
      }
    })

  /** Driver-side bin filter over the (tiny) period aggregate: bin rows by
    * gross energy, flag rows whose ws deviates from the bin median by more
    * than `threshold` bin standard deviations. Rows outside [binMin, binMax]
    * are never flagged (filters.py bin_filter bin_min/bin_max semantics).
    */
  private def binFilterFlags(rows: Seq[PeriodRow], product: String,
                             binWidth: Double, threshold: Double,
                             binMin: Double, binMax: Double): Set[Long] = {
    val inRange = rows.filter(r => r.grossGwh >= binMin && r.grossGwh <= binMax)
    inRange.groupBy(r => math.floor(r.grossGwh / binWidth)).values.flatMap { rs =>
      val ws = rs.map(_.ws(product))
      if (ws.size < 2) Seq.empty
      else {
        val med = Fitting.percentileSorted(ws.sorted.toArray, 0.5)
        val sd = MonteCarlo.std(ws)
        rs.filter(r => math.abs(r.ws(product) - med) > threshold * sd).map(_.epochSec)
      }
    }.toSet
  }

  // memoized tree hyperparameters per product (machine_learning_setup.py:62-213)
  private val hyperCache = mutable.Map.empty[String, (Int, Int)]

  def run(): Result = {
    val agg = aggregate()
    require(agg.nonEmpty, "empty period-of-record aggregate")
    val lt = longTermSeries()
    // trim the LT series at end_date_lt (inclusive at the stated bucket;
    // only the resolution-grain component of the date matters, aep.py:251-253)
    val ltUsable = endDateLt match {
      case Some(ts) =>
        val cut = MonteCarloAEP.resolutionCut(ts, timeResolution)
        lt.filter(_.epochSec <= cut)
      case None => lt
    }
    require(ltUsable.nonEmpty, "empty long-term series (end_date_lt too early?)")
    val rng = new scala.util.Random(seed)
    val sims = if (uq) numSim else 1

    // typical-calendar losses (aep.py:655-682, groupby_time_res
    // aep.py:394-411): mean pct per calendar month / (month, day) /
    // (month, day, hour) depending on resolution
    def calendarKey(epochSec: Long): Int = {
      val d = java.time.LocalDateTime.ofEpochSecond(epochSec, 0, ZoneOffset.UTC)
      if (isMonthly) d.getMonthValue
      else if (timeResolution == "D") d.getMonthValue * 100 + d.getDayOfMonth
      else (d.getMonthValue * 100 + d.getDayOfMonth) * 100 + d.getHour
    }
    val typicalAvail = agg.groupBy(r => calendarKey(r.epochSec))
      .map { case (k, rs) => k -> rs.map(_.availPct).sum / rs.size }
    val typicalCurt = agg.groupBy(r => calendarKey(r.epochSec))
      .map { case (k, rs) => k -> rs.map(_.curtPct).sum / rs.size }

    // what does not depend on the draw, once: per long-term row its
    // typical-loss weights, per product the long-term features, per sampled
    // window length the window's first row and its rows' annual buckets
    val ltSecs = ltUsable.map(_.epochSec).toArray
    val ltAvail = ltUsable.map(r => typicalAvail.getOrElse(calendarKey(r.epochSec), 0.0)).toArray
    val ltCurt = ltUsable.map(r => typicalCurt.getOrElse(calendarKey(r.epochSec), 0.0)).toArray
    val ltNumDays = ltUsable.map(_.numDays).toArray
    val ltFeatures = mutable.Map.empty[String, Array[Array[Double]]]
    val windows = mutable.Map.empty[Int, (Int, Array[Int], Int)]
    // long-term window: the last `years` CALENDAR years ending at the
    // series end (or endDateLt) — the reference's end-anchored DateOffset
    // slice (aep.py:1125-1133), not a fixed bucket count, so leap days
    // stay inside the window at D/h resolutions; returns its first row,
    // each of its rows' annual bucket and the number of buckets
    def window(years: Int): (Int, Array[Int], Int) = windows.getOrElseUpdate(years, {
      val startSec = MonteCarloAEP.windowStartSec(ltSecs.last, years, timeResolution)
      val start = ltSecs.indexWhere(_ >= startSec)
      val bucket = MonteCarloAEP.annualBuckets(ltSecs.drop(start))
      (start, bucket, bucket.max + 1)
    })

    val aepA = new Array[Double](sims)
    val availA = new Array[Double](sims)
    val curtA = new Array[Double](sims)
    val iavA = new Array[Double](sims)

    for (n <- 0 until sims) {
      val product = MonteCarlo.pick(rng, products)
      val meterFrac = if (uq) MonteCarlo.jitter(rng, uncertaintyMeter) else 1.0
      val lossFrac = if (uq) MonteCarlo.jitter(rng, uncertaintyLosses) else 1.0
      val years =
        if (uq) MonteCarlo.inclusive(rng, windinessYears._1, windinessYears._2)
        else windinessYears._2
      val lossThreshold =
        (if (uq) MonteCarlo.inclusive(rng, lossMaxPct._1, lossMaxPct._2) else lossMaxPct._2) / 100.0
      // sampled Huber/bin threshold (aep.py:706-715): uniform on a 0.1 grid
      val outlierThreshold =
        if (!outlierDetection) 0.0
        else if (uq) MonteCarlo.onGrid(rng, uncertaintyOutlier, 10)
        else (uncertaintyOutlier._1 + uncertaintyOutlier._2) / 2.0

      val valid = filterOutliers(agg, product, lossThreshold, outlierThreshold)
      // MC-scale + 30-day normalize, then bootstrap + regression (aep.py:842-927)
      val data = valid.map { r =>
        val gross = r.energyGwh * meterFrac + (r.availGwh + r.curtGwh) * lossFrac
        val norm = if (isMonthly) gross * 30.0 / r.numDays else gross
        (r.features(product, regTemperature, regWindDirection), norm)
      }
      val sample = if (uq) Array.fill(data.size)(data(rng.nextInt(data.size))) else data.toArray
      val xs = sample.map(_._1); val ys = sample.map(_._2)
      val predict: Array[Double] => Double = regModel match {
        case "lin" => Fitting.olsPredict(Fitting.olsFit(xs, ys))
        case "gam" => Fitting.gamFit(xs, ys)
        case _ =>
          MonteCarloAEP.fitTreeModel(regModel, xs, ys,
            seed + n, hyperOptIter, hyperCache, product,
            new scala.util.Random(seed ^ product.hashCode))
      }

      // one pass over the window: long-term gross, its gross-weighted
      // losses (aep.py:1167-1193) and its ANCHORED annual sums for the
      // inter-annual variability (aep.py:40-59 get_annual_values)
      val features = ltFeatures.getOrElseUpdate(product,
        ltUsable.map(_.features(product, regTemperature, regWindDirection)).toArray)
      val (start, bucket, numYears) = window(years)
      val annual = new Array[Double](numYears)
      var grossSum, availSum, curtSum = 0.0
      var i = start
      while (i < ltSecs.length) {
        val p = predict(features(i))
        val g = if (isMonthly) p * ltNumDays(i) / 30.0 else p
        grossSum += g
        availSum += ltAvail(i) * g
        curtSum += ltCurt(i) * g
        annual(bucket(i - start)) += g
        i += 1
      }
      val availLt = availSum / grossSum
      val curtLt = curtSum / grossSum
      val iav =
        if (annual.length > 1) MonteCarlo.std(annual) / MonteCarlo.mean(annual) else 0.0

      val aep = grossSum / years * (1.0 - availLt)
      aepA(n) = if (uq) aep * MonteCarlo.jitter(rng, iav) else aep
      availA(n) = availLt
      curtA(n) = curtLt
      iavA(n) = iav
    }
    Result(aepA, availA, curtA, iavA)
  }
}

object MonteCarloAEP {
  import graft.fitting.Trees

  /** The pandas resample label for a bucket-START timestamp: identical for
    * MS/D/h; month-END (pandas "ME") labels the last day of the month.
    */
  private[analysis] def labelEpochSec(periodStart: java.sql.Timestamp,
                                      timeResolution: String): Long = {
    val start = periodStart.toInstant
    if (timeResolution != "ME") start.getEpochSecond
    else {
      val d = start.atZone(ZoneOffset.UTC).toLocalDate
      d.withDayOfMonth(d.lengthOfMonth).atStartOfDay(ZoneOffset.UTC).toEpochSecond
    }
  }

  /** The inclusive end-of-window cut for end_date_lt at the analysis
    * resolution: any date inside a month includes that whole month
    * (monthly), else the day/hour containing the date.
    */
  private[analysis] def resolutionCut(ts: java.sql.Timestamp,
                                      timeResolution: String): Long = {
    val dt = ts.toInstant.atZone(ZoneOffset.UTC)
    timeResolution match {
      case "MS" | "ME" =>
        val d = dt.toLocalDate
        d.withDayOfMonth(d.lengthOfMonth).atStartOfDay(ZoneOffset.UTC).toEpochSecond
      case "D" => dt.toLocalDate.atStartOfDay(ZoneOffset.UTC).toEpochSecond
      case _ => dt.truncatedTo(java.time.temporal.ChronoUnit.HOURS).toEpochSecond
    }
  }

  /** Start (inclusive, epoch seconds) of the last `years` CALENDAR years of
    * a long-term series whose final bucket starts at `lastEpochSec` — the
    * reference's `ws_df.loc[index[-1] + freq - DateOffset(years=N):]`
    * (aep.py:1125-1133): one bucket past the last row, minus `years`.
    */
  private[analysis] def windowStartSec(lastEpochSec: Long, years: Int,
                                       timeResolution: String): Long = {
    val lastStart = java.time.LocalDateTime.ofEpochSecond(
      lastEpochSec, 0, ZoneOffset.UTC)
    val end = timeResolution match {
      case "MS" | "ME" => lastStart.plusMonths(1)
      case "D" => lastStart.plusDays(1)
      case _ => lastStart.plusHours(1)
    }
    end.minusYears(years).toEpochSecond(ZoneOffset.UTC)
  }

  /** Annual bucket of each timestamp, anchored at the month START of the
    * first one — pandas `get_annual_values` (aep.py:40-59): the index is
    * shifted by (first - its month begin), then grouped into consecutive
    * 12-calendar-month windows numbered from 0.
    */
  private[analysis] def annualBuckets(epochSecs: Array[Long]): Array[Int] = {
    if (epochSecs.isEmpty) return Array.empty
    import java.time.{Duration, LocalDateTime}
    import java.time.temporal.ChronoUnit
    val first = LocalDateTime.ofEpochSecond(epochSecs.head, 0, ZoneOffset.UTC)
    val anchor = first.toLocalDate.withDayOfMonth(1).atStartOfDay
    val delta = Duration.between(anchor, first)
    epochSecs.map { s =>
      val shifted = LocalDateTime.ofEpochSecond(s, 0, ZoneOffset.UTC)
        .minus(delta).toLocalDate.withDayOfMonth(1)
      (ChronoUnit.MONTHS.between(anchor.toLocalDate, shifted) / 12).toInt
    }
  }

  /** Annual sums over [[annualBuckets]], in index order. */
  private[analysis] def annualSums(epochSecs: Array[Long],
                                   values: Array[Double]): Array[Double] = {
    val bucket = annualBuckets(epochSecs)
    val out = new Array[Double](if (bucket.isEmpty) 0 else bucket.max + 1)
    bucket.indices.foreach(i => out(bucket(i)) += values(i))
    out
  }

  /** Fit a tree regressor on a small multivariate sample; returns a
    * driver-side predictor. With `hyperOptIter > 0` hyperparameters come
    * from a random search with 5-fold cross-validation, memoized per
    * reanalysis product — mirroring the reference's RandomizedSearchCV +
    * KFold setup (utils/machine_learning_setup.py:62-213, aep.py:930-959).
    *
    * The fit is DRIVER-SIDE (graft.fitting.Trees): the per-simulation
    * samples are <= a few hundred rows, and a distributed fit per simulation
    * would launch thousands of tiny Spark jobs across an MC run (plus 5x per
    * hyperopt candidate fold) to move microseconds of arithmetic — the
    * KMeansLite pathology. numSim=2000 UQ-gbt now costs seconds, not hours.
    */
  def fitTreeModel(model: String,
                   xs: Array[Array[Double]], ys: Array[Double], seed: Long,
                   hyperOptIter: Int,
                   cache: mutable.Map[String, (Int, Int)], product: String,
                   searchRng: scala.util.Random): Array[Double] => Double = {
    val (depth, rounds) =
      if (hyperOptIter <= 0) (if (model == "gbt") (3, 50) else (6, 100))
      else cache.getOrElseUpdate(product,
        hyperOptimize(model, xs, ys, seed, hyperOptIter, searchRng))
    fitOnce(model, xs, ys, seed, depth, rounds)
  }

  private def fitOnce(model: String, xs: Array[Array[Double]],
                      ys: Array[Double], seed: Long,
                      depth: Int, rounds: Int): Array[Double] => Double =
    model match {
      case "gbt" => Trees.gbtFit(xs, ys, depth, rounds)
      case "rf"  => Trees.rfFit(xs, ys, depth, rounds, seed)
      case other => throw new IllegalArgumentException(s"bad tree model $other")
    }

  /** Random search over (maxDepth, rounds) scored by 5-fold CV MSE on the
    * (tiny, driver-side) aggregate sample.
    */
  private def hyperOptimize(model: String,
                            xs: Array[Array[Double]], ys: Array[Double], seed: Long,
                            nIter: Int, rng: scala.util.Random): (Int, Int) = {
    val folds = 5
    val idx = rng.shuffle(xs.indices.toList).toArray
    val candidates = Seq.fill(nIter)((2 + rng.nextInt(7), 20 + rng.nextInt(7) * 20))
    val scored = candidates.distinct.map { case (depth, rounds) =>
      val mse = (0 until folds).map { f =>
        val test = idx.zipWithIndex.filter(_._2 % folds == f).map(_._1)
        val train = idx.zipWithIndex.filter(_._2 % folds != f).map(_._1)
        if (train.isEmpty || test.isEmpty) 0.0
        else {
          val m = fitOnce(model, train.map(xs), train.map(ys), seed, depth, rounds)
          test.map { i =>
            val p = m(xs(i))
            (p - ys(i)) * (p - ys(i))
          }.sum / test.length
        }
      }.sum / folds
      ((depth, rounds), mse)
    }
    scored.minBy(_._2)._1
  }
}
