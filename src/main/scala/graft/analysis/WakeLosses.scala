package graft.analysis

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pins

import graft.fitting.Fitting
import graft.functions.Met
import graft.plant.PlantData

/** Internal wake losses from freestream-vs-plant power comparison, with
  * long-term correction against the reanalysis wind rose.
  *
  * Spark re-expression of openoa/analysis/wake_losses.py:53-1317. Key
  * structural change per SURVEY.md §3.3: the reference unstacks SCADA to a
  * wide (time x turbine) frame in memory; here the data stays LONG and every
  * per-timestamp quantity (reference direction, freestream means, plant
  * sums) is a groupBy("time") aggregate — the only fact-grain shuffles. The
  * freestream assignment is a broadcast (wd_bin -> turbine set) table built
  * from the tiny asset-pair geometry.
  *
  * Parity features:
  *  - derating identification (wake_losses.py:1057-1095): per-turbine
  *    window-range + median/MAD power-curve bin flags; derated samples are
  *    excluded, and only all-turbines-reporting timestamps enter the loss
  *    calculation (the reference's dropna over the wide frame)
  *  - SCADA->reanalysis wind speed bias regression (wake_losses.py:
  *    1127-1147): hourly freestream ws binned to integers, bin means
  *    regressed onto the product's ws, correction applied before LT binning
  *  - per-turbine long-term correction (wake_losses.py:1236-1303)
  *  - all reanalysis products: averaged without UQ, sampled per sim with UQ
  *  - UQ bootstrap over (product, sector width, MAD threshold, derating ws
  *    start, max power filter), wake_losses.py:899-926
  */
final class WakeLosses(
    plant: PlantData,
    wdBinWidth: Double = 5.0,
    freestreamSectorWidth: Double = 90.0,
    wsBinWidthLt: Double = 1.0,
    deratingFilter: Boolean = true,
    deratingWsStart: Double = 4.5,
    maxPowerFilter: Double = 0.95,
    windBinMadThresh: Double = 7.0,
    uq: Boolean = false,
    numSim: Int = 20,
    uncertaintySectorWidth: (Int, Int) = (50, 110),
    uncertaintyMadThresh: (Int, Int) = (4, 13),
    uncertaintyWsStart: (Double, Double) = (4.0, 8.0),
    uncertaintyMaxPower: (Double, Double) = (0.92, 0.98),
    minWsBinLinReg: Double = 1.0,
    binCountThreshLinReg: Long = 50L,
    wdRef: String = "scada", // "scada" | "tower" (wake_losses.py wd_ref)
    // freestream aggregation methods (wake_losses.py:187-188)
    freestreamPowerMethod: String = "mean", // "mean" | "median" | "max"
    freestreamWsMethod: String = "mean",
    // LT correction window: last N calendar years of reanalysis, sampled
    // under UQ (wake_losses.py:201 num_years_LT)
    numYearsLt: (Int, Int) = (10, 20),
    // bins above this freestream ws assume zero wake loss
    // (wake_losses.py:202-203)
    assumeNoWakesHighWs: Boolean = true,
    noWakesWsThresh: Double = 13.0,
    // optional POR bounds (wake_losses.py:169-170 start_date/end_date)
    startDate: Option[java.sql.Timestamp] = None,
    endDate: Option[java.sql.Timestamp] = None,
    // restrict product sampling (wake_losses.py:171-181 reanalysis_products)
    reanalysisProducts: Option[Seq[String]] = None,
    seed: Long = 42L) {

  require(Seq("scada", "tower").contains(wdRef), s"bad wdRef $wdRef")
  require(Seq("mean", "median", "max").contains(freestreamPowerMethod))
  require(Seq("mean", "median", "max").contains(freestreamWsMethod))
  require(!uq || numSim >= 1, s"numSim must be >= 1 with uq, got $numSim")
  require(uncertaintySectorWidth._1 <= uncertaintySectorWidth._2,
    s"uncertaintySectorWidth must be (lo, hi) with lo <= hi, got $uncertaintySectorWidth")
  require(uncertaintyMadThresh._1 <= uncertaintyMadThresh._2,
    s"uncertaintyMadThresh must be (lo, hi) with lo <= hi, got $uncertaintyMadThresh")
  require(uncertaintyWsStart._1 <= uncertaintyWsStart._2,
    s"uncertaintyWsStart must be (lo, hi) with lo <= hi, got $uncertaintyWsStart")
  require(uncertaintyMaxPower._1 <= uncertaintyMaxPower._2,
    s"uncertaintyMaxPower must be (lo, hi) with lo <= hi, got $uncertaintyMaxPower")
  require(numYearsLt._1 <= numYearsLt._2,
    s"numYearsLt must be (lo, hi) with lo <= hi, got $numYearsLt")

  final case class Result(
      porLossPlant: Double, porLossByTurbine: Map[String, Double],
      ltLossPlant: Double, ltLossByTurbine: Map[String, Double],
      porLossStd: Double = 0.0, ltLossStd: Double = 0.0)

  private final case class Once(por: Double, porByT: Map[String, Double],
                                lt: Double, ltByT: Map[String, Double])

  private def nBins(binWidth: Double): Int = math.round(360.0 / binWidth).toInt

  /** Freestream turbine sets per wind-direction bin: a turbine is freestream
    * for a direction if no other turbine lies upwind within the sector
    * (plant.py:1387-1450 `get_freestream_turbines`, sector method).
    * Driver-side over the tiny pair table; wraparound handled via wrap180.
    */
  def freestreamByBin(sectorWidth: Double = freestreamSectorWidth): Map[Int, Seq[String]] = {
    val turbines = plant.turbineIds
    val turbineSet = turbines.toSet
    (0 until nBins(wdBinWidth)).map { b =>
      val wd = b * wdBinWidth + wdBinWidth / 2.0
      val free = turbines.filter { t =>
        // upwind neighbors: bearing from t to neighbor within sector of wd
        // (only turbines block; met towers in the asset table don't wake)
        !assetPairs.exists { case (a, nb, bearing) =>
          a == t && nb != t && turbineSet(nb) &&
            math.abs(((bearing - wd) % 360 + 540) % 360 - 180) <= sectorWidth / 2
        }
      }
      // a direction bin with no qualifying turbine falls back to all turbines
      b -> (if (free.nonEmpty) free else turbines)
    }.toMap
  }

  // (asset_a, asset_b, bearing from a to b), collected once per analysis
  private lazy val assetPairs: Array[(String, String, Double)] =
    plant.assetDistances
      .select("asset_a", "asset_b", "bearing_deg")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))

  /** Per-turbine derating/curtailment flags (wake_losses.py:1057-1095):
    * window-range flag (plausible ws, implausible power) OR a median/MAD
    * power-curve bin flag (ws above the bin median by > thresh MADs, power
    * bins limited to [0.01, maxPf] x rated). All aggregates are per
    * (asset, power-bin) — a #turbines x #bins broadcast table.
    */
  def withDerateFlag(scada: DataFrame, rated: Map[String, Double],
                     wsStart: Double, maxPf: Double, madThresh: Double): DataFrame = {
    val ratedCol = typedLit(rated).apply(col("asset_id"))
    val flagWindow = col("WMET_HorWdSpd") >= wsStart && col("WMET_HorWdSpd") <= 40.0 &&
      !(col("WTUR_W") >= ratedCol * 0.01 && col("WTUR_W") <= ratedCol * 1.2)
    val binFrac = 0.04 * (maxPf - 0.01) // 25 bins over the filter range
    val binned = scada.withColumn("__rated", ratedCol)
      .withColumn("__bin", floor(col("WTUR_W") / (lit(binFrac) * col("__rated"))))
    val inBinRange = col("WTUR_W") >= lit(0.01) * col("__rated") &&
      col("WTUR_W") <= lit(maxPf) * col("__rated")
    val med = binned.filter(inBinRange)
      .groupBy("asset_id", "__bin")
      .agg(percentile_approx(col("WMET_HorWdSpd"), lit(0.5), lit(10000)).as("__med"))
    val mad = binned.filter(inBinRange)
      .join(broadcast(med), Seq("asset_id", "__bin"))
      .groupBy("asset_id", "__bin")
      .agg(percentile_approx(abs(col("WMET_HorWdSpd") - col("__med")), lit(0.5), lit(10000))
        .as("__mad"))
    binned
      .join(broadcast(med), Seq("asset_id", "__bin"), "left")
      .join(broadcast(mad), Seq("asset_id", "__bin"), "left")
      .withColumn("flag_bin", coalesce(
        inBinRange &&
          (col("WMET_HorWdSpd") - col("__med")) > lit(madThresh) * col("__mad"),
        lit(false)))
      .withColumn("derate_flag", flagWindow || col("flag_bin"))
      .drop("__rated", "__bin", "__med", "__mad", "flag_bin")
  }

  /** Per-timestamp plant frame: reference direction (circular mean over
    * turbines), plant power, freestream mean power/ws
    * (wake_losses.py:982-1054, :600-646). Only timestamps with ALL turbines
    * reporting (after derating exclusion) qualify — the reference's
    * dropna(how="any") over the wide frame.
    */
  def timestampAggregate(scada: DataFrame, sectorWidth: Double,
                         nTurbines: Int): DataFrame = {
    // reference wind direction: circular mean over turbines (default), or
    // over met-tower direction sensors when wdRef="tower"
    // (wake_losses.py:1016-1033 wd_ref asset option)
    val perTime = scada
      .groupBy("time")
      .agg(Met.circularMeanAgg(col("WMET_HorWdDir")).as("__scada_wd"),
        count(lit(1)).as("n_reporting"))
      .filter(col("n_reporting") === nTurbines)
    val withRef = (wdRef match {
      case "tower" =>
        val tower = plant.tower.getOrElse(
          sys.error("wdRef=\"tower\" requires the tower bucket"))
        val towerWd = tower.groupBy("time")
          .agg(Met.circularMeanAgg(col("WMET_HorWdDir")).as("wd_ref"))
        perTime.join(towerWd, Seq("time")).drop("__scada_wd")
      case _ => perTime.withColumnRenamed("__scada_wd", "wd_ref")
    }).withColumn("wd_bin", floor(col("wd_ref") / wdBinWidth).cast("int"))
    // broadcast freestream membership as (wd_bin, asset_id) table
    val fs = freestreamByBin(sectorWidth).toSeq.flatMap { case (b, ts) => ts.map(t => (b, t)) }
    val spark = plant.scadaDf.sparkSession
    import spark.implicits._
    val fsDf = broadcast(fs.toDF("wd_bin", "asset_id").withColumn("is_freestream", lit(true)))
    val joined = scada.join(withRef.select("time", "wd_ref", "wd_bin", "n_reporting"), Seq("time"))
      .join(fsDf, Seq("wd_bin", "asset_id"), "left")
      .withColumn("is_freestream", coalesce(col("is_freestream"), lit(false)))
    // freestream aggregation per the configured method
    // (wake_losses.py:187-188, :1041-1054)
    def fsAgg(c: org.apache.spark.sql.Column, method: String) = method match {
      case "mean"   => avg(c)
      case "median" => percentile(c, lit(0.5))
      case "max"    => max(c)
    }
    joined.groupBy("time")
      .agg(first(col("wd_ref")).as("wd_ref"),
        first(col("wd_bin")).as("wd_bin"),
        first(col("n_reporting")).as("n_reporting"),
        sum(col("WTUR_W")).as("plant_power"),
        fsAgg(when(col("is_freestream"), col("WTUR_W")), freestreamPowerMethod)
          .as("freestream_power"),
        fsAgg(when(col("is_freestream"), col("WMET_HorWdSpd")), freestreamWsMethod)
          .as("freestream_ws"))
      .filter(col("freestream_power").isNotNull)
  }

  /** Linear map from SCADA freestream ws to the product's reanalysis ws
    * (wake_losses.py:1127-1147): hourly means, integer ws bins, OLS over
    * bins with enough support. Falls back to identity when the POR is too
    * short to populate two valid bins.
    */
  private def wsBiasFit(ts: DataFrame, product: String): Fitting.LinearFit = {
    val rean = plant.reanalysis(product)
      .select(date_trunc("hour", col("time")).as("hour"),
        col("WMETR_HorWdSpd").as("__rws"))
      .groupBy("hour").agg(avg(col("__rws")).as("__rws"))
    val hourly = ts.groupBy(date_trunc("hour", col("time")).as("hour"))
      .agg(avg(col("freestream_ws")).as("__fws"))
      .join(rean, Seq("hour"))
    val bins = hourly.withColumn("__wsb", round(col("__fws")))
      .groupBy("__wsb")
      .agg(avg(col("__rws")).as("__mrws"), count(lit(1)).as("__n"))
      .filter(col("__wsb") >= minWsBinLinReg && col("__n") >= binCountThreshLinReg)
      .collect()
    if (bins.length < 2) Fitting.LinearFit(1.0, 0.0)
    else {
      val x = bins.map(_.getDouble(0))
      val y = bins.map(_.getDouble(1))
      Fitting.wlsFit(x, y, Array.fill(x.length)(1.0))
    }
  }

  // last reanalysis bucket per product, for the LT windiness window
  private lazy val reanEnd: Map[String, Long] =
    plant.reanalysis.keys.map { p =>
      p -> plant.reanalysis(p).agg(max(col("time"))).head()
        .getTimestamp(0).toInstant.getEpochSecond
    }.toMap

  /** Long-term (wd_bin, ws_bin) wind-rose frequency table over the last
    * `years` calendar years of a reanalysis product
    * (wake_losses.py:1150-1174). Counts per bin; callers normalize. Bins
    * floor on the SAME widths as the POR binning so the join grain matches.
    */
  def longTermFrequency(product: String, years: Int): DataFrame = {
    val ltStart = MonteCarloAEP.windowStartSec(reanEnd(product), years, "h")
    plant.reanalysis(product)
      .filter(unix_timestamp(col("time")) >= ltStart)
      .withColumn("wd_bin", floor(col("WMETR_HorWdDir") / wdBinWidth).cast("int"))
      .withColumn("ws_bin", floor(col("WMETR_HorWdSpd") / wsBinWidthLt).cast("int"))
      .groupBy("wd_bin", "ws_bin").agg(count(lit(1)).as("freq"))
  }

  /** Sums over one (wd_bin, ws_bin) bin of the POR timestamps: actual and
    * freestream power, and the row count. `key` is None when an edge is
    * null; such a bin counts toward the POR totals but never matches the
    * long-term wind rose.
    */
  private final case class BinSums(key: Option[(Int, Int)], actual: Double,
                                   freestream: Double, n: Long)

  private def binSums(r: Row, i: Int): BinSums =
    BinSums(if (r.isNullAt(i) || r.isNullAt(i + 1)) None else Some((r.getInt(i), r.getInt(i + 1))),
      r.getDouble(i + 2), r.getDouble(i + 3), r.getLong(i + 4))

  /** One wake-loss evaluation for a fixed parameter draw. `base` is the
    * na-dropped SCADA projection, pinned by [[run]] so UQ draws don't
    * re-scan the fact table. The derate-filtered SCADA and the
    * per-timestamp frame are pinned for the draw: the bias fit and both bin
    * reductions re-read them. The four losses come from three bounded
    * collects (plant bins, turbine bins, the long-term wind rose), weighted
    * on the driver.
    */
  private def runOnce(base: DataFrame, product: String, sectorWidth: Double,
                      madThresh: Double, wsStart: Double, maxPf: Double,
                      years: Int): Once = Pins.scoped { pins =>
    val nTurbines = plant.turbineIds.size
    val scada =
      if (deratingFilter)
        pins.pin(withDerateFlag(base, plant.ratedPower, wsStart, maxPf, madThresh)
          .filter(!col("derate_flag")).drop("derate_flag"))
      else base
    val ts = pins.pin(timestampAggregate(scada, sectorWidth, nTurbines))

    // LT binning (wake_losses.py:1098-1147): (wd, ws) bins on the
    // bias-corrected freestream ws
    val fit = wsBiasFit(ts, product)
    val tsBinned = ts.withColumn("ws_bin", floor(
      (lit(fit.intercept) + lit(fit.slope) * col("freestream_ws")) / wsBinWidthLt).cast("int"))
    val plantBins = tsBinned.groupBy("wd_bin", "ws_bin")
      .agg(sum(col("plant_power")), sum(col("freestream_power")), count(lit(1)))
      .collect().map(binSums(_, 0)).toSeq
    // per-turbine bins: each turbine's power vs the freestream mean
    val turbineBins = scada
      .join(tsBinned.select("time", "wd_bin", "ws_bin", "freestream_power"), Seq("time"))
      .groupBy("asset_id", "wd_bin", "ws_bin")
      .agg(sum(col("WTUR_W")), sum(col("freestream_power")), count(lit(1)))
      .collect().groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(binSums(_, 1)).toSeq }
    // long-term wind rose over the last `years` calendar years of reanalysis
    // (wake_losses.py:201 num_years_LT; end-anchored like the AEP windiness)
    val freq = longTermFrequency(product, years).collect()
      .filterNot(r => r.isNullAt(0) || r.isNullAt(1))
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

    // POR loss (wake_losses.py:653-731): potential = freestream power x
    // `scale` (N for the plant, 1 per turbine); no timestamps gives 0/0 = NaN
    def porLoss(bins: Seq[BinSums], scale: Double): Double =
      1.0 - bins.map(_.actual).sum / (bins.map(_.freestream).sum * scale)
    // LT loss (wake_losses.py:1150-1303): per-bin mean actual and potential
    // weighted by the bin's long-term count. Above the no-wakes threshold
    // the bin is assumed wake-free, its actual replaced by its potential
    // (wake_losses.py:202-203). No bin shared with the wind rose means no
    // long-term weighting is possible: None.
    val noWakesBin = math.floor(noWakesWsThresh / wsBinWidthLt).toInt
    def ltLoss(bins: Seq[BinSums], scale: Double): Option[Double] = {
      val weighted = bins.flatMap(b => b.key.flatMap(freq.get).map(f => (b, f.toDouble)))
      if (weighted.isEmpty) None
      else {
        var a = 0.0; var p = 0.0
        weighted.foreach { case (b, f) =>
          val actual = b.actual / b.n
          val potential = b.freestream * scale / b.n
          val wakeFree = assumeNoWakesHighWs && b.key.exists(_._2 >= noWakesBin)
          a += (if (wakeFree) potential else actual) * f
          p += potential * f
        }
        Some(1.0 - a / p)
      }
    }

    Once(
      por = porLoss(plantBins, nTurbines),
      porByT = turbineBins.map { case (t, bs) => t -> porLoss(bs, 1.0) },
      lt = ltLoss(plantBins, nTurbines).getOrElse(Double.NaN),
      ltByT = turbineBins.flatMap { case (t, bs) => ltLoss(bs, 1.0).map(t -> _) })
  }

  def run(): Result = Pins.scoped { pins =>
    val products = reanalysisProducts
      .map { ps =>
        ps.foreach(p => require(plant.reanalysis.contains(p), s"unknown reanalysis product '$p'"))
        ps.sorted
      }
      .getOrElse(plant.reanalysis.keys.toSeq.sorted)
    val base0 = plant.scadaDf
      .select(col("time"), col("asset_id"), col("WTUR_W"), col("WMET_HorWdSpd"),
        col("WMET_HorWdDir"))
      .na.drop()
    // optional POR bounds (wake_losses.py:169-170)
    val base = pins.pin(Seq(
      startDate.map(d => col("time") >= lit(d)),
      endDate.map(d => col("time") <= lit(d)))
      .flatten.foldLeft(base0)(_ filter _))
    val runs: Seq[Once] =
      if (!uq) products.map(p => runOnce(base, p, freestreamSectorWidth,
        windBinMadThresh, deratingWsStart, maxPowerFilter, numYearsLt._2))
      else {
        val rng = new scala.util.Random(seed)
        (0 until numSim).map { _ =>
          val p = products(rng.nextInt(products.size))
          val sector = uncertaintySectorWidth._1 +
            rng.nextInt(uncertaintySectorWidth._2 - uncertaintySectorWidth._1 + 1)
          val mad = uncertaintyMadThresh._1 +
            rng.nextInt(uncertaintyMadThresh._2 - uncertaintyMadThresh._1 + 1)
          val ws0 = uncertaintyWsStart._1 +
            rng.nextInt(((uncertaintyWsStart._2 - uncertaintyWsStart._1) * 10).round.toInt + 1) / 10.0
          val mpf = uncertaintyMaxPower._1 +
            rng.nextInt(((uncertaintyMaxPower._2 - uncertaintyMaxPower._1) * 100).round.toInt + 1) / 100.0
          val yrs = numYearsLt._1 +
            rng.nextInt(numYearsLt._2 - numYearsLt._1 + 1)
          runOnce(base, p, sector.toDouble, mad.toDouble, ws0, mpf, yrs)
        }
      }
    def meanOf(xs: Seq[Double]) = xs.sum / xs.size
    def stdOf(xs: Seq[Double]) = {
      val m = meanOf(xs)
      math.sqrt(xs.map(x => (x - m) * (x - m)).sum / math.max(1, xs.size - 1))
    }
    def avgMap(ms: Seq[Map[String, Double]]): Map[String, Double] =
      ms.flatten.groupBy(_._1).map { case (k, vs) => k -> meanOf(vs.map(_._2).toSeq) }
    Result(
      porLossPlant = meanOf(runs.map(_.por)),
      porLossByTurbine = avgMap(runs.map(_.porByT)),
      ltLossPlant = meanOf(runs.map(_.lt)),
      ltLossByTurbine = avgMap(runs.map(_.ltByT)),
      porLossStd = if (runs.size > 1) stdOf(runs.map(_.por)) else 0.0,
      ltLossStd = if (runs.size > 1) stdOf(runs.map(_.lt)) else 0.0)
  }
}
