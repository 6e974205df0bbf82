package graft.analysis

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pins

import graft.fitting.Fitting
import graft.functions.Met
import graft.operators.Flags
import graft.plant.PlantData

/** Internal wake losses from freestream-vs-plant power comparison, with
  * long-term correction against the reanalysis wind rose.
  *
  * Spark re-expression of openoa/analysis/wake_losses.py:53-1317. Key
  * structural change per SURVEY.md §3.3: the reference unstacks SCADA to a
  * wide (time x turbine) frame in memory; here the data stays LONG. Spark
  * runs the fact-grain steps: the derating flags, one groupBy("time")
  * aggregate for every per-timestamp quantity (reference direction,
  * freestream means, plant sums, and the turbine rows the turbine bins
  * are summed from), and the hourly means and wind-rose counts. The
  * freestream assignment is a per-direction-bin turbine list built on the
  * driver from the tiny asset-pair geometry. The driver sums the collected
  * turbine bins into plant bins, joins the hourly means for the bias fit,
  * and weights the bins.
  *
  * Parity features:
  *  - derating identification (wake_losses.py:1057-1095): per-turbine
  *    window-range + exact median/MAD power-curve bin flags; derated samples are
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
    * bins limited to [0.01, maxPf] x rated) — the reference's
    * `bin_filter(center_type="median", deviation_type="mad",
    * direction="above")`. One aggregation per (asset, power-bin) keeps each
    * bin's sorted ws, from which the [[graft.operators.Flags]] kernel takes
    * the exact median and the MAD about it; the #turbines x #bins table is
    * broadcast-joined back once.
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
    val stats = binned.filter(inBinRange)
      .groupBy("asset_id", "__bin")
      .agg(Flags.sortedValues(col("WMET_HorWdSpd")).as("__sorted"))
      .withColumn("__med", Flags.medianOfSorted(col("__sorted")))
      .select(col("asset_id"), col("__bin"), col("__med"),
        Flags.madOfSorted(col("__sorted"), col("__med")).as("__mad"))
    binned
      .join(broadcast(stats), Seq("asset_id", "__bin"), "left")
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
                         nTurbines: Int): DataFrame =
    perTimestamp(scada, sectorWidth, nTurbines).drop("__rows")

  /** [[timestampAggregate]] with each timestamp's turbine rows kept as
    * `__rows`, an array of (asset_id, p, ws) structs. One aggregation by
    * time: the freestream values are read from the array through the
    * timestamp's direction bin, so the fact table is shuffled once.
    */
  private def perTimestamp(scada: DataFrame, sectorWidth: Double,
                           nTurbines: Int): DataFrame = {
    // reference wind direction: circular mean over turbines (default), or
    // over met-tower direction sensors when wdRef="tower"
    // (wake_losses.py:1016-1033 wd_ref asset option)
    val perTime = scada
      .groupBy("time")
      .agg(Met.circularMeanAgg(col("WMET_HorWdDir")).as("__scada_wd"),
        count(lit(1)).as("n_reporting"),
        sum(col("WTUR_W")).as("plant_power"),
        collect_list(struct(col("asset_id"), col("WTUR_W").cast("double").as("p"),
          col("WMET_HorWdSpd").cast("double").as("ws"))).as("__rows"))
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
    // freestream turbines of each direction bin, a literal indexed by bin;
    // a bin past the last (360 not a multiple of the width) has none
    val byBin = freestreamByBin(sectorWidth)
    val members = try_element_at(typedLit((0 until nBins(wdBinWidth)).map(byBin)),
      col("wd_bin") + 1)
    // freestream aggregation per the configured method over the members'
    // non-null values (wake_losses.py:187-188, :1041-1054); none gives null
    def fsAgg(field: String, method: String): Column = {
      val vs = filter(
        transform(filter(col("__rows"), r => array_contains(members, r.getField("asset_id"))),
          r => r.getField(field)),
        v => v.isNotNull)
      method match {
        case "mean" =>
          when(size(vs) > 0, aggregate(vs, lit(0.0), (acc, v) => acc + v) / size(vs))
        case "median" => Flags.medianOfSorted(sort_array(vs))
        case "max"    => array_max(vs)
      }
    }
    withRef
      .select(col("time"), col("wd_ref"), col("wd_bin"), col("n_reporting"),
        col("plant_power"),
        fsAgg("p", freestreamPowerMethod).as("freestream_power"),
        fsAgg("ws", freestreamWsMethod).as("freestream_ws"),
        col("__rows"))
      .filter(col("freestream_power").isNotNull)
  }

  /** Linear map from SCADA freestream ws to the product's reanalysis ws
    * (wake_losses.py:1127-1147): hourly means, integer ws bins (Spark's
    * HALF_UP `round`), OLS over bins with enough support. Falls back to
    * identity when the POR is too short to populate two valid bins. Spark
    * takes the two hourly means — the freestream ws over the POR and the
    * product's ws over the same hours — and the driver joins them (#POR
    * hours each) and bins.
    */
  private def wsBiasFit(ts: DataFrame, product: String): Fitting.LinearFit = {
    val hour = date_trunc("hour", col("time")).as("hour")
    val fws = ts.groupBy(hour).agg(avg(col("freestream_ws"))).collect()
      .collect { case r if !r.isNullAt(1) => r.getTimestamp(0).getTime -> r.getDouble(1) }.toMap
    val rws =
      if (fws.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else plant.reanalysis(product)
        .select(hour, col("WMETR_HorWdSpd"))
        .filter(col("hour").between(lit(new java.sql.Timestamp(fws.keys.min)),
          lit(new java.sql.Timestamp(fws.keys.max))))
        .groupBy("hour").agg(avg(col("WMETR_HorWdSpd")))
        .collect()
    def wsBin(x: Double) =
      if (x.isNaN || x.isInfinite) x
      else BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
    // (ws bin, mean product ws) of each bin with enough hours; an hour
    // with no product ws counts toward its bin's support, not its mean
    val bins = rws.toSeq
      .flatMap(r => fws.get(r.getTimestamp(0).getTime).map(f => wsBin(f) -> Option.unless(r.isNullAt(1))(r.getDouble(1))))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .collect { case (b, hs) if b >= minWsBinLinReg && hs.size >= binCountThreshLinReg =>
        val ys = hs.flatMap(_._2)
        (b, ys.sum / ys.size)
      }
    if (bins.length < 2) Fitting.LinearFit(1.0, 0.0)
    else Fitting.wlsFit(bins.map(_._1).toArray, bins.map(_._2).toArray, Array.fill(bins.length)(1.0))
  }

  // last reanalysis bucket per product, for the LT windiness window; read
  // once for each product a run draws
  private val reanEnd = scala.collection.mutable.Map.empty[String, Long]

  /** Long-term (wd_bin, ws_bin) wind-rose frequency table over the last
    * `years` calendar years of a reanalysis product
    * (wake_losses.py:1150-1174). Counts per bin; callers normalize. Bins
    * floor on the SAME widths as the POR binning so the join grain matches.
    */
  def longTermFrequency(product: String, years: Int): DataFrame = {
    val end = reanEnd.getOrElseUpdate(product,
      plant.reanalysis(product).agg(max(col("time"))).head().getTimestamp(0).toInstant.getEpochSecond)
    val ltStart = MonteCarloAEP.windowStartSec(end, years, "h")
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
    * re-scan the fact table. The derate-filtered SCADA is read once, by
    * the per-timestamp aggregate, which is pinned for the draw: the bias fit
    * and the turbine bins re-read it, the latter from the turbine rows it
    * keeps. The four losses come from two bounded collects (turbine bins,
    * the long-term wind rose), summed into plant bins and weighted on the
    * driver.
    */
  private def runOnce(base: DataFrame, product: String, sectorWidth: Double,
                      madThresh: Double, wsStart: Double, maxPf: Double,
                      years: Int): Once = Pins.scoped { pins =>
    val nTurbines = plant.turbineIds.size
    val scada =
      if (deratingFilter)
        withDerateFlag(base, plant.ratedPower, wsStart, maxPf, madThresh)
          .filter(!col("derate_flag")).drop("derate_flag")
      else base
    val ts = pins.pin(perTimestamp(scada, sectorWidth, nTurbines))

    // LT binning (wake_losses.py:1098-1147): (wd, ws) bins on the
    // bias-corrected freestream ws
    val fit = wsBiasFit(ts, product)
    val tsBinned = ts.withColumn("ws_bin", floor(
      (lit(fit.intercept) + lit(fit.slope) * col("freestream_ws")) / wsBinWidthLt).cast("int"))
    // per-turbine bins: each turbine's power vs the freestream mean, from
    // the turbine rows each timestamp kept
    val turbineBins = tsBinned
      .select(col("wd_bin"), col("ws_bin"), col("freestream_power"), explode(col("__rows")).as("__r"))
      .groupBy(col("__r.asset_id").as("asset_id"), col("wd_bin"), col("ws_bin"))
      .agg(sum(col("__r.p")), sum(col("freestream_power")), count(lit(1)))
      .collect().groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(binSums(_, 1)).toSeq }
    // plant bins, summed on the driver: every kept timestamp has all
    // nTurbines turbines reporting, so a bin's plant power is the sum of its
    // turbine sums, and its freestream power and count are each turbine-summed
    // value over nTurbines — exact up to summation order
    val plantBins = turbineBins.values.flatten.groupBy(_.key).map { case (key, bs) =>
      BinSums(key, bs.map(_.actual).sum, bs.map(_.freestream).sum / nTurbines,
        bs.map(_.n).sum / nTurbines)
    }.toSeq
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
