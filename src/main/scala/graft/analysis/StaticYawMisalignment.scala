package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.fitting.Fitting
import graft.operators.Flags
import graft.plant.PlantData

/** Static yaw misalignment per turbine and wind-speed bin: cosine fit of
  * binned power performance vs wind-vane angle; yaw misalignment is the
  * difference between the fitted power-maximizing vane angle and the mean
  * operating vane angle (a vane-tracking controller holds the vane reading
  * near zero, so a biased vane shows up as a nonzero power-optimal angle).
  *
  * Spark re-expression of openoa/analysis/yaw_misalignment.py:74-583 at full
  * parameter parity: one-sided pitch threshold, per-turbine power-curve
  * outlier removal (median/MAD bin filter over power bins between
  * min/max power-filter fractions of rated power, thresholds Monte-Carlo
  * sampled under UQ, yaw_misalignment.py:500-528), optional power
  * coefficient normalization (power / ws^3), and the reference's 3-parameter
  * cosine-exponent fit (cos_curve, yaw_misalignment.py:59-71).
  *
  * Scale design:
  *  - One power-curve outlier filter, [[simFrame]], serves the oracle-gated
  *    [[vaneBins]] and [[run]] with or without UQ: a median/MAD bin filter
  *    on the [[Flags]] kernels, one aggregation per max-power-filter value,
  *    turbine and power bin over each group's sorted wind speeds
  *    ([[Flags.sortedValues]]). Without UQ it is one draw with weight 1.
  *  - The driver-side fit reads each (sim, turbine, ws bin) group's vane
  *    bins in vane-bin order, so the result does not depend on the order
  *    in which the aggregate's partitions are collected.
  *  - The ws slice and the vane bin are computed once per row, before the
  *    UQ explode; nothing per-row is recomputed per simulation.
  *  - Under UQ the power-bin statistics are computed per DISTINCT sampled
  *    max-power-filter value (<= 7 values for the reference's 0.92-0.98
  *    percent grid) rather than per simulation — the stats depend only on
  *    the bin geometry, so the stats pass explodes the fact table by <= 7,
  *    never by numSim. Each row then explodes into one struct per
  *    simulation carrying that draw's (sim, filter, MAD threshold), and the
  *    per-(row, sim) flag is a broadcast join on (filter, turbine, bin).
  *  - UQ (yaw_misalignment.py:381-386): the reference bootstraps the ws-bin
  *    slice per simulation. Re-running the aggregate numSim times would be
  *    numSim shuffles; instead each row draws one Poisson(1) multiplicity
  *    per simulation (the standard distributed bootstrap approximation) and
  *    ALL simulations reduce in a single weighted groupBy keyed by
  *    (sim, turbine, ws_bin, vane_bin) — one shuffle regardless of numSim.
  */
final class StaticYawMisalignment(
    plant: PlantData,
    wsBins: Seq[Double] = Seq(5.0, 6.0, 7.0, 8.0), // bin CENTERS (reference)
    wsBinWidth: Double = 1.0,
    vaneBinWidth: Double = 1.0,
    pitchThresholdDeg: Double = 0.5,
    minVaneBinCount: Int = 50,
    maxAbsVaneAngle: Double = 25.0,
    numPowerBins: Int = 25,
    minPowerFilter: Double = 0.01,
    // UQ ranges; without UQ the reference's fixed defaults 0.95 / 7.0 apply
    maxPowerFilter: (Double, Double) = (0.92, 0.98),
    powerBinMadThresh: (Double, Double) = (4.0, 13.0),
    usePowerCoeff: Boolean = false,
    uq: Boolean = false,
    numSim: Int = 20,
    seed: Long = 42L) {

  MonteCarlo.requireSims(uq, numSim)
  MonteCarlo.requireRange("maxPowerFilter", maxPowerFilter)
  MonteCarlo.requireRange("powerBinMadThresh", powerBinMadThresh)

  final case class Result(
      avgVaneAngleByTurbine: Map[String, Double],
      yawByTurbineAndBin: Map[(String, Double), Double],
      yawStdByTurbineAndBin: Map[(String, Double), Double] = Map.empty)

  /** Poisson(1) multiplicity from a deterministic per-(row, sim) uniform:
    * inverse-CDF over the cumulative probabilities. Codegen-friendly
    * when-chain; counts above 7 are negligible (P < 1e-7).
    */
  private def poisson1(u: Column): Column = {
    val cdf = Seq(0.3678794, 0.7357589, 0.9196986, 0.9810118, 0.9963402,
      0.9994058, 0.9999168, 0.9999898)
    cdf.zipWithIndex.foldRight(lit(8): Column) { case ((p, k), acc) =>
      when(u < p, k).otherwise(acc)
    }
  }

  /** Normal-operation frame: pitch at or below threshold (one-sided,
    * yaw_misalignment.py:510), complete rows, power as a fraction of rated,
    * and each row's ws-bin center and vane bin. The bins are per row, so
    * they are computed here, before any per-simulation explode: Spark's
    * `round` on a double goes through `BigDecimal`.
    */
  private def normalBase: DataFrame =
    plant.scadaDf
      .filter(col("WROT_BlPthAngVal") <= pitchThresholdDeg)
      .na.drop(Seq("WTUR_W", "WMET_HorWdSpd", "WMET_HorWdDirRel"))
      .withColumn("p_frac", col("WTUR_W") / typedLit(plant.ratedPower).apply(col("asset_id")))
      .withColumn("ws_bin_center", round(col("WMET_HorWdSpd") / wsBinWidth) * wsBinWidth)
      .withColumn("vane_bin", round(col("WMET_HorWdDirRel") / vaneBinWidth) * vaneBinWidth)

  /** The reference's fixed max-power filter and MAD threshold without UQ. */
  private val (fixedMaxPf, fixedMadThresh) = (0.95, 7.0)

  private def powerBin(pf: Column): Column =
    when(col("p_frac") > minPowerFilter && col("p_frac") <= pf,
      ceil((col("p_frac") - minPowerFilter) / ((pf - minPowerFilter) / numPowerBins)))

  /** Cosine-fit-input aggregation (yaw_misalignment.py:545-563) over
    * [[simFrame]]'s rows: target ws-bin slice, optional power-coefficient
    * normalization, weighted per-vane-bin power/vane statistics over
    * [[normalBase]]'s bins. The oracle-gated [[vaneBins]] is its one-draw,
    * weight-1 case; UQ weighs each row by its Poisson multiplicity in each
    * draw and adds the `sim` key.
    */
  private def binAggregate(df: DataFrame, weight: Column, keys: Seq[String]): DataFrame =
    // ws bins are CENTERED on wsBins values: slice [c - w/2, c + w/2)
    // (yaw_misalignment.py:374-378)
    df.filter(col("ws_bin_center").isin(wsBins.map(w => w: Any): _*))
      .withColumn("__w", weight)
      .filter(col("__w") > 0)
      .withColumn("pow_ratio",
        if (usePowerCoeff) col("WTUR_W") / pow(col("WMET_HorWdSpd"), 3.0)
        else col("WTUR_W"))
      .groupBy((keys ++ Seq("asset_id", "ws_bin_center", "vane_bin")).map(col): _*)
      .agg((sum(col("pow_ratio") * col("__w")) / sum(col("__w"))).as("perf_mean"),
        sum(col("__w")).as("n"),
        (sum(col("WMET_HorWdDirRel") * col("__w")) / sum(col("__w"))).as("vane_mean"),
        // exact sums alongside the means: when power is integer-valued and
        // vane is dyadic (as in the correctness gate) these are bit-exact
        // across engines, unlike the quotient means (avg = S/n is not dyadic)
        sum(col("pow_ratio") * col("__w")).as("perf_sum"),
        sum(col("WMET_HorWdDirRel") * col("__w")).as("vane_sum"))

  /** Per (turbine, ws-bin, vane-bin) power performance + mean vane angle —
    * the cosine-fit INPUTS (yaw_misalignment.py:545-563) for one fixed
    * parameter set: pitch filter, median/MAD power-curve outlier removal at
    * the given max-power-filter fraction and MAD threshold, target ws-bin
    * slice, vane binning: the one-draw case of the filter and aggregate
    * [[run]] takes, so the oracle gate covers the filter every run applies.
    * Its defaults are the draw [[run]] takes without UQ.
    */
  def vaneBins(maxPf: Double = fixedMaxPf, madThresh: Double = fixedMadThresh): DataFrame =
    // weight 1.0: sum(x*1.0)/sum(1.0) is bit-identical to avg(x), and n is
    // an exact integer-valued double -> restore the count-typed column
    binAggregate(simFrame(normalBase, Seq(maxPf), Seq(madThresh)), lit(1.0), Nil)
      .withColumn("n", col("n").cast("long"))

  def run(): Result = {
    val base = normalBase

    // (sim, turbine, ws_bin, vane_bin) weighted mean power performance +
    // vane (yaw_misalignment.py:545-563); ONE shuffle for all simulations.
    // Without UQ: one draw at the reference's fixed defaults 0.95 / 7.0,
    // every row weighted 1 ([[vaneBins]]' filter and aggregate).
    val (simPf, simMad, weight) =
      if (!uq) (Seq(fixedMaxPf), Seq(fixedMadThresh), lit(1.0))
      else {
        // per-sim thresholds on the reference's randint grids
        // (yaw_misalignment.py:434-444): hundredths of rated power, whole
        // MADs; all filter draws first, then all MAD draws
        val rng = new scala.util.Random(seed)
        def draws(range: (Double, Double), scale: Double): Seq[Double] = {
          val (lo, hi) = (math.round(range._1 * scale).toInt, math.round(range._2 * scale).toInt)
          Seq.fill(numSim)(MonteCarlo.inclusive(rng, lo, hi) / scale)
        }
        (draws(maxPowerFilter, 100), draws(powerBinMadThresh, 1),
          poisson1((pmod(xxhash64(col("time"), col("asset_id"), col("sim"), lit(seed)),
            lit(1000000L)) / 1000000.0)).cast("double"))
      }
    val binned = binAggregate(simFrame(base, simPf, simMad), weight, Seq("sim"))
      .select(col("sim"), col("asset_id"), col("ws_bin_center"), col("vane_bin"),
        col("perf_mean"), col("n").cast("double").as("n"), col("vane_mean"))
      .collect().sortBy(_.getDouble(3))

    // driver-side per (sim, turbine, ws_bin), over its vane bins in
    // vane-bin order (groupBy keeps the sorted order): slice mean vane over
    // ALL vane bins (yaw_misalignment.py:554), cosine fit over qualifying
    // bins, yaw = fitted offset - mean vane angle (yaw_misalignment.py:576-580)
    val perSim: Map[(Int, String, Double), Double] = binned
      .groupBy(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
      .flatMap { case ((sim, turbine, wsBin), rows) =>
        val totalW = rows.map(_.getDouble(5)).sum
        val meanVane = rows.map(r => r.getDouble(6) * r.getDouble(5)).sum / totalW
        val fitRows = rows.filter(r => r.getDouble(5) > minVaneBinCount &&
          math.abs(r.getDouble(3)) <= maxAbsVaneAngle)
        if (fitRows.length < 5) None
        else {
          val xs = fitRows.map(_.getDouble(3)) // vane bin angle, degrees
          val ys = fitRows.map(_.getDouble(4)) // mean power performance
          // cos_curve: A * cos(d2r(x - offset))^exp, init [max, argmax, 2]
          // (argmax instead of the reference's 0 offset start: Gauss-Newton
          // from 0 can wander on noisy bootstrap resamples)
          val p = Fitting.curveFit(
            (x, p) => p(0) * math.pow(math.cos(math.toRadians(x - p(1))), p(2)),
            xs, ys, Array(ys.max, xs(ys.indexOf(ys.max)), 2.0))
          Some((sim, turbine, wsBin) -> (p(1) - meanVane))
        }
      }.toMap

    val byBin = perSim.groupBy { case ((_, t, b), _) => (t, b) }
      .map { case (k, m) => k -> (MonteCarlo.mean(m.values), MonteCarlo.std(m.values)) }

    // overall per-turbine mean vane angle (over the unweighted frame)
    val avgVane = base.groupBy("asset_id")
      .agg(avg(col("WMET_HorWdDirRel")).as("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Result(avgVane, byBin.map { case (k, (m, _)) => k -> m },
      byBin.map { case (k, (_, sd)) => k -> sd })
  }

  /** `base` exploded into one row per simulation, with that simulation's
    * power-curve outlier filter applied: draw n keeps a row unless its wind
    * speed lies more than `simMad(n)` MADs from the median of its turbine's
    * power bin under max-power filter `simPf(n)`. The bins are right-closed
    * and the keep rule is `Flags.binFilter`'s (median center, MAD spread,
    * both directions), so one draw keeps what that filter keeps.
    */
  private def simFrame(base: DataFrame, simPf: Seq[Double], simMad: Seq[Double]): DataFrame = {
    // median/MAD of wind speed per (max-power-filter value, turbine, power
    // bin): one explode by <= 7 distinct filter values, one aggregation
    // (#pf x #turbines x numPowerBins rows -> broadcast)
    val binStats = base
      .withColumn("__pf", explode(array(simPf.distinct.sorted.map(lit): _*)))
      .withColumn("__pbin", powerBin(col("__pf")))
      .filter(col("__pbin").isNotNull)
      .groupBy("__pf", "asset_id", "__pbin")
      .agg(Flags.sortedValues(col("WMET_HorWdSpd")).as("__sorted"))
      .withColumn("__med", Flags.medianOfSorted(col("__sorted")))
      .withColumn("__mad", Flags.madOfSorted(col("__sorted"), col("__med")))
      .drop("__sorted")
    val draws = simPf.zip(simMad).zipWithIndex.map { case ((pf, mad), n) =>
      struct(lit(n).as("sim"), lit(pf).as("pf"), lit(mad).as("mad"))
    }
    base
      .withColumn("__draw", explode(array(draws: _*)))
      .withColumn("sim", col("__draw.sim"))
      .withColumn("__pf", col("__draw.pf"))
      .withColumn("__pbin", powerBin(col("__pf")))
      .join(broadcast(binStats), Seq("__pf", "asset_id", "__pbin"), "left")
      .filter(col("__mad").isNull ||
        abs(col("WMET_HorWdSpd") - col("__med")) <= col("__draw.mad") * col("__mad"))
  }

  /** Overall yaw per turbine = mean of per-ws-bin offsets. */
  def overall(result: Result): Map[String, Double] =
    result.yawByTurbineAndBin.groupBy(_._1._1)
      .map { case (t, m) => t -> MonteCarlo.mean(m.values) }
}
