package graft.analysis

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.fitting.Fitting
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
  *  - The power-bin statistics are computed per DISTINCT sampled
  *    max-power-filter value (<= 7 values for the reference's 0.92-0.98
  *    percent grid) rather than per simulation — the stats depend only on
  *    the bin geometry, so the stats pass explodes the fact table by <= 7,
  *    never by numSim, and the per-(row, sim) flag is a broadcast lookup.
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
    * yaw_misalignment.py:510), complete rows, power as a fraction of rated.
    */
  private def normalBase: org.apache.spark.sql.DataFrame =
    plant.scadaDf
      .filter(col("WROT_BlPthAngVal") <= pitchThresholdDeg)
      .na.drop(Seq("WTUR_W", "WMET_HorWdSpd", "WMET_HorWdDirRel"))
      .withColumn("p_frac", col("WTUR_W") / typedLit(plant.ratedPower).apply(col("asset_id")))

  private def powerBin(pf: Column): Column =
    when(col("p_frac") > minPowerFilter && col("p_frac") <= pf,
      ceil((col("p_frac") - minPowerFilter) / ((pf - minPowerFilter) / numPowerBins)))

  /** Shared cosine-fit-input aggregation tail (yaw_misalignment.py:545-563):
    * target ws-bin slice, optional power-coefficient normalization, vane
    * binning, weighted per-bin power/vane statistics. Both the oracle-gated
    * [[vaneBins]] (weight = 1) and the UQ bootstrap path in [[run]] (weight
    * = Poisson multiplicity, extra `sim` key) consume THIS tail — the gated
    * code is the only binning implementation.
    */
  private def binAggregate(
      df: org.apache.spark.sql.DataFrame,
      weight: Column,
      keys: Seq[String]): org.apache.spark.sql.DataFrame =
    df.withColumn("ws_bin_center",
        round(col("WMET_HorWdSpd") / wsBinWidth) * wsBinWidth)
      .filter(col("ws_bin_center").isin(wsBins.map(w => w: Any): _*))
      .withColumn("__w", weight)
      .filter(col("__w") > 0)
      .withColumn("pow_ratio",
        if (usePowerCoeff) col("WTUR_W") / pow(col("WMET_HorWdSpd"), 3.0)
        else col("WTUR_W"))
      .withColumn("vane_bin",
        round(col("WMET_HorWdDirRel") / vaneBinWidth) * vaneBinWidth)
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
    * slice, vane binning. [[run]] consumes this directly in the no-UQ path.
    */
  def vaneBins(maxPf: Double = 0.95, madThresh: Double = 7.0): org.apache.spark.sql.DataFrame = {
    val base = normalBase
      .withColumn("__pbin", powerBin(lit(maxPf)))
    val med = base.filter(col("__pbin").isNotNull)
      .groupBy("asset_id", "__pbin")
      .agg(percentile(col("WMET_HorWdSpd"), lit(0.5)).as("__med"))
    val stats = base.filter(col("__pbin").isNotNull)
      .join(broadcast(med), Seq("asset_id", "__pbin"))
      .groupBy("asset_id", "__pbin")
      .agg(first(col("__med")).as("__med"),
        percentile(abs(col("WMET_HorWdSpd") - col("__med")), lit(0.5)).as("__mad"))
    val kept = base.join(broadcast(stats), Seq("asset_id", "__pbin"), "left")
      .filter(col("__mad").isNull ||
        abs(col("WMET_HorWdSpd") - col("__med")) <= lit(madThresh) * col("__mad"))
    // weight 1.0: sum(x*1.0)/sum(1.0) is bit-identical to avg(x), and n is
    // an exact integer-valued double -> restore the count-typed column
    binAggregate(kept, lit(1.0), Nil)
      .withColumn("n", col("n").cast("long"))
  }

  def run(): Result = {
    val sims = if (uq) numSim else 1
    val rng = new scala.util.Random(seed)
    // per-sim thresholds (yaw_misalignment.py:434-444: randint grids)
    val simPf: Map[Int, Double] =
      (0 until sims).map(n => n -> (if (uq) (92 + rng.nextInt(7)) / 100.0 else 0.95)).toMap
    val simMad: Map[Int, Double] =
      (0 until sims).map(n => n -> (if (uq) (4 + rng.nextInt(10)).toDouble else 7.0)).toMap

    val base = normalBase

    // median/MAD of wind speed per (max-power-filter value, turbine, power
    // bin) — the outlier-filter statistics, one explode by <= 7 distinct
    // filter values, two aggregate passes (exact medians; #pf x #turbines x
    // numPowerBins rows -> broadcast)
    val pfValues = simPf.values.toSeq.distinct.sorted
    val statsBase = base
      .withColumn("__pf", explode(array(pfValues.map(lit): _*)))
      .withColumn("__pbin", powerBin(col("__pf")))
      .filter(col("__pbin").isNotNull)
    val med = statsBase.groupBy("__pf", "asset_id", "__pbin")
      .agg(percentile(col("WMET_HorWdSpd"), lit(0.5)).as("__med"))
    val binStats = statsBase.join(broadcast(med), Seq("__pf", "asset_id", "__pbin"))
      .groupBy("__pf", "asset_id", "__pbin")
      .agg(first(col("__med")).as("__med"),
        percentile(abs(col("WMET_HorWdSpd") - col("__med")), lit(0.5)).as("__mad"))

    // explode rows x sims; apply the sim's outlier filter via broadcast
    // lookup; bootstrap weights under UQ
    val pfOfSim = typedLit(simPf)
    val madOfSim = typedLit(simMad)
    // ws bins are CENTERED on wsBins values: slice [c - w/2, c + w/2)
    // (yaw_misalignment.py:374-378) — applied inside binAggregate
    val simDf = base
      .withColumn("sim", explode(array((0 until sims).map(lit): _*)))
      .withColumn("__pf", pfOfSim.apply(col("sim")))
      .withColumn("__pbin", powerBin(col("__pf")))
      .join(broadcast(binStats), Seq("__pf", "asset_id", "__pbin"), "left")
      .filter(col("__mad").isNull ||
        abs(col("WMET_HorWdSpd") - col("__med")) <= madOfSim.apply(col("sim")) * col("__mad"))

    // (sim, turbine, ws_bin, vane_bin) weighted mean power performance +
    // vane (yaw_misalignment.py:545-563); ONE shuffle for all simulations.
    // Both branches consume the shared [[binAggregate]] tail: without UQ via
    // [[vaneBins]] (so the oracle-gated stage IS the analysis path), with UQ
    // via Poisson bootstrap weights and an extra `sim` key.
    val binned =
      if (!uq)
        vaneBins(simPf(0), simMad(0))
          .select(lit(0).as("sim"), col("asset_id"), col("ws_bin_center"),
            col("vane_bin"), col("perf_mean"),
            col("n").cast("double").as("n"), col("vane_mean"))
          .collect()
      else binAggregate(simDf,
          poisson1(
            (pmod(xxhash64(col("time"), col("asset_id"), col("sim"), lit(seed)),
              lit(1000000L)) / 1000000.0)).cast("double"),
          Seq("sim"))
        .select(col("sim"), col("asset_id"), col("ws_bin_center"),
          col("vane_bin"), col("perf_mean"), col("n"), col("vane_mean"))
        .collect()

    // driver-side per (sim, turbine, ws_bin): slice mean vane over ALL vane
    // bins (yaw_misalignment.py:554), cosine fit over qualifying bins, yaw
    // = fitted offset - mean vane angle (yaw_misalignment.py:576-580)
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

    def stats(vs: Iterable[Double]): (Double, Double) = {
      val n = vs.size
      val m = vs.sum / n
      val sd = if (n < 2) 0.0
        else math.sqrt(vs.map(v => (v - m) * (v - m)).sum / (n - 1))
      (m, sd)
    }
    val byBin = perSim.groupBy { case ((_, t, b), _) => (t, b) }
      .map { case (k, m) => k -> stats(m.values) }

    // overall per-turbine mean vane angle (over the unweighted frame)
    val avgVane = base.groupBy("asset_id")
      .agg(avg(col("WMET_HorWdDirRel")).as("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Result(avgVane, byBin.map { case (k, (m, _)) => k -> m },
      byBin.map { case (k, (_, sd)) => k -> sd })
  }

  /** Overall yaw per turbine = mean of per-ws-bin offsets. */
  def overall(result: Result): Map[String, Double] =
    result.yawByTurbineAndBin.groupBy(_._1._1)
      .map { case (t, m) => t -> m.values.sum / m.size }
}
