package graft.analysis

import org.apache.spark.sql.functions._

import graft.plant.PlantData

/** Electrical losses: 1 - meter/turbine energy over concurrent
  * full-reporting periods, with optional Monte Carlo uncertainty.
  *
  * Spark re-expression of openoa/analysis/electrical_losses.py:36-330.
  * The distributed part reduces scada/meter to a daily (or monthly) table —
  * the only fact-grain work; the tiny daily table is collected and the MC
  * loop runs on the driver (same altitude as the reference, which loops over
  * an in-memory daily frame).
  *
  * @param uq                   perform uncertainty quantification
  * @param numSim               MC iterations (forced to 1 when !uq)
  * @param uncertaintyMeter     relative sigma on meter energy (UQ)
  * @param uncertaintyScada     relative sigma on turbine energy (UQ)
  * @param correctionThreshold  data-availability threshold; (lo, hi) range
  *                             sampled per-iteration under UQ
  * @param monthlyMeter         meter data is monthly; None auto-detects from
  *                             the meter frequency metadata (reference
  *                             electrical_losses.py:128-131)
  */
final class ElectricalLosses(
    plant: PlantData,
    uq: Boolean = false,
    numSim: Int = 20000,
    uncertaintyMeter: Double = 0.005,
    uncertaintyScada: Double = 0.005,
    correctionThreshold: (Double, Double) = (0.90, 0.995),
    monthlyMeter: Option[Boolean] = None,
    seed: Long = 42L) {

  MonteCarlo.requireSims(uq, numSim)
  MonteCarlo.requireRange("correctionThreshold", correctionThreshold)

  /** Monthly-meter handling auto-detects from the meter frequency metadata
    * unless overridden (electrical_losses.py:128-130).
    */
  private val isMonthlyMeter: Boolean =
    monthlyMeter.getOrElse(plant.metadata.meterFreqSeconds >= 2592000L)

  final case class Result(losses: Array[Double]) {
    def mean: Double = MonteCarlo.mean(losses)
    def std: Double = MonteCarlo.std(losses)
  }

  private val freqS = plant.metadata.scadaFreqSeconds
  private val nTurbines = plant.turbineIds.size

  /** Daily turbine energy, count, and corrected energy
    * (electrical_losses.py:229-257 `process_scada`).
    */
  def scadaDaily: org.apache.spark.sql.DataFrame = {
    val perTime = plant.scadaDf
      .groupBy(col("time"))
      .agg(sum(col("WTUR_SupWh")).as("WTUR_SupWh"),
        count(col("WTUR_SupWh")).as("count"))
    val expected = 24.0 * 3600.0 / freqS * nTurbines
    perTime.groupBy(date_trunc("day", col("time")).as("day"))
      .agg(sum(col("WTUR_SupWh")).as("WTUR_SupWh"), sum(col("count")).as("count"))
      .withColumn("corrected_energy",
        col("WTUR_SupWh") * lit(expected) / col("count"))
      .withColumn("percent", col("count") / lit(expected))
  }

  /** Daily meter energy for fully-reporting days
    * (electrical_losses.py:259-279 `process_meter`).
    */
  def meterDaily: org.apache.spark.sql.DataFrame = {
    val expected = 24.0 * 3600.0 / plant.metadata.meterFreqSeconds
    plant.meterDf
      .groupBy(date_trunc("day", col("time")).as("day"))
      .agg(sum(col("MMTR_SupWh")).as("MMTR_SupWh"), count(col("MMTR_SupWh")).as("count"))
      .filter(col("count") === expected)
  }

  /** (turbine, meter, availability) energy rows to compare: one row of
    * sums over the fully-reporting days, availability 1 (daily meter), or
    * one row per month of availability-corrected energy
    * (electrical_losses.py:281-330).
    */
  private def energyRows: Array[(Double, Double, Double)] =
    if (!isMonthlyMeter) {
      // daily path: inner-join fully-reporting days, sum
      val expectedScada = 24.0 * 3600.0 / freqS * nTurbines
      val combined = scadaDaily.filter(col("count") === expectedScada)
        .select("day", "WTUR_SupWh")
        .join(meterDaily.select("day", "MMTR_SupWh"), Seq("day"), "inner")
        .agg(sum(col("WTUR_SupWh")).as("turbine"), sum(col("MMTR_SupWh")).as("meter"))
        .head()
      Array((combined.getDouble(0), combined.getDouble(1), 1.0))
    } else {
      // monthly path: corrected daily energy to months
      val monthly = scadaDaily
        .groupBy(date_trunc("month", col("day")).as("month"))
        .agg(sum(col("corrected_energy")).as("WTUR_SupWh"), sum(col("count")).as("count"))
        .withColumn("expected",
          dayofmonth(last_day(col("month"))) * 24.0 * 3600.0 / freqS * nTurbines)
        .withColumn("percent", col("count") / col("expected"))
      val meterMonthly = plant.meterDf
        .groupBy(date_trunc("month", col("time")).as("month"))
        .agg(sum(col("MMTR_SupWh")).as("MMTR_SupWh"))
      monthly.join(meterMonthly, Seq("month"), "inner")
        .select("WTUR_SupWh", "MMTR_SupWh", "percent")
        .collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    }

  /** MC-scaled losses over [[energyRows]]. A monthly meter also filters
    * the months by availability, at a threshold sampled per draw under UQ;
    * the daily rows already are the fully-reporting days and draw none.
    */
  def run(): Result = {
    val rng = new scala.util.Random(seed)
    val rows = energyRows
    Result(Array.fill(if (uq) numSim else 1) {
      val mf = if (uq) MonteCarlo.jitter(rng, uncertaintyMeter) else 1.0
      val sf = if (uq) MonteCarlo.jitter(rng, uncertaintyScada) else 1.0
      val kept =
        if (!isMonthlyMeter) rows
        else {
          val thr = if (uq)
            correctionThreshold._1 + rng.nextDouble() *
              (correctionThreshold._2 - correctionThreshold._1)
          else correctionThreshold._2
          rows.filter(_._3 >= thr)
        }
      1.0 - (kept.map(_._2).sum * mf) / (kept.map(_._1).sum * sf)
    })
  }
}
