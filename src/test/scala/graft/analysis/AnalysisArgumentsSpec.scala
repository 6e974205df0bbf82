package graft.analysis

import graft.SparkSpec

/** The Monte-Carlo arguments of AEP, yaw, electrical losses, TIE and
  * wake: a degenerate draw count, sampling range or product list is a
  * typed error naming its argument, never a NaN result, as is a TIE
  * turbine with no valid day, and yaw's UQ draws follow the ranges they
  * are given.
  */
class AnalysisArgumentsSpec extends SparkSpec {

  private lazy val plant = SyntheticPlant.build(spark, days = 60, reanalysisYears = 1)

  private def rejects(arg: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(arg), s"message does not name $arg: ${e.getMessage}")
  }

  test("numSim = 0 under UQ is rejected by AEP, yaw and electrical losses") {
    rejects("numSim")(new TurbineLongTermGrossEnergy(plant, uq = true, numSim = 0))
    rejects("numSim")(new WakeLosses(plant, uq = true, numSim = 0))
    rejects("numSim")(new MonteCarloAEP(plant, uq = true, numSim = 0))
    rejects("numSim")(new StaticYawMisalignment(plant, uq = true, numSim = 0))
    rejects("numSim")(new ElectricalLosses(plant, uq = true, numSim = 0))
  }

  test("AEP windinessYears must be a range of at least one year") {
    rejects("windinessYears")(new MonteCarloAEP(plant, uq = true, windinessYears = (2, 1)))
    rejects("windinessYears")(new MonteCarloAEP(plant, windinessYears = (0, 0)))
    rejects("windinessYears")(new MonteCarloAEP(plant, uq = true, windinessYears = (0, 2)))
  }

  test("every sampled range must have lo <= hi") {
    rejects("lossMaxPct")(new MonteCarloAEP(plant, lossMaxPct = (20, 10)))
    rejects("uncertaintyOutlier")(new MonteCarloAEP(plant, uncertaintyOutlier = (3.0, 1.0)))
    rejects("maxPowerFilter")(new StaticYawMisalignment(plant, maxPowerFilter = (0.98, 0.92)))
    rejects("powerBinMadThresh")(new StaticYawMisalignment(plant, powerBinMadThresh = (13.0, 4.0)))
    rejects("correctionThreshold")(new ElectricalLosses(plant, correctionThreshold = (0.995, 0.9)))
    rejects("maxPowerFilter")(new TurbineLongTermGrossEnergy(plant, maxPowerFilter = (0.9, 0.8)))
    rejects("windBinThreshold")(new TurbineLongTermGrossEnergy(plant, windBinThreshold = (3.0, 1.0)))
    rejects("correctionThreshold")(
      new TurbineLongTermGrossEnergy(plant, correctionThreshold = (0.95, 0.85)))
    rejects("uncertaintySectorWidth")(new WakeLosses(plant, uncertaintySectorWidth = (110, 50)))
    rejects("uncertaintyMadThresh")(new WakeLosses(plant, uncertaintyMadThresh = (13, 4)))
    rejects("uncertaintyWsStart")(new WakeLosses(plant, uncertaintyWsStart = (8.0, 4.0)))
    rejects("uncertaintyMaxPower")(new WakeLosses(plant, uncertaintyMaxPower = (0.98, 0.92)))
    rejects("numYearsLt")(new WakeLosses(plant, numYearsLt = (20, 10)))
  }

  test("an empty reanalysisProducts list is rejected by wake, TIE and AEP") {
    rejects("reanalysisProducts")(new WakeLosses(plant, reanalysisProducts = Some(Nil)).run())
    rejects("reanalysisProducts")(
      new TurbineLongTermGrossEnergy(plant, reanalysisProducts = Some(Nil)).run())
    rejects("reanalysisProducts")(new MonteCarloAEP(plant, reanalysisProducts = Some(Nil)).run())
  }

  test("a TIE turbine with no valid day is rejected by name, with and without UQ") {
    import org.apache.spark.sql.functions._
    // T2's wind speed is outside the [0, 40] m/s range flag on every row
    val noT2 = plant.copy(scada = Some(plant.scadaDf.withColumn("WMET_HorWdSpd",
      when(col("asset_id") === "T2", lit(50.0)).otherwise(col("WMET_HorWdSpd")))))
    rejects("T2")(new TurbineLongTermGrossEnergy(noT2).run())
    rejects("T2")(new TurbineLongTermGrossEnergy(noT2, uq = true, numSim = 3).run())
  }

  test("yaw UQ draws its outlier filter from maxPowerFilter and powerBinMadThresh") {
    def yaw(pf: (Double, Double), mad: (Double, Double)) =
      new StaticYawMisalignment(plant, minVaneBinCount = 10, uq = true, numSim = 3,
        maxPowerFilter = pf, powerBinMadThresh = mad).run().yawByTurbineAndBin
    // the synthetic plant's power curve is clean: at 4-13 MADs the filter
    // drops nothing, at 1 MAD it drops rows in every power bin it covers
    val default = yaw((0.92, 0.98), (4.0, 13.0))
    val tight = yaw((0.92, 0.98), (1.0, 1.0))
    assert(default.nonEmpty)
    assert(tight != default)
    assert(yaw((0.5, 0.5), (1.0, 1.0)) != tight)
  }
}
