package graft.analysis

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBus

import graft.SparkSpec

/** The analyses release every RDD they persist, on return and on a throw,
  * and wake's and AEP's job counts stay bounded.
  */
class PinHygieneSpec extends SparkSpec {

  private lazy val plant = SyntheticPlant.build(spark, days = 30, reanalysisYears = 2)

  /** Runs `body` and asserts that no RDD it persisted is still persisted.
    * Compared by id, not by count: Spark's cleaner may drop RDDs persisted
    * by earlier suites while `body` runs.
    */
  private def leavesNothingPersisted(what: String)(body: => Any): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally {
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$what left RDDs $left persisted")
    }
  }

  test("the six analyses leave no persisted RDD behind") {
    leavesNothingPersisted("ElectricalLosses")(new ElectricalLosses(plant).run())
    leavesNothingPersisted("MonteCarloAEP")(new MonteCarloAEP(plant, timeResolution = "D",
      windinessYears = (1, 2)).run())
    leavesNothingPersisted("TurbineLongTermGrossEnergy")(new TurbineLongTermGrossEnergy(plant).run())
    leavesNothingPersisted("WakeLosses")(new WakeLosses(plant).run())
    leavesNothingPersisted("StaticYawMisalignment")(
      new StaticYawMisalignment(plant, minVaneBinCount = 10).run())
    leavesNothingPersisted("EYAGapAnalysis")(new EYAGapAnalysis(
      eyaAep = 467.0, eyaGross = 597.0, eyaAvailLoss = 0.062,
      eyaElecLoss = 0.024, eyaTurbineLoss = 0.037,
      eyaWakeLoss = 0.05, eyaBladeDegLoss = 0.011,
      oaAep = 448.0, oaAvailLoss = 0.0837, oaElecLoss = 0.0201,
      oaTurbineIdeal = 581.0).compile())
  }

  test("an analysis that throws after pinning releases its pins") {
    // no tower bucket: wdRef = "tower" fails in the timestamp aggregate,
    // after the SCADA projection and the derate-filtered SCADA are pinned
    leavesNothingPersisted("WakeLosses") {
      intercept[RuntimeException](new WakeLosses(plant, wdRef = "tower").run())
    }
    // a reanalysis density that fails at run time: the first collect over
    // the pinned valid-day table throws
    val badRean = plant.copy(reanalysis = Map("era5" -> plant.reanalysis("era5")
      .withColumn("WMETR_AirDen", raise_error(lit("bad density")))))
    leavesNothingPersisted("TurbineLongTermGrossEnergy") {
      intercept[Exception](new TurbineLongTermGrossEnergy(badRean).run())
    }
  }

  test("WakeLosses without UQ runs in a bounded number of Spark jobs") {
    plant.turbineIds; plant.ratedPower
    val jobs = ListenerBus.countJobs(spark.sparkContext)(new WakeLosses(plant).run())
    assert(jobs <= 40, s"$jobs jobs")
  }

  test("MonteCarloAEP with UQ runs in a bounded number of Spark jobs") {
    // one collect of the resampled reanalysis serves both the period
    // aggregate and the long-term series, and the collected periods are
    // sorted on the driver (9 jobs; 17 when each resampled every product
    // and sorted in Spark)
    val jobs = ListenerBus.countJobs(spark.sparkContext)(new MonteCarloAEP(plant,
      timeResolution = "D", uq = true, numSim = 50, windinessYears = (1, 2)).run())
    assert(jobs <= 12, s"$jobs jobs")
  }
}
