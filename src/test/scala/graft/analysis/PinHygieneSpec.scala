package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBus

import graft.SparkSpec
import graft.fitting.BradleyTerry
import graft.operators.{Dedup, LinkGraph, SuffixDedup}

/** The analyses release every RDD they persist, on return and on a throw,
  * and wake's and AEP's job counts stay bounded. The link-graph, dedup and
  * Bradley–Terry loops, on their distributed paths, leave persisted only
  * the RDDs their results read.
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

  test("the distributed loops leave persisted only what their results read") {
    import spark.implicits._
    def leavesOnlyWhatItReads(what: String)(body: => DataFrame): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = body
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      val read = out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
      assert(left.subsetOf(read), s"$what left RDDs ${left -- read} persisted")
      assert(out.count() > 0, what)
    }
    // two triangles joined by a bridge, plus a chord
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 3L),
      (0L, 3L)).toDF("src", "dst")
    leavesOnlyWhatItReads("pageRank")(
      LinkGraph.pageRank(edges, "src", "dst", iters = 3, driverCap = 0L))
    leavesOnlyWhatItReads("hits")(LinkGraph.hits(edges, "src", "dst", iters = 3, driverCap = 0L))
    leavesOnlyWhatItReads("kCore")(LinkGraph.kCore(edges, "src", "dst", k = 2, driverCap = 0L))
    leavesOnlyWhatItReads("labelPropagation")(
      LinkGraph.labelPropagation(edges, "src", "dst", maxIters = 3, driverCap = 0L))
    leavesOnlyWhatItReads("seedDistance")(
      LinkGraph.seedDistance(edges, "src", "dst", seeds = Seq(0L), maxHops = 3, driverCap = 0L))
    leavesOnlyWhatItReads("randomWalks")(LinkGraph.randomWalks(edges, "src", "dst", walkLen = 3))
    leavesOnlyWhatItReads("connectedComponents")(
      Dedup.connectedComponents(edges, "src", "dst", driverEdgeThreshold = 0L))
    val games = Seq(("a", "b", 10L, 7L), ("b", "c", 10L, 6L), ("c", "a", 10L, 4L))
      .toDF("a", "b", "n", "w")
    leavesOnlyWhatItReads("BradleyTerry.fit")(
      BradleyTerry.fit(games, "a", "b", "n", "w", iters = 3, driverCap = 0L))
    val docs = (0 until 12).map { i =>
      (i.toLong, if (i % 4 == 0) s"a b c shared0 shared1 shared2 d$i" else s"x$i y$i z$i w$i")
    }.toDF("doc_id", "text")
    leavesOnlyWhatItReads("maximalRepeatedSpans")(SuffixDedup.maximalRepeatedSpans(docs,
      "doc_id", "text", minTokens = 3, maxLen = 8, maxDriverPositions = 0L))
    // each pass's span pins are handed to the fixpoint loop's own scope
    leavesOnlyWhatItReads("dedupToFixpoint")(SuffixDedup.dedupToFixpoint(docs,
      "doc_id", "text", minTokens = 3, maxLen = 8, maxDriverPositions = 0L))
  }
}
