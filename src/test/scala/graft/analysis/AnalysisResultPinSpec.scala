package graft.analysis

import graft.SparkSpec

/** Pins the TIE and wake `Result`s on the synthetic plant (60 d, 3 y of
  * reanalysis) with and without UQ (`numSim = 3`, default seed). The
  * goldens were captured before these analyses pinned their re-read
  * intermediates and moved wake's loss reductions to the driver; only the
  * floating-point summation order may differ, so every field must agree
  * within 1e-9 relative. The TIE UQ golden was captured once TIE's
  * bootstrap drew from each turbine's rows in day order, not in the order
  * the join plan collected them.
  *
  * The AEP and yaw `Result`s are pinned bit for bit: they were captured
  * before AEP resampled each reanalysis product once and hoisted its
  * draw-invariant work, and before yaw's outlier filter moved onto the
  * one-pass median/MAD kernel. The yaw goldens were re-captured once the
  * cosine fit read each group's vane bins in vane-bin order. A field of
  * many values is pinned by its count, its sum and
  * `java.util.Arrays.hashCode` (a hash of every bit), map values in key
  * order.
  *
  * The electrical-losses `Result`s (daily and monthly meter, with and
  * without UQ) and the EYA gap waterfall are pinned bit for bit as well,
  * captured before the operator families moved onto `Pins`.
  */
class AnalysisResultPinSpec extends SparkSpec {

  private lazy val plant = SyntheticPlant.build(spark, days = 60, reanalysisYears = 3)

  private def close(got: Double, want: Double, what: String): Unit =
    assert(math.abs(got - want) <= 1e-9 * math.abs(want), s"$what: got $got, want $want")

  private def closeMap(got: Map[String, Double], want: Map[String, Double], what: String): Unit = {
    assert(got.keySet == want.keySet, s"$what keys: $got")
    want.foreach { case (k, v) => close(got(k), v, s"$what($k)") }
  }

  private def fingerprint(vs: Seq[Double]): (Int, Double, Int) =
    (vs.size, vs.sum, java.util.Arrays.hashCode(vs.toArray))

  private def fingerprint[K: Ordering](m: Map[K, Double]): (Int, Double, Int) =
    fingerprint(m.toSeq.sortBy(_._1).map(_._2))

  private def checkAep(r: MonteCarloAEP#Result, aep: (Int, Double, Int), avail: (Int, Double, Int),
                       curt: (Int, Double, Int), iav: (Int, Double, Int)): Unit = {
    assert(fingerprint(r.aepGwh.toSeq) == aep, "aepGwh")
    assert(fingerprint(r.availPct.toSeq) == avail, "availPct")
    assert(fingerprint(r.curtPct.toSeq) == curt, "curtPct")
    assert(fingerprint(r.iav.toSeq) == iav, "iav")
  }

  private def checkWake(r: WakeLosses#Result, por: Double, porByT: Map[String, Double],
                        lt: Double, ltByT: Map[String, Double],
                        porStd: Double, ltStd: Double): Unit = {
    close(r.porLossPlant, por, "porLossPlant")
    closeMap(r.porLossByTurbine, porByT, "porLossByTurbine")
    close(r.ltLossPlant, lt, "ltLossPlant")
    closeMap(r.ltLossByTurbine, ltByT, "ltLossByTurbine")
    close(r.porLossStd, porStd, "porLossStd")
    close(r.ltLossStd, ltStd, "ltLossStd")
  }

  private def checkTie(r: TurbineLongTermGrossEnergy#Result, plantGwh: Array[Double],
                       perTurbine: Map[String, Double]): Unit = {
    assert(r.plantGrossGwhPerYear.length == plantGwh.length)
    r.plantGrossGwhPerYear.zip(plantGwh).zipWithIndex.foreach { case ((g, w), i) =>
      close(g, w, s"plantGrossGwhPerYear($i)")
    }
    closeMap(r.perTurbine, perTurbine, "perTurbine")
  }

  test("WakeLosses Result without UQ is unchanged") {
    checkWake(new WakeLosses(plant, numSim = 3).run(),
      4.538856659452861E-5,
      Map("T1" -> -6.208408049346303E-4, "T2" -> 5.0741021584643775E-5,
        "T3" -> 5.568564910756191E-4, "T4" -> 1.9479755865192683E-4),
      -1.6489844418732247E-4,
      Map("T1" -> -8.724313134449435E-4, "T2" -> -1.5828065454326357E-4,
        "T3" -> 4.1801574127742214E-4, "T4" -> -4.6897550036728575E-5),
      0.0, 0.0)
  }

  test("WakeLosses Result with UQ is unchanged") {
    checkWake(new WakeLosses(plant, uq = true, numSim = 3).run(),
      -1.0697297925673273E-4,
      Map("T1" -> -7.733038631298298E-4, "T2" -> -1.0161970872094954E-4,
        "T3" -> 4.0457287680554604E-4, "T4" -> 4.245877801930161E-5),
      -3.359919678271872E-4,
      Map("T1" -> -0.001053742731279117, "T2" -> -3.5132910918885446E-4,
        "T3" -> 2.6485083050342695E-4, "T4" -> -2.0374686134183584E-4),
      1.1861381932008947E-4, 1.2737483197963683E-4)
  }

  test("TurbineLongTermGrossEnergy Result without UQ is unchanged") {
    checkTie(new TurbineLongTermGrossEnergy(plant, numSim = 3).run(),
      Array(20.51871230848135),
      Map("T1" -> 5.135049480360913, "T2" -> 5.125554042780971,
        "T3" -> 5.127782463909754, "T4" -> 5.130326321429714))
  }

  test("TurbineLongTermGrossEnergy Result with UQ is unchanged") {
    checkTie(new TurbineLongTermGrossEnergy(plant, uq = true, numSim = 3).run(),
      Array(20.328612782786387, 21.17292182265234, 20.484425136103376),
      Map("T1" -> 5.097178281039495, "T2" -> 5.1170635789561,
        "T3" -> 5.072826599106346, "T4" -> 5.041544323684446))
  }

  test("TurbineLongTermGrossEnergy UQ Result does not depend on the join strategy") {
    // the bootstrap draws day indices per turbine: a sort-merge join in
    // place of the broadcast join must not reorder what it draws from
    def run() = new TurbineLongTermGrossEnergy(plant, uq = true, numSim = 3).run()
    val broadcastJoins = run()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val sortMergeJoins = try run() finally spark.conf.set(key, prev)
    assert(sortMergeJoins.plantGrossGwhPerYear.toSeq == broadcastJoins.plantGrossGwhPerYear.toSeq)
    assert(sortMergeJoins.perTurbine == broadcastJoins.perTurbine)
  }

  test("MonteCarloAEP Result without UQ is unchanged, daily and monthly") {
    val d = new MonteCarloAEP(plant, timeResolution = "D").run()
    assert(d.aepGwh.toSeq == Seq(3.019060672377405))
    assert(d.availPct.toSeq == Seq(0.0) && d.curtPct.toSeq == Seq(0.0))
    assert(d.iav.toSeq == Seq(0.0013843116322556452))
    val ms = new MonteCarloAEP(plant, timeResolution = "MS").run()
    assert(ms.aepGwh.toSeq == Seq(2.7952040005624963))
    assert(ms.availPct.toSeq == Seq(0.0) && ms.curtPct.toSeq == Seq(0.0))
    assert(ms.iav.toSeq == Seq(0.04845793125552084))
  }

  test("MonteCarloAEP Result with UQ is unchanged, daily and monthly") {
    val zeros = (50, 0.0, 1133190593)
    checkAep(new MonteCarloAEP(plant, timeResolution = "D", uq = true, numSim = 50).run(),
      (50, 199.0154267194555, 1741973527), zeros, zeros,
      (50, 0.06908162060321894, 1415953095))
    checkAep(new MonteCarloAEP(plant, timeResolution = "MS", uq = true, numSim = 50).run(),
      (50, 210.93399769062802, -109991278), zeros, zeros,
      (50, 2.469033529051078, -1607707243))
  }

  private val avgVane = Map("T1" -> -0.03881204687499974, "T2" -> -0.06556582638888903,
    "T3" -> 0.02710395659722217, "T4" -> 0.20300640104166676)

  test("StaticYawMisalignment Result without UQ is unchanged") {
    val r = new StaticYawMisalignment(plant, minVaneBinCount = 10).run()
    assert(r.avgVaneAngleByTurbine == avgVane)
    assert(fingerprint(r.yawByTurbineAndBin) == ((16, 12.2989561032427, -1971447833)))
    assert(fingerprint(r.yawStdByTurbineAndBin) == ((16, 0.0, 1353309697)))
  }

  test("StaticYawMisalignment Result with UQ is unchanged") {
    val r = new StaticYawMisalignment(plant, minVaneBinCount = 10, uq = true, numSim = 5).run()
    assert(r.avgVaneAngleByTurbine == avgVane)
    assert(fingerprint(r.yawByTurbineAndBin) == ((16, -110.13152939036587, -1158435096)))
    assert(fingerprint(r.yawStdByTurbineAndBin) == ((16, 647.4005455226121, 1103210328)))
  }

  test("StaticYawMisalignment Result does not depend on the shuffle partition count") {
    // the driver-side fit reads each group's bins in vane-bin order, not
    // in the order the aggregate's partitions are collected (adaptive
    // execution would coalesce the small aggregate into one partition)
    def yaw(uq: Boolean) =
      new StaticYawMisalignment(plant, minVaneBinCount = 10, uq = uq, numSim = 5).run()
    val (parts, coalesce) =
      ("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = (spark.conf.get(parts), spark.conf.get(coalesce))
    for (uq <- Seq(false, true)) {
      val want = yaw(uq)
      for (n <- Seq("3", "7")) {
        spark.conf.set(parts, n)
        spark.conf.set(coalesce, "false")
        val got = try yaw(uq) finally {
          spark.conf.set(parts, prev._1)
          spark.conf.set(coalesce, prev._2)
        }
        assert(got == want, s"uq = $uq, $n shuffle partitions")
      }
    }
  }

  test("ElectricalLosses Result without UQ is unchanged, daily and monthly meter") {
    assert(new ElectricalLosses(plant).run().losses.toSeq == Seq(0.019999999999999907))
    assert(new ElectricalLosses(plant, monthlyMeter = Some(true)).run().losses.toSeq ==
      Seq(0.020000000000000684))
  }

  test("ElectricalLosses Result with UQ is unchanged, daily and monthly meter") {
    assert(fingerprint(new ElectricalLosses(plant, uq = true, numSim = 500).run().losses.toSeq) ==
      ((500, 9.749943656047925, 574813470)))
    assert(fingerprint(new ElectricalLosses(plant, monthlyMeter = Some(true), uq = true,
      numSim = 500).run().losses.toSeq) == ((500, 9.869418815666883, 450408485)))
  }

  test("EYAGapAnalysis Result is unchanged") {
    val gap = new EYAGapAnalysis(
      eyaAep = 467.0, eyaGross = 597.0, eyaAvailLoss = 0.062,
      eyaElecLoss = 0.024, eyaTurbineLoss = 0.037,
      eyaWakeLoss = 0.05, eyaBladeDegLoss = 0.011,
      oaAep = 448.0, oaAvailLoss = 0.0837, oaElecLoss = 0.0201,
      oaTurbineIdeal = 581.0).compile()
    assert(gap == Seq(467.0, 40.842369950000034, -11.721420572084998, 2.106614757195,
      -50.22756413511007))
  }
}
