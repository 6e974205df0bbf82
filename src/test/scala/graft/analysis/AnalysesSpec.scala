package graft.analysis

import graft.SparkSpec

/** End-to-end analysis regression on the synthetic plant (SURVEY.md §5:
  * construct data with closed-form expected results, freeze as goldens).
  */
class AnalysesSpec extends SparkSpec {

  private lazy val plant = SyntheticPlant.build(spark, days = 60, reanalysisYears = 3)

  test("ElectricalLosses recovers the constructed 2% loss exactly (no UQ)") {
    val result = new ElectricalLosses(plant).run()
    assert(math.abs(result.mean - SyntheticPlant.TrueElectricalLoss) < 1e-9)
  }

  test("ElectricalLosses UQ distribution centers on 2% with sigma ~ inputs") {
    val result = new ElectricalLosses(plant, uq = true, numSim = 500,
      uncertaintyMeter = 0.005, uncertaintyScada = 0.005).run()
    assert(math.abs(result.mean - SyntheticPlant.TrueElectricalLoss) < 0.002)
    assert(result.std > 0.001 && result.std < 0.02)
  }

  test("MonteCarloAEP produces a plausible AEP near the POR-implied energy") {
    val aep = new MonteCarloAEP(plant, timeResolution = "D", uq = false,
      windinessYears = (1, 2)).run()
    // POR: 60 days of ~4 x ~1.1MW avg -> annual scale ~ capacity * CF * 8760
    val got = aep.aepMean
    assert(got > 10.0 && got < 80.0, s"AEP out of plausible band: $got GWh")
    assert(aep.availPct(0) < 0.001) // constructed zero availability loss
  }

  test("MonteCarloAEP UQ returns a spread and stable mean") {
    val aep = new MonteCarloAEP(plant, timeResolution = "D", uq = true,
      numSim = 100, windinessYears = (1, 2)).run()
    val noUq = new MonteCarloAEP(plant, timeResolution = "D", uq = false,
      windinessYears = (1, 2)).run()
    assert(math.abs(aep.aepMean - noUq.aepMean) / noUq.aepMean < 0.2)
    assert(aep.aepStd > 0.0)
  }

  test("MonteCarloAEP tree models (gbt/rf) land near the linear model") {
    val lin = new MonteCarloAEP(plant, timeResolution = "D", uq = false,
      windinessYears = (1, 2)).run()
    for (m <- Seq("gbt", "rf")) {
      val tree = new MonteCarloAEP(plant, timeResolution = "D", uq = false,
        regModel = m, windinessYears = (1, 2), hyperOptIter = 0).run()
      assert(math.abs(tree.aepMean - lin.aepMean) / lin.aepMean < 0.35,
        s"$m AEP ${tree.aepMean} too far from lin ${lin.aepMean}")
    }
  }

  test("MonteCarloAEP UQ-gbt is driver-side fast and stays near the lin result") {
    val lin = new MonteCarloAEP(plant, timeResolution = "D", uq = false,
      windinessYears = (1, 2)).run()
    val t0 = System.nanoTime()
    val uqGbt = new MonteCarloAEP(plant, timeResolution = "D", uq = true,
      numSim = 100, regModel = "gbt", windinessYears = (1, 2),
      hyperOptIter = 0).run()
    val secs = (System.nanoTime() - t0) / 1e9
    // 100 simulations = 100 boosted fits; driver-side these are seconds
    // total (a per-simulation distributed fit was minutes-to-hours)
    assert(secs < 60, s"UQ gbt took ${secs}s for 100 sims")
    assert(math.abs(uqGbt.aepMean - lin.aepMean) / lin.aepMean < 0.35)
    assert(uqGbt.aepStd > 0.0)
  }

  test("MonteCarloAEP outlier-filter pass excludes an injected bad meter month") {
    import org.apache.spark.sql.functions._
    // 12 full months; corrupt June's meter readings to 50% — off the
    // ws-energy curve but inside the window-range band, so only the Huber
    // pass can catch it (aep.py:776-790)
    val year = SyntheticPlant.build(spark, days = 365, reanalysisYears = 3)
    val corrupted = year.meterDf.withColumn("MMTR_SupWh",
      when(month(col("time")) === 6, col("MMTR_SupWh") * 0.5)
        .otherwise(col("MMTR_SupWh")))
    val bad = year.copy(meter = Some(corrupted))

    val clean = new MonteCarloAEP(year, timeResolution = "MS", uq = false,
      windinessYears = (1, 2)).run().aepMean
    val withoutDet = new MonteCarloAEP(bad, timeResolution = "MS", uq = false,
      windinessYears = (1, 2)).run().aepMean
    val det = new MonteCarloAEP(bad, timeResolution = "MS", uq = false,
      outlierDetection = true, windinessYears = (1, 2))
    val withDet = det.run().aepMean

    // the bad month is excluded from the regression set
    val agg = det.aggregate()
    val kept = det.filterOutliers(agg, "era5", lossThreshold = 0.2,
      outlierThreshold = 2.0)
    assert(agg.size == 12 && kept.size < 12,
      s"expected the outlier month dropped; agg=${agg.size} kept=${kept.size}")
    // and the AEP moves back toward the clean plant's
    assert(math.abs(withDet - clean) < math.abs(withoutDet - clean),
      s"clean=$clean withDet=$withDet withoutDet=$withoutDet")
  }

  test("MonteCarloAEP temperature/wind-direction regressors stay near ws-only") {
    val base = new MonteCarloAEP(plant, timeResolution = "D", uq = false,
      windinessYears = (1, 2)).run().aepMean
    val reg = new MonteCarloAEP(plant, timeResolution = "D", uq = false,
      regTemperature = true, regWindDirection = true,
      windinessYears = (1, 2)).run().aepMean
    assert(math.abs(reg - base) / base < 0.2, s"base=$base with-regressors=$reg")
  }

  test("MonteCarloAEP GAM model lands near the linear model") {
    val lin = new MonteCarloAEP(plant, timeResolution = "D", uq = false,
      windinessYears = (1, 2)).run().aepMean
    val gam = new MonteCarloAEP(plant, timeResolution = "D", uq = false,
      regModel = "gam", windinessYears = (1, 2)).run().aepMean
    assert(math.abs(gam - lin) / lin < 0.25, s"lin=$lin gam=$gam")
  }

  test("MonteCarloAEP tree hyperopt searches and memoizes per product") {
    val lin = new MonteCarloAEP(plant, timeResolution = "D", uq = false,
      windinessYears = (1, 2)).run()
    val opt = new MonteCarloAEP(plant, timeResolution = "D", uq = false,
      regModel = "gbt", windinessYears = (1, 2), hyperOptIter = 2).run()
    assert(math.abs(opt.aepMean - lin.aepMean) / lin.aepMean < 0.5,
      s"hyperopt gbt AEP ${opt.aepMean} too far from lin ${lin.aepMean}")
  }

  test("TIE imputation recovers a turbine whose high-wind days are missing") {
    import org.apache.spark.sql.functions._
    // knock out ALL of T1's above-median-wind days: without imputation T1's
    // power model never sees the top of the curve -> biased-low long-term
    // energy; with imputation those days come back from the correlated
    // neighbors (turbine_long_term_gross_energy.py:476-501)
    val dayAvg = plant.scadaDf
      .groupBy(date_trunc("day", col("time")).as("d"))
      .agg(avg(col("WMET_HorWdSpd")).as("dws"))
    val med = dayAvg.agg(percentile(col("dws"), lit(0.5))).head().getDouble(0)
    val highDays = dayAvg.filter(col("dws") > med)
      .select(col("d")).collect().map(_.getTimestamp(0)).toSeq
    val holey = plant.copy(scada = Some(plant.scadaDf.filter(
      !(col("asset_id") === "T1" &&
        date_trunc("day", col("time")).isInCollection(highDays)))))
    val withImpute = new TurbineLongTermGrossEnergy(holey).run().perTurbine
    val withoutImpute = new TurbineLongTermGrossEnergy(holey,
      imputeMissingDays = false).run().perTurbine
    def spread(m: Map[String, Double]) = {
      val vs = m.values.toSeq
      (vs.max - vs.min) / vs.max
    }
    assert(spread(withImpute) < spread(withoutImpute),
      s"imputed=$withImpute raw=$withoutImpute")
    assert(spread(withImpute) < 0.10, s"imputed spread too wide: $withImpute")
  }

  test("TurbineLongTermGrossEnergy per-turbine energies are equal-ish and plausible") {
    val tie = new TurbineLongTermGrossEnergy(plant).run()
    val per = tie.perTurbine
    assert(per.size == SyntheticPlant.NTurbines)
    // identical turbines -> near-identical long-term gross
    val vals = per.values.toSeq
    assert((vals.max - vals.min) / vals.max < 0.05,
      s"per-turbine spread too wide: $per")
    // each turbine: capacity 2MW, CF ~0.45-0.6 on this wind regime
    assert(vals.forall(v => v > 4.0 && v < 13.0), s"implausible TIE: $per")
  }

  test("TurbineLongTermGrossEnergy UQ samples thresholds and keeps a stable mean") {
    val plain = new TurbineLongTermGrossEnergy(plant).run()
    val uqRes = new TurbineLongTermGrossEnergy(plant, uq = true, numSim = 6).run()
    // sampled thresholds legitimately shift the mean (a 1-sigma wind-bin
    // threshold draw filters ~1/3 of in-bin points); bound the drift
    assert(math.abs(uqRes.mean - plain.mean) / plain.mean < 0.30,
      s"uq=${uqRes.mean} plain=${plain.mean}")
    // sampled thresholds + bootstrap + scada uncertainty produce a spread
    assert(uqRes.plantGrossGwhPerYear.distinct.length > 1)
  }

  test("WakeLosses POR loss is ~0 for identical ideal turbines") {
    // every turbine produces the same power at each timestamp, so
    // actual == potential and wake losses vanish
    val wl = new WakeLosses(plant).run()
    assert(math.abs(wl.porLossPlant) < 0.02, s"expected ~0, got ${wl.porLossPlant}")
    assert(math.abs(wl.ltLossPlant) < 0.05)
    // per-turbine LT table exists with one entry per turbine, all ~0
    assert(wl.ltLossByTurbine.size == SyntheticPlant.NTurbines)
    wl.ltLossByTurbine.values.foreach(v => assert(math.abs(v) < 0.05, s"$wl"))
  }

  test("WakeLosses recovers a constructed directional wake deficit") {
    import org.apache.spark.sql.functions._
    // in the 2x2 grid, T1/T3 sit west of T2/T4, so for westerly winds
    // (240-300 deg) the freestream sets are {T1, T3}; derate T2/T4 by 15%
    // exactly there — a directional wake whose plant-level loss is
    // computable in closed form from the unmodified data
    val sectored = col("WMET_HorWdDir").between(240.0, 300.0)
    val waked = plant.copy(scada = Some(plant.scadaDf.withColumn("WTUR_W",
      when(col("asset_id").isin("T2", "T4") && sectored, col("WTUR_W") * 0.85)
        .otherwise(col("WTUR_W")))))
    val wl = new WakeLosses(waked, deratingFilter = false).run()
    val tot = plant.scadaDf.agg(sum("WTUR_W")).head().getDouble(0)
    val sect = plant.scadaDf
      .filter(col("asset_id").isin("T2", "T4") && sectored)
      .agg(sum("WTUR_W")).head().getDouble(0)
    val expected = 0.15 * sect / tot
    assert(math.abs(wl.porLossPlant - expected) < 0.015,
      s"got ${wl.porLossPlant}, closed-form $expected")
    // the waked turbines carry the loss; the freestream ones don't
    assert(wl.porLossByTurbine("T2") > wl.porLossByTurbine("T1") + 0.02, s"$wl")
    // LT correction reweights by reanalysis frequency but stays in range
    assert(math.abs(wl.ltLossPlant - expected) < 0.05)

    // the no-wakes-above-threshold rule: dropping the threshold to 0 assumes
    // every ws bin is wake-free, collapsing the LT loss toward zero while
    // the POR loss (unaffected by the rule) stays put
    val noWakes = new WakeLosses(waked, deratingFilter = false,
      noWakesWsThresh = 0.0).run()
    assert(math.abs(noWakes.ltLossPlant) < 0.005, s"lt=${noWakes.ltLossPlant}")
    assert(math.abs(noWakes.porLossPlant - wl.porLossPlant) < 1e-9)

    // a 1-year LT window uses a subset of the wind rose but stays in range
    val shortWin = new WakeLosses(waked, deratingFilter = false,
      numYearsLt = (1, 1)).run()
    assert(math.abs(shortWin.ltLossPlant - expected) < 0.05,
      s"lt=${shortWin.ltLossPlant}")
  }

  test("WakeLosses derating filter excludes a constructed derated turbine") {
    import org.apache.spark.sql.functions._
    // transient curtailment: T2 produces nothing during hours 0-5 despite
    // plausible wind — the implausible-power-at-plausible-ws shape the
    // window-range branch of the derating filter targets
    // (wake_losses.py:1057-1095). A PERSISTENT cap would flood its own
    // power bin and evade the MAD branch (a limitation shared with the
    // reference, whose bin filter assumes deratings are a bin minority).
    val derated = plant.copy(scada = Some(plant.scadaDf.withColumn("WTUR_W",
      when(col("asset_id") === "T2" && hour(col("time")) < 6 &&
        col("WMET_HorWdSpd") > 6.0, lit(0.0))
        .otherwise(col("WTUR_W")))))
    val noFilter = new WakeLosses(derated, deratingFilter = false).run()
    val withFilter = new WakeLosses(derated).run()
    // without the filter the curtailed turbine masquerades as wake loss;
    // with it, the derated samples (and their timestamps, via the
    // all-turbines-reporting rule) drop out and the loss returns to ~0
    assert(noFilter.porLossPlant > 0.03,
      s"expected visible fake loss, got ${noFilter.porLossPlant}")
    assert(math.abs(withFilter.porLossPlant) < 0.02,
      s"expected ~0 after filtering, got ${withFilter.porLossPlant}")
  }

  test("WakeLosses tower wd_ref matches the scada-derived reference") {
    val towered = SyntheticPlant.build(spark, days = 30, reanalysisYears = 1,
      withTower = true)
    val scadaRef = new WakeLosses(towered).run()
    val towerRef = new WakeLosses(towered, wdRef = "tower").run()
    // the tower measures the same direction field with independent noise,
    // so the loss estimates agree closely
    assert(math.abs(towerRef.porLossPlant - scadaRef.porLossPlant) < 0.02,
      s"tower=${towerRef.porLossPlant} scada=${scadaRef.porLossPlant}")
  }

  test("WakeLosses on a plant where no timestamp has every turbine reporting is NaN") {
    import org.apache.spark.sql.functions._
    // the asset table still lists four turbines, so no timestamp qualifies
    val partial = plant.copy(scada = Some(plant.scadaDf.filter(col("asset_id") =!= "T4")))
    val wl = new WakeLosses(partial).run()
    assert(wl.porLossPlant.isNaN && wl.ltLossPlant.isNaN, s"$wl")
    assert(wl.porLossByTurbine.isEmpty && wl.ltLossByTurbine.isEmpty, s"$wl")
  }

  test("WakeLosses UQ bootstrap yields a stable mean and a spread") {
    val wl = new WakeLosses(plant, uq = true, numSim = 5).run()
    assert(math.abs(wl.porLossPlant) < 0.03, s"UQ mean drifted: ${wl.porLossPlant}")
    assert(wl.porLossStd >= 0.0 && !wl.porLossStd.isNaN)
  }

  test("StaticYawMisalignment recovers constructed per-turbine offsets") {
    val offsets = Map("T1" -> 3.0, "T2" -> -2.0, "T3" -> 0.0, "T4" -> 5.0)
    val yawPlant = SyntheticPlant.build(spark, days = 30, reanalysisYears = 1,
      yawOffsets = offsets)
    // synthetic vane tracks ~0 while power peaks at vane = offset, so the
    // reference estimator (fitted offset - mean vane) recovers the offsets
    val yawA = new StaticYawMisalignment(yawPlant, minVaneBinCount = 10)
    val res = yawA.run()
    val overall = yawA.overall(res)
    offsets.foreach { case (t, off) =>
      val got = overall(t)
      assert(math.abs(got - off) < 2.0, s"turbine $t: expected ~$off got $got")
    }
    // vane-tracking controller: mean vane angle sits near zero
    res.avgVaneAngleByTurbine.values.foreach(v => assert(math.abs(v) < 1.0))
  }

  test("StaticYawMisalignment UQ bootstrap keeps the mean and adds a spread") {
    val offsets = Map("T1" -> 3.0, "T2" -> -2.0, "T3" -> 0.0, "T4" -> 5.0)
    // 60 days keeps vane-bin counts well above the bin-count floor, so the
    // set of bins entering each bootstrap fit is stable across resamples
    val yawPlant = SyntheticPlant.build(spark, days = 60, reanalysisYears = 1,
      yawOffsets = offsets)
    // 30 days x 1-degree vane bins leaves ~25 samples per (ws, vane) bin,
    // so relax the bin-count floor to exercise the bin-level fits
    val plainA = new StaticYawMisalignment(yawPlant, minVaneBinCount = 10)
    val plainRes = plainA.run()
    val res = new StaticYawMisalignment(yawPlant, minVaneBinCount = 10,
      uq = true, numSim = 15).run()
    // seeded: identical run reproduces exactly
    val res2 = new StaticYawMisalignment(yawPlant, minVaneBinCount = 10,
      uq = true, numSim = 15).run()
    assert(res.yawByTurbineAndBin == res2.yawByTurbineAndBin)
    // the synthetic power curve peaks at vane = offset, so the bin-averaged
    // per-turbine estimate recovers the constructed offsets (individual ws
    // bins carry ±3 degrees of noise from the power spread inside a bin);
    // bootstrap means track the plain per-bin fits
    val plainOverall = plainA.overall(plainRes)
    plainOverall.foreach { case (t, got) =>
      assert(math.abs(got - offsets(t)) < 2.5, s"$t: overall=$got true=${offsets(t)}")
    }
    val common = res.yawByTurbineAndBin.keySet intersect plainRes.yawByTurbineAndBin.keySet
    assert(common.nonEmpty)
    common.foreach { k =>
      assert(math.abs(res.yawByTurbineAndBin(k) - plainRes.yawByTurbineAndBin(k)) < 2.5,
        s"$k: uq=${res.yawByTurbineAndBin(k)} plain=${plainRes.yawByTurbineAndBin(k)}")
    }
    assert(res.yawStdByTurbineAndBin.values.forall(sd => !sd.isNaN && sd >= 0.0))
    assert(res.yawStdByTurbineAndBin.values.exists(_ > 0.0))
  }

  test("EYAGapAnalysis waterfall reconciles to the operational AEP") {
    val gap = new EYAGapAnalysis(
      eyaAep = 467.0, eyaGross = 597.0, eyaAvailLoss = 0.062,
      eyaElecLoss = 0.024, eyaTurbineLoss = 0.037,
      eyaWakeLoss = 0.05, eyaBladeDegLoss = 0.011,
      oaAep = 448.0, oaAvailLoss = 0.0837, oaElecLoss = 0.0201,
      oaTurbineIdeal = 581.0).compile()
    assert(gap.length == 5)
    assert(math.abs(gap.head - 467.0) < 1e-12)
    // waterfall must reconcile: eya + diffs + unexplained = oa
    assert(math.abs(gap.sum - 448.0) < 1e-9)
    // the EYA ideal energy folds in all three loss factors and scales the
    // avail/elec deltas (eya_gap_analysis.py:158-172)
    val eyaTie = 597.0 * (1 - 0.037) * (1 - 0.05) * (1 - 0.011)
    assert(math.abs(gap(1) - (581.0 - eyaTie)) < 1e-9)
    assert(math.abs(gap(2) - (0.062 - 0.0837) * eyaTie) < 1e-9)
  }
}
