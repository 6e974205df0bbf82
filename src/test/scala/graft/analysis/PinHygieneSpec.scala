package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBus

import graft.SparkSpec
import graft.fitting.{BradleyTerry, Logistic}
import graft.multimodal.Multimodal
import graft.operators.{Dedup, KnnGraph, LinkGraph, Pca, Sampling, Similarity, SuffixDedup}
import graft.streaming.StreamingOps

/** The analyses release every RDD they persist, on return and on a throw,
  * and TIE's, wake's, AEP's, yaw's and electrical losses' job counts stay
  * bounded, as do the logistic and PCA fits'. The link-graph, dedup and
  * Bradley–Terry loops, on their distributed paths, and the graph-index,
  * PQ, resampling and image-dedup operators leave persisted only the RDDs
  * their results read; a streamed
  * graph insert leaves one per batch. The link-graph and Bradley–Terry
  * operators run the caller's edge plan once.
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
    // after the SCADA projection is pinned
    leavesNothingPersisted("WakeLosses") {
      intercept[RuntimeException](new WakeLosses(plant, wdRef = "tower").run())
    }
    // a reanalysis density that fails at run time: the daily reanalysis
    // collect throws
    val badRean = plant.copy(reanalysis = Map("era5" -> plant.reanalysis("era5")
      .withColumn("WMETR_AirDen", raise_error(lit("bad density")))))
    leavesNothingPersisted("TurbineLongTermGrossEnergy") {
      intercept[Exception](new TurbineLongTermGrossEnergy(badRean).run())
    }
  }

  test("WakeLosses without UQ runs in a bounded number of Spark jobs") {
    // one aggregation per timestamp feeds the turbine bins, the plant bins
    // are summed on the driver, and the bias fit joins collected hourly
    // means (17 jobs; 27 with the timestamp frame joined back to SCADA)
    plant.turbineIds; plant.ratedPower
    val jobs = ListenerBus.countJobs(spark.sparkContext)(new WakeLosses(plant).run())
    assert(jobs <= 18, s"$jobs jobs")
  }

  test("TurbineLongTermGrossEnergy runs in a bounded number of Spark jobs, with and without UQ") {
    // Spark runs the flags, the daily sums and the daily reanalysis; the
    // grid, the imputation and the join by day run on the driver (6 and 14
    // jobs; 18 and 60 with a distributed imputation plan per config)
    plant.turbineIds; plant.ratedPower
    val plain = ListenerBus.countJobs(spark.sparkContext)(new TurbineLongTermGrossEnergy(plant).run())
    assert(plain <= 7, s"$plain jobs without UQ")
    val uq = ListenerBus.countJobs(spark.sparkContext)(
      new TurbineLongTermGrossEnergy(plant, uq = true, numSim = 3).run())
    assert(uq <= 15, s"$uq jobs with UQ at numSim = 3")
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

  test("StaticYawMisalignment runs in a bounded number of Spark jobs, with and without UQ") {
    // the outlier filter's bin statistics, one binned aggregate (keyed by
    // draw under UQ) and the per-turbine mean vane angle, however many
    // draws (6 jobs with and without UQ)
    plant.turbineIds; plant.ratedPower
    val plain = ListenerBus.countJobs(spark.sparkContext)(
      new StaticYawMisalignment(plant, minVaneBinCount = 10).run())
    assert(plain <= 6, s"$plain jobs without UQ")
    val uq = ListenerBus.countJobs(spark.sparkContext)(
      new StaticYawMisalignment(plant, minVaneBinCount = 10, uq = true, numSim = 3).run())
    assert(uq <= 6, s"$uq jobs with UQ at numSim = 3")
  }

  test("ElectricalLosses with UQ runs in a bounded number of Spark jobs, daily and monthly meter") {
    // the daily sums or the monthly rows are collected once, and every
    // draw runs on the driver over them (6 jobs, daily and monthly)
    val daily = ListenerBus.countJobs(spark.sparkContext)(
      new ElectricalLosses(plant, uq = true, numSim = 200).run())
    assert(daily <= 6, s"$daily jobs with a daily meter")
    val monthly = ListenerBus.countJobs(spark.sparkContext)(
      new ElectricalLosses(plant, uq = true, numSim = 200, monthlyMeter = Some(true)).run())
    assert(monthly <= 6, s"$monthly jobs with a monthly meter")
  }

  test("Logistic.fit, Pca.fit and Pca.momentRows run in a bounded number of Spark jobs and " +
      "leave nothing persisted") {
    import spark.implicits._
    // one Gram aggregate per Newton step and one for the PCA moments, each
    // two jobs under adaptive execution (the shuffle's map stage runs as
    // its own job); momentRows adds the broadcast of its slot table (10, 2
    // and 3 jobs)
    val df = (0 until 200).map { i =>
      (i.toLong, Array(math.sin(i.toDouble), math.cos(0.3 * i), (i % 7) / 7.0), i % 3 == 0)
    }.toDF("id", "x", "y")
    def jobs(what: String)(body: => Any): Int =
      ListenerBus.countJobs(spark.sparkContext)(leavesNothingPersisted(what)(body))
    val logistic = jobs("Logistic.fit")(Logistic.fit(df, "x", "y", dims = 3, iters = 5))
    assert(logistic <= 10, s"$logistic jobs for Logistic.fit at iters = 5")
    val pca = jobs("Pca.fit")(Pca.fit(df, "x", 3, 2))
    assert(pca <= 2, s"$pca jobs for Pca.fit")
    val moments = jobs("Pca.momentRows")(Pca.momentRows(df, "x", 3).collect())
    assert(moments <= 3, s"$moments jobs for Pca.momentRows")
  }

  private def leavesOnlyWhatItReads(what: String)(body: => DataFrame): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = body
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    val read = out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
    assert(left.subsetOf(read), s"$what left RDDs ${left -- read} persisted")
    assert(out.count() > 0, what)
  }

  /** `n` vectors in 6 dims with ids from `from`: id i sits near basis
    * vector i % 6, so the k-NN graph has six tight clusters.
    */
  private def vectors(from: Long, n: Int, seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (from until from + n).map { i =>
      (i, Array.tabulate(6)(d => (if (d == i % 6) 1.0 else 0.0) + 0.05 * rnd.nextGaussian()))
    }.toDF("vec_id", "v")
  }

  test("the distributed loops leave persisted only what their results read") {
    import spark.implicits._
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

  test("the graph-index, PQ, resampling and image-dedup operators leave persisted only what " +
      "their results read") {
    import spark.implicits._
    val corpus = vectors(0L, 40, seed = 1)
    val batch = vectors(10000L, 8, seed = 2)
    val queries = vectors(20000L, 5, seed = 3)
    val g = KnnGraph.nnDescent(corpus, "vec_id", "v", k = 4, iterations = 2)
    leavesOnlyWhatItReads("nnDescent")(
      KnnGraph.nnDescent(corpus, "vec_id", "v", k = 4, iterations = 2))
    leavesOnlyWhatItReads("searchGraph")(
      KnnGraph.searchGraph(g, corpus, queries, "vec_id", "v", k = 3))
    val idx = KnnGraph.graphIndex(g, corpus, "vec_id", "v", entries = 3)
    leavesOnlyWhatItReads("graphIndex")(KnnGraph.graphIndex(g, corpus, "vec_id", "v", entries = 3))
    leavesOnlyWhatItReads("searchGraphIndexed")(
      KnnGraph.searchGraphIndexed(idx, queries, "vec_id", "v", k = 3))
    leavesOnlyWhatItReads("insertIncremental")(KnnGraph.insertIncremental(g, corpus, batch,
      "vec_id", "v", k = 4, refineRounds = 2))
    leavesOnlyWhatItReads("insertIncrementalIndexed")(KnnGraph.insertIncrementalIndexed(idx,
      batch, "vec_id", "v", k = 4, refineRounds = 2))
    leavesOnlyWhatItReads("compactIndex")(KnnGraph.compactIndex(idx))
    leavesOnlyWhatItReads("removeIds")(KnnGraph.removeIds(idx,
      Seq(0L, 1L, 2L, 7L).toDF("vec_id"), "vec_id", k = 4, healRounds = 2))
    val model = Similarity.pqTrain(corpus, "v", dims = 6, m = 3, ksub = 4, seed = 5L)
    leavesOnlyWhatItReads("pqIndex")(Similarity.pqIndex(corpus, "vec_id", "v", model))
    leavesOnlyWhatItReads("ivfPqTopK")(Similarity.ivfPqTopK(corpus, queries, "vec_id", "v",
      k = 3, nlist = 3, nprobe = 2, m = 3, ksub = 4))
    val weights = (0L until 20L).map(i => (i, i % 4)).toDF("id", "w")
    leavesOnlyWhatItReads("systematicResample")(
      Sampling.systematicResample(weights, "id", "w", nSamples = 10))
    // two byte-identical copies of one image pair at Hamming distance 0
    val img = new java.awt.image.BufferedImage(36, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 36) img.setRGB(x, y, ((x * 7 + y * 13) % 256) * 0x010101)
    val png = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", png)
    val media = Seq((1L, png.toByteArray), (2L, png.toByteArray)).toDF("media_id", "bytes")
    leavesOnlyWhatItReads("dHashNearDupPairs")(
      Multimodal.dHashNearDupPairs(media, "media_id", "bytes"))
  }

  test("a streamed graph insert leaves at most one persisted RDD per batch") {
    val corpus = vectors(0L, 40, seed = 1)
    val idx = KnnGraph.graphIndex(KnnGraph.nnDescent(corpus, "vec_id", "v", k = 4,
      iterations = 2), corpus, "vec_id", "v", entries = 3)
    for (compactEvery <- Seq(8, 1)) {
      val state = new StreamingOps.GraphInsertState(idx, "vec_id", "v", k = 4,
        compactEvery = compactEvery)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      for (b <- 0 until 3) state.addBatch(vectors(10000L + 10 * b, 5, seed = 10 + b))
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.size <= 3, s"compactEvery = $compactEvery: 3 batches left RDDs $left persisted")
      assert(state.index.count() === 55, s"compactEvery = $compactEvery")
    }
  }

  test("the link-graph and Bradley–Terry operators run the caller's edge plan once") {
    // each row of the input passes the counting UDF once per run of the
    // input's plan; nondeterministic, so the optimizer neither duplicates
    // nor prunes it
    def runsOnce(what: String, input: DataFrame, countedCol: String)(
        op: DataFrame => DataFrame): Unit = {
      val acc = spark.sparkContext.longAccumulator
      val tick = udf((x: Long) => { acc.add(1L); x }).asNondeterministic()
      op(input.withColumn(countedCol, tick(col(countedCol)))).count()
      val rows = input.count()
      assert(acc.value === rows, s"$what: ${acc.value} UDF calls for $rows edge rows")
    }
    // a ring of 8 nodes plus chords i -> i + 3: every node has degree >= 2
    val edges = spark.range(16).select((col("id") % 8).as("src"),
      when(col("id") < 8, (col("id") + 1) % 8).otherwise((col("id") + 3) % 8).as("dst"))
    val games = spark.range(3).select(concat(lit("p"), col("id")).as("a"),
      concat(lit("p"), (col("id") + 1) % 3).as("b"), lit(10L).as("n"), (col("id") + 4L).as("w"))
    for (cap <- Seq(2000000L, 0L)) {
      runsOnce(s"pageRank, driverCap = $cap", edges, "src")(
        LinkGraph.pageRank(_, "src", "dst", iters = 3, driverCap = cap))
      runsOnce(s"personalizedPageRank, driverCap = $cap", edges, "src")(
        LinkGraph.personalizedPageRank(_, "src", "dst", seeds = Seq("0"), iters = 3,
          driverCap = cap))
      runsOnce(s"hits, driverCap = $cap", edges, "src")(
        LinkGraph.hits(_, "src", "dst", iters = 3, driverCap = cap))
      runsOnce(s"kCore, driverCap = $cap", edges, "src")(
        LinkGraph.kCore(_, "src", "dst", k = 2, driverCap = cap))
      runsOnce(s"labelPropagation, driverCap = $cap", edges, "src")(
        LinkGraph.labelPropagation(_, "src", "dst", maxIters = 3, driverCap = cap))
      runsOnce(s"seedDistance, driverCap = $cap", edges, "src")(
        LinkGraph.seedDistance(_, "src", "dst", seeds = Seq(0L), maxHops = 3, driverCap = cap))
      runsOnce(s"BradleyTerry.fit, driverCap = $cap", games, "n")(
        BradleyTerry.fit(_, "a", "b", "n", "w", iters = 3, driverCap = cap))
    }
  }
}
