package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis._
import graft.fitting.{Fitting, Trees}
import graft.operators.KnnGraph
import graft.plant.{PlantData, PlantMetadata}

/** One benchmark workload: a plant and the Monte-Carlo settings of the six
  * analyses, or an embedding set for the graph index. A plant workload
  * runs the six analyses; an index workload runs build, insert, delete
  * and search.
  */
final case class Workload(name: String, plant: Option[PlantSpec] = None,
                          ann: Option[AnnSpec] = None, uq: Boolean = false,
                          aepSims: Int = 1, elecSims: Int = 1, tieSims: Int = 1,
                          wakeSims: Int = 1, yawSims: Int = 1) {
  require(plant.isDefined != ann.isDefined, s"$name: a plant or an embedding set, not both")
  /** Windiness / long-term window in years: (low, high) sampled under UQ. */
  def ltYears: (Int, Int) = plant.map(p =>
    (math.max(1, p.reanalysisYears / 2), math.max(1, p.reanalysisYears - 1))).getOrElse((1, 1))
  /** Operations one pass attempts. */
  def opsPerPass: Int = if (plant.isDefined) 6 else 4
}

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("plant_uq",
      plant = Some(PlantSpec(turbines = 4, days = 60, reanalysisYears = 3, products = 2)),
      uq = true, aepSims = 2000, elecSims = 20000, tieSims = 1, wakeSims = 1, yawSims = 20),
    Workload("ann_index", ann = Some(AnnSpec(corpus = 350))))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}

/** Outcome of one pass over every operation of a workload. */
final class Iteration {
  /** End-to-end seconds of the pass and of each operation that passed. */
  val times = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer probe values (traced runs only). */
  val probes = mutable.LinkedHashMap.empty[String, Double]
  var spans: Map[String, SpanStats] = Map.empty
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Wall and process CPU seconds spent checking outputs, left out of the
    * pass's `wall_s` and `cpu_s`.
    */
  var checkS = 0.0
  var checkCpuS = 0.0
}

/** Loads a workload's inputs and runs its operations, checking every
  * output against the truths built into the generated data.
  */
final class Bench(spark: SparkSession, val w: Workload, data: Path, seed: Long,
                  work: Path, tracer: Tracer) {
  import Bench._

  private def read(name: String): DataFrame =
    spark.read.parquet(data.resolve(name).toString)

  /** Vectors with ids in `[from, until)`. */
  private def vectors(from: Long, until: Long): DataFrame =
    read("vectors").filter(col("vec_id") >= from && col("vec_id") < until)

  private var truth: Map[Long, Set[Long]] = Map.empty

  /** Loads the inputs the way a user would, timed as span `plant.load` or
    * `ann.load`: the plant from parquet through `PlantData.load`, which
    * derives columns and validates; or the corpus, insert batch and
    * queries from parquet, each counted.
    */
  def load(): (Option[PlantData], Double) = w.plant match {
    case Some(spec) => tracer.span("plant.load")(Some(loadPlant(spec)))
    case None =>
      val a = w.ann.get
      tracer.span("ann.load") {
        Seq((0L, a.corpus.toLong), (a.corpus.toLong, a.indexed), (a.indexed, a.total.toLong))
          .foreach { case (from, until) =>
            val n = vectors(from, until).count()
            if (n != until - from) sys.error(s"vectors [$from, $until) has $n rows")
          }
        None
      }
  }

  private def loadPlant(spec: PlantSpec): PlantData = PlantData.load(
    scada = Some(read("scada")), meter = Some(read("meter")),
    curtail = Some(read("curtail")), asset = Some(read("asset")),
    reanalysis = spec.productNames.map(p => p -> read(s"reanalysis_$p")).toMap,
    metadata = PlantMetadata(scadaFreqSeconds = Gen.FreqSeconds,
      meterFreqSeconds = Gen.FreqSeconds, curtailFreqSeconds = Gen.FreqSeconds,
      reanalysisFreqSeconds = 3600L, capacityKw = Gen.RatedPowerKw * spec.turbines),
    // validation runs one SCADA frequency scan per listed analysis type;
    // one type with a SCADA requirement keeps the repeated set-up cheap
    analysisTypes = Seq("MonteCarloAEP", "ElectricalLosses"))

  /** Benchmark-side preparation, untimed and the same with tracing on or
    * off: the brute-force top-K truth of every query over the vectors
    * that survive the delete step.
    */
  def prepare(): Unit = w.ann.foreach { a =>
    val (queries, indexed) = read("vectors").collect()
      .map(r => r.getLong(0) -> unit(r.getSeq[Double](1).toArray))
      .partition(_._1 >= a.indexed)
    val del = Gen.deletedIds(a, seed).toSet
    val survivors = indexed.filter { case (id, _) => !del(id) }
    truth = queries.toMap.map { case (q, qv) =>
      q -> survivors.map { case (id, sv) => (id, dot(qv, sv)) }
        .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1).toSet
    }
  }

  /** One pass over every operation of the workload, on loaded inputs. */
  def iterate(plant: Option[PlantData]): Iteration = {
    val it = new Iteration
    tracer.reset()
    val cpu0 = processCpuS()
    val t0 = System.nanoTime()
    plant.foreach(plantOps(it, _))
    w.ann.foreach(annOps(it, _))
    it.times("wall_s") = (System.nanoTime() - t0) / 1e9 - it.checkS
    it.times("cpu_s") = processCpuS() - cpu0 - it.checkCpuS
    it.spans = tracer.stats.toMap
    it
  }

  /** The six analyses, in the order a plant report runs them. */
  private def plantOps(it: Iteration, plant: PlantData): Unit = {
    val spec = w.plant.get
    val nTurbines = spec.turbines
    val yawTruth = Gen.yawOffsets(spec, seed)

    val elec = op(it, "elec.run", "elec_s") {
      new ElectricalLosses(plant, uq = w.uq, numSim = w.elecSims).run()
    } { r =>
      val tol = if (w.uq) 1e-3 else 1e-9
      failIf(math.abs(r.mean - Gen.ElectricalLoss) >= tol,
        s"electrical loss ${r.mean}, expected ${Gen.ElectricalLoss} within $tol") orElse
        failIf(w.uq && !(r.std > 0), s"UQ electrical loss has no spread (${r.std})")
    }

    val aep = op(it, "aep.run", "aep_s")(newAep(plant).run()) { r =>
      val perTurbine = r.aepMean / nTurbines
      failIf(!(perTurbine > 2.5 && perTurbine < 20.0),
        s"AEP ${r.aepMean} GWh implausible for $nTurbines turbines") orElse
        failIf(!(r.availPct(0) < 1e-3), s"availability loss ${r.availPct(0)}, expected 0") orElse
        failIf(w.uq && !(r.aepStd > 0), "UQ AEP has no spread")
    }

    val tie = op(it, "tie.run", "tie_s") {
      new TurbineLongTermGrossEnergy(plant, uq = w.uq, numSim = w.tieSims).run()
    } { r =>
      val vs = r.perTurbine.values.toSeq
      failIf(vs.size != nTurbines, s"TIE has ${vs.size} turbines, expected $nTurbines") orElse
        failIf((vs.max - vs.min) / vs.max >= 0.05, s"TIE per-turbine spread too wide: ${r.perTurbine}") orElse
        failIf(!vs.forall(v => v > 4.0 && v < 13.0), s"implausible TIE: ${r.perTurbine}")
    }

    op(it, "wake.run", "wake_s") {
      new WakeLosses(plant, uq = w.uq, numSim = w.wakeSims, numYearsLt = w.ltYears).run()
    } { r =>
      failIf(math.abs(r.porLossPlant) >= 0.02, s"POR wake loss ${r.porLossPlant}, expected ~0") orElse
        failIf(!(math.abs(r.ltLossPlant) < 0.05), s"LT wake loss ${r.ltLossPlant}, expected ~0") orElse
        failIf(r.ltLossByTurbine.size != nTurbines, s"wake LT table has ${r.ltLossByTurbine.size} turbines")
    }

    op(it, "yaw.run", "yaw_s") {
      val yaw = new StaticYawMisalignment(plant, minVaneBinCount = 10, uq = w.uq, numSim = w.yawSims)
      yaw.overall(yaw.run())
    } { overall =>
      failIf(overall.keySet != yawTruth.keySet, s"yaw covers ${overall.keySet}") orElse
        yawTruth.collectFirst { case (t, off) if math.abs(overall(t) - off) >= 2.0 =>
          s"yaw of $t is ${overall(t)}, constructed $off" }
    }

    // EYA gap analysis: driver arithmetic over the other analyses' results
    if (aep.isEmpty || elec.isEmpty || tie.isEmpty) skip(it, "eya", "inputs failed")
    else op(it, "eya.run", "eya_s") {
      new EYAGapAnalysis(eyaAep = aep.get.aepMean * 1.03, eyaGross = tie.get.mean * 1.1,
        eyaAvailLoss = 0.03, eyaElecLoss = 0.02, eyaTurbineLoss = 0.03, eyaWakeLoss = 0.05,
        eyaBladeDegLoss = 0.01, oaAep = aep.get.aepMean, oaAvailLoss = aep.get.availPct.sum /
          aep.get.availPct.length, oaElecLoss = elec.get.mean, oaTurbineIdeal = tie.get.mean)
        .compile()
    } { gap =>
      failIf(gap.length != 5 || math.abs(gap.sum - aep.get.aepMean) > 1e-9 * aep.get.aepMean,
        s"EYA waterfall $gap does not reconcile to ${aep.get.aepMean}")
    }
  }

  private def newAep(p: PlantData): MonteCarloAEP =
    new MonteCarloAEP(p, timeResolution = "D", uq = w.uq, numSim = w.aepSims,
      windinessYears = w.ltYears)

  private def indexDir(step: String): String = work.resolve(s"index_$step").toString

  /** Build, insert, delete and search against the graph index, each step
    * writing the index to parquet and the next reading it back.
    */
  private def annOps(it: Iteration, a: AnnSpec): Unit = {
    val corpus = vectors(0, a.corpus)
    val c = a.corpus.toLong
    val indexedN = a.indexed
    val deleted = Gen.deletedIds(a, seed)
    val (beam, hops, entries) = KnnGraph.servingBudget(indexedN)
    val built = op(it, "ann.build", "ann_build_s") {
      val g = KnnGraph.nnDescent(corpus, "vec_id", "v", k = 16, iterations = 2,
        earlyStop = false, corpusCount = c)
      KnnGraph.graphIndex(g, corpus, "vec_id", "v", entries = entries, corpusCount = c)
        .write.mode("overwrite").parquet(indexDir("built"))
    } { _ =>
      val n = spark.read.parquet(indexDir("built")).count()
      failIf(n != c, s"built index has $n rows, expected $c")
    }
    val inserted = if (built.isEmpty) skip(it, "ann.insert", "build failed") else
      op(it, "ann.insert", "ann_insert_s") {
        KnnGraph.insertIncrementalIndexed(spark.read.parquet(indexDir("built")),
          vectors(a.corpus, indexedN), "vec_id", "v", k = 16, beam = beam, hops = hops,
          refineRounds = 3, validateIds = false, corpusCount = c)
          .write.mode("overwrite").parquet(indexDir("inserted"))
      } { _ =>
        val r = spark.read.parquet(indexDir("inserted"))
          .agg(count(lit(1)), sum(when(col("id") >= c, 1L).otherwise(0L))).head()
        failIf(r.getLong(0) != indexedN || r.getLong(1) != a.batch,
          s"inserted index has ${r.getLong(0)} rows (${r.getLong(1)} new), " +
            s"expected $indexedN (${a.batch} new)")
      }
    val removed = if (inserted.isEmpty) skip(it, "ann.delete", "insert failed") else
      op(it, "ann.delete", "ann_delete_s") {
        KnnGraph.removeIds(spark.read.parquet(indexDir("inserted")),
          spark.createDataFrame(deleted.map(Tuple1(_))).toDF("vec_id"), "vec_id",
          k = 16, healRounds = 1, corpusCount = indexedN)
          .write.mode("overwrite").parquet(indexDir("deleted"))
      } { _ =>
        val del = typedLit(deleted)
        val r = spark.read.parquet(indexDir("deleted")).agg(count(lit(1)),
          sum(when(array_contains(del, col("id")) ||
            exists(col("knn.nbr"), x => array_contains(del, x)) ||
            exists(col("bridges"), x => array_contains(del, x)), 1L).otherwise(0L))).head()
        failIf(r.getLong(1) > 0, s"${r.getLong(1)} index rows still reference deleted ids") orElse
          failIf(r.getLong(0) != indexedN - deleted.size, s"index has ${r.getLong(0)} rows after delete")
      }
    if (removed.isEmpty) skip(it, "ann.search", "delete failed") else
      op(it, "ann.search", "ann_search_s") {
        KnnGraph.searchGraphIndexed(spark.read.parquet(indexDir("deleted")),
          vectors(indexedN, a.total), "vec_id", "v", k = K, beam = beam, hops = hops)
          .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      } { hits =>
        val del = deleted.toSet
        val found = hits.groupBy(_._1).map { case (q, hs) => q -> hs.map(_._2).toSet }
        val recall = truth.map { case (q, t) =>
          (found.getOrElse(q, Set.empty[Long]) intersect t).size }.sum.toDouble /
          (truth.size * K)
        it.probes("ann.recall_at_5") = recall
        failIf(hits.exists(h => del(h._2)), "search returned a deleted id") orElse
          failIf(recall < RecallFloor, s"recall@$K $recall below floor $RecallFloor")
      }
  }

  /** Runs one operation: a throw or a failed check counts as failed and
    * leaves the time out. Returns the output when it passed.
    */
  private[perfbench] def op[T](it: Iteration, span: String, metric: String)(body: => T)
                   (check: T => Option[String]): Option[T] = {
    it.attempted += 1
    val outcome = try Right(tracer.span(span)(body)) catch { case e: Throwable => Left(e) }
    val c0 = System.nanoTime()
    val cpu0 = processCpuS()
    val verdict = outcome match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right((r, _)) =>
        try check(r) catch { case e: Throwable => Some(s"check threw ${e.getMessage}") }
    }
    it.checkS += (System.nanoTime() - c0) / 1e9
    it.checkCpuS += processCpuS() - cpu0
    outcome.foreach { case (_, secs) => System.err.println(f"[perfbench] $span%-12s $secs%8.3f s") }
    verdict match {
      case Some(why) =>
        it.failed += 1
        it.failures += s"$span: ${why.take(300)}"
        None
      case None =>
        val (r, secs) = outcome.toOption.get
        if (metric.nonEmpty) it.times(metric) = secs
        Some(r)
    }
  }

  private def skip(it: Iteration, span: String, why: String): Option[Nothing] = {
    it.attempted += 1
    it.failed += 1
    it.failures += s"$span: not run, $why"
    None
  }

  /** Per-layer probes of a plant workload, traced runs only, after the
    * passes: each operator helper the analyses are built from,
    * materialized on its own from a pinned input, the AEP stages of the
    * pass `it`, and the driver-side fits on arrays collected here.
    */
  def probe(it: Iteration, p: PlantData): Unit = {
    val nTurbines = w.plant.get.turbines
    def time(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body
      it.probes(name) = (System.nanoTime() - t0) / 1e9
    }
    def materialize(df: DataFrame): Unit = df.queryExecution.toRdd.count()
    val pins = mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { val d = df.localCheckpoint(true); pins += d; d }
    val rated = (1 to nTurbines).map(t => s"T$t" -> Gen.RatedPowerKw).toMap
    val turbines = rated.keys.toSeq.sorted

    time("plant.validate.s")(p.validate())
    val elec = new ElectricalLosses(p)
    time("op.elec_daily.s")(materialize(elec.scadaDaily))

    val tie = new TurbineLongTermGrossEnergy(p)
    time("op.tie_filter.s")(materialize(tie.filteredScada(rated, 0.85, 2.0)))
    val filtered = pin(tie.filteredScada(rated, 0.85, 2.0))
    time("op.tie_daily.s")(materialize(tie.dailyValid(filtered, 0.9)))
    val daily = pin(tie.dailyValid(filtered, 0.9))
    time("op.tie_impute.s")(materialize(tie.dailyImputed(daily, turbines)))

    val wake = new WakeLosses(p)
    val base = pin(p.scadaDf.select("time", "asset_id", "WTUR_W", "WMET_HorWdSpd",
      "WMET_HorWdDir").na.drop())
    time("op.wake_derate.s")(materialize(wake.withDerateFlag(base, rated, 4.5, 0.95, 7.0)))
    val kept = pin(wake.withDerateFlag(base, rated, 4.5, 0.95, 7.0)
      .filter(!col("derate_flag")).drop("derate_flag"))
    time("op.wake_ts_agg.s")(materialize(wake.timestampAggregate(kept, 90.0, nTurbines)))

    time("op.yaw_vane_bins.s")(materialize(new StaticYawMisalignment(p, minVaneBinCount = 10).vaneBins()))
    pins.foreach(_.unpersist(true))

    val aep = newAep(p)
    time("aep.aggregate.s")(aep.aggregate())
    time("aep.long_term_series.s")(aep.longTermSeries())
    it.times.get("aep_s").foreach { run =>
      it.probes("aep.mc_loop_s") = run - it.probes("aep.aggregate.s") - it.probes("aep.long_term_series.s")
    }
    FitInputs.collect(p, w).time(it.probes)
  }
}

object Bench {
  val K = 5
  val RecallFloor = 0.45

  /** CPU seconds of every thread of this process so far. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def failIf(cond: Boolean, why: => String): Option[String] =
    if (cond) Some(why) else None

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}

/** Driver-side arrays the fitting probes time, collected once per run:
  * the AEP daily regression sample and one turbine's daily power-model
  * sample.
  */
final class FitInputs(aepX: Array[Array[Double]], aepY: Array[Double],
                      tieX: Array[(Double, Double, Double)], tieY: Array[Double]) {
  /** Fits per probe: enough repetitions for each to take ~0.2 s. */
  private val reps = Map("ols" -> 50000, "gam" -> 2500, "tie_power_model" -> 2000, "tree" -> 12)

  def time(out: mutable.Map[String, Double]): Unit = {
    def run(name: String)(fit: => Any): Unit = {
      val n = reps(name)
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { fit; i += 1 }
      out(s"fit.$name.s") = (System.nanoTime() - t0) / 1e9
      out(s"fit.$name.count") = n
    }
    run("ols")(Fitting.olsFit(aepX, aepY))
    run("gam")(Fitting.gamFit(aepX, aepY))
    run("tie_power_model")(TurbineLongTermGrossEnergy.fitPowerModel(tieX, tieY))
    run("tree")(Trees.gbtFit(aepX, aepY, maxDepth = 3, rounds = 50))
  }
}

object FitInputs {
  def collect(p: PlantData, w: Workload): FitInputs = {
    val spec = w.plant.get
    val product = spec.productNames.head
    val agg = new MonteCarloAEP(p, timeResolution = "D", windinessYears = w.ltYears).aggregate()
    val tie = new TurbineLongTermGrossEnergy(p)
    val rated = (1 to spec.turbines).map(t => s"T$t" -> Gen.RatedPowerKw).toMap
    val rows = tie.dailyValid(tie.filteredScada(rated, 0.85, 2.0), 0.9)
      .filter(col("asset_id") === "T1")
      .join(tie.dailyReanalysis(product), Seq("day"))
      .select("ws", "wd", "rho", "energy_corrected").collect()
    new FitInputs(agg.map(r => Array(r.ws(product))).toArray, agg.map(_.energyGwh).toArray,
      rows.map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))), rows.map(_.getDouble(3)))
  }
}
