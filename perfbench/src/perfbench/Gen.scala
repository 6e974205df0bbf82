package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Size of a synthetic plant. */
final case class PlantSpec(turbines: Int, days: Int, reanalysisYears: Int,
                           products: Int) {
  require(turbines >= 2 && days >= 1 && reanalysisYears >= 1 &&
    products >= 1 && products <= Gen.ProductNames.size)
  def productNames: Seq[String] = Gen.ProductNames.take(products)
  def scadaRows: Long = turbines.toLong * days * Gen.StepsPerDay
}

/** Size of a synthetic embedding set: `corpus` vectors the index is built
  * over, a held-out `batch` inserted afterwards, `deletes` corpus ids
  * removed, and `queries` fresh vectors searched at the end.
  */
final case class AnnSpec(corpus: Int, batch: Int = 25, deletes: Int = 50,
                         queries: Int = 100, dim: Int = 64) {
  require(corpus > deletes && batch >= 1 && queries >= 1 && dim >= 2)
  def total: Int = corpus + batch + queries
  /** Vectors in the index after the insert step. */
  def indexed: Long = (corpus + batch).toLong
}

/** Seeded generator of the benchmark inputs, built column-wise from
  * `spark.range` and written to parquet once per (spec, seed).
  *
  * The plant reproduces the physics of the test suite's `SyntheticPlant`
  * (diurnal + synoptic wind, cubic power curve to 2 MW rated, hourly
  * reanalysis carrying the same wind signal), with three closed-form
  * truths the output checks rely on:
  *  - the meter reads exactly `(1 - ElectricalLoss)` times the summed
  *    turbine energy at every step;
  *  - every turbine carries a static yaw offset of the same magnitude and
  *    a seeded sign; power responds as cos^4 of (vane - yaw) while the
  *    vane reading stays centred on zero, so the yaw analysis can recover
  *    the offset;
  *  - equal offset magnitudes give every turbine the same expected power,
  *    so wake losses are about zero and per-turbine long-term energies
  *    agree.
  *
  * The embeddings are clustered vectors on a low-dimensional latent
  * manifold plus isotropic noise, in one `vectors` table: ids
  * `[0, corpus)` form the corpus, the next `batch` ids the insert batch
  * and the last `queries` ids the query set.
  */
object Gen {
  val ProductNames: Seq[String] = Seq("era5", "merra2", "ncep2")
  val ElectricalLoss = 0.02
  val RatedPowerKw = 2000.0
  val FreqSeconds = 600L
  val StepsPerDay = 144
  val Clusters = 10
  val LatentDims = 4
  /** 2019-01-01T00:00:00Z, the first SCADA timestamp. */
  val T0EpochSec = 1546300800L

  /** Static yaw offset of each turbine, degrees: magnitude 3 to 5 and
    * sign both drawn from the seed.
    */
  def yawOffsets(spec: PlantSpec, seed: Long): Map[String, Double] = {
    val rng = new scala.util.Random(seed ^ 0x5DEECE66DL)
    val magnitude = 3.0 + rng.nextInt(3)
    (1 to spec.turbines).map { t =>
      s"T$t" -> (if (rng.nextBoolean()) magnitude else -magnitude)
    }.toMap
  }

  /** Corpus ids removed by the delete step, drawn from the seed. */
  def deletedIds(spec: AnnSpec, seed: Long): Seq[Long] =
    new scala.util.Random(seed).shuffle((0 until spec.corpus).toVector)
      .take(spec.deletes).map(_.toLong).sorted

  /** Uniform noise in [-1, 1) from a hash of (x, salt, seed). */
  private def noise(x: Column, salt: Int, seed: Long): Column =
    pmod(xxhash64(x, lit(salt), lit(seed)), lit(2000000L)).cast("double") / 1e6 - 1.0

  /** Standard normal from two hashes of (a, b) by Box-Muller. */
  private def gauss(a: Column, b: Column, salt: Int, seed: Long): Column = {
    def unit(s: Int) = (pmod(xxhash64(a, b, lit(s), lit(seed)), lit(1L << 30))
      .cast("double") + 1.0) / ((1L << 30).toDouble + 1.0)
    sqrt(lit(-2.0) * log(unit(salt))) * cos(lit(2 * math.Pi) * unit(salt + 1))
  }

  private def cycle(hours: Column, periodHours: Double): Column =
    sin(hours / periodHours * 2 * math.Pi)

  private def powerCurve(ws: Column): Column =
    when(ws < 3.0, 0.0)
      .when(ws < 12.0, pow((ws - 3.0) / 9.0, 3) * (RatedPowerKw * 0.9) + 50.0)
      .when(ws < 25.0, RatedPowerKw)
      .otherwise(0.0)

  def scada(spark: SparkSession, spec: PlantSpec, seed: Long): DataFrame = {
    val t = spec.turbines
    val yaw = yawOffsets(spec, seed)
    val yawArr = array((1 to t).map(i => lit(yaw(s"T$i"))): _*)
    val i = floor(col("id") / t).cast("long")
    val ti = pmod(col("id"), lit(t.toLong)).cast("int")
    val hours = col("i") / 6.0
    spark.range(spec.scadaRows)
      .select(col("id"), i.as("i"), ti.as("ti"))
      .withColumn("ws", greatest(lit(0.1),
        lit(8.0) + cycle(hours, 24) * 3.0 + cycle(hours, 120) * 2.0 +
          noise(col("i"), 1, seed) + noise(col("id"), 3, seed) * 0.2))
      .withColumn("vane", noise(col("id"), 4, seed) * 15.0)
      .withColumn("mod", pow(cos(radians(col("vane") - element_at(yawArr, col("ti") + 1))), 4))
      .select(
        timestamp_seconds(lit(T0EpochSec) + col("i") * FreqSeconds).as("time"),
        concat(lit("T"), (col("ti") + 1).cast("string")).as("asset_id"),
        (powerCurve(col("ws")) * col("mod")).as("WTUR_W"),
        col("ws").as("WMET_HorWdSpd"),
        pmod(lit(270.0) + cycle(hours, 48) * 60.0 + noise(col("i"), 2, seed) * 10.0,
          lit(360.0)).as("WMET_HorWdDir"),
        col("vane").as("WMET_HorWdDirRel"),
        lit(0.0).as("WROT_BlPthAngVal"),
        lit(10.0).as("WMET_EnvTmp"))
  }

  /** Plant meter: exactly (1 - loss) of the summed turbine energy. */
  def meter(scada: DataFrame): DataFrame =
    scada.groupBy("time")
      .agg((sum(col("WTUR_W")) * (FreqSeconds / 3600.0) * (1 - ElectricalLoss))
        .as("MMTR_SupWh"))

  def curtail(spark: SparkSession, spec: PlantSpec): DataFrame =
    spark.range(spec.days.toLong * StepsPerDay).select(
      timestamp_seconds(lit(T0EpochSec) + col("id") * FreqSeconds).as("time"),
      lit(0.0).as("IAVL_DnWh"), lit(0.0).as("IAVL_ExtPwrDnWh"))

  /** Turbines on a square grid, ~500 m apart. */
  def asset(spark: SparkSession, spec: PlantSpec): DataFrame = {
    val side = math.ceil(math.sqrt(spec.turbines.toDouble)).toLong
    spark.range(spec.turbines).select(
      concat(lit("T"), (col("id") + 1).cast("string")).as("asset_id"),
      (lit(47.0) + floor(col("id") / side) * 0.005).as("latitude"),
      (lit(-1.0) + pmod(col("id"), lit(side)) * 0.007).as("longitude"),
      lit(RatedPowerKw).as("rated_power"), lit(80.0).as("hub_height"),
      lit(92.0).as("rotor_diameter"), lit(411.0).as("elevation"),
      lit("turbine").as("type"))
  }

  /** Hourly reanalysis ending with the period of record; hour 0 is the
    * first SCADA timestamp, so both carry the same wind signal.
    */
  def reanalysis(spark: SparkSession, spec: PlantSpec, product: Int,
                 seed: Long): DataFrame = {
    val steps = spec.reanalysisYears.toLong * 365 * 24
    val offset = steps - spec.days.toLong * 24
    val hours = col("id") - offset
    val ws = lit(8.0) + cycle(hours, 24) * 3.0 + cycle(hours, 120) * 2.0 +
      noise(col("id"), 7 + 10 * product, seed) * 0.8
    val wd = radians(pmod(lit(270.0) + cycle(hours, 48) * 60.0, lit(360.0)))
    spark.range(steps).select(
      timestamp_seconds(lit(T0EpochSec) + hours * 3600L).as("time"),
      ws.as("WMETR_HorWdSpd"),
      (-ws * sin(wd)).as("WMETR_HorWdSpdU"),
      (-ws * cos(wd)).as("WMETR_HorWdSpdV"),
      (lit(288.15) + cycle(hours, 24) * 5.0).as("WMETR_EnvTmp"),
      (lit(1.225) + noise(col("id"), 8 + 10 * product, seed) * 0.01).as("WMETR_AirDen"),
      lit(101325.0).as("WMETR_EnvPres"))
  }

  /** Ids `[from, until)` as (vec_id, v array<double>). */
  def vectors(spark: SparkSession, spec: AnnSpec, from: Long, until: Long,
              seed: Long): DataFrame = {
    val label = pmod(xxhash64(col("id"), lit(11), lit(seed)), lit(Clusters.toLong))
    val latent = (0 until LatentDims).map(m => gauss(col("id"), lit(100 + m), 21, seed))
    val base = spark.range(from, until)
      .select((col("id") +: label.as("label") +: latent.zipWithIndex.map {
        case (z, m) => z.as(s"z$m") }): _*)
    val v = transform(sequence(lit(0), lit(spec.dim - 1)), j => {
      val manifold = (0 until LatentDims).map { m =>
        col(s"z$m") * gauss(col("label") * 16 + m, j, 31, seed)
      }.reduce(_ + _)
      gauss(col("label"), j, 41, seed) + manifold * 0.6 + gauss(col("id"), j, 51, seed) * 0.15
    })
    base.select(col("id").as("vec_id"), v.as("v"))
  }

  /** The workload's inputs under `root`, generated on first use. Returns
    * the directory holding them.
    */
  def ensure(spark: SparkSession, w: Workload, seed: Long, root: Path): Path = {
    val spec = (w.plant ++ w.ann).mkString("-")
    val dir = root.resolve(s"${w.name}-$spec-seed$seed".replaceAll("[^A-Za-z0-9_.=-]", "_"))
    if (!Files.exists(dir.resolve("_COMPLETE"))) {
      val tmp = root.resolve(dir.getFileName.toString + ".tmp")
      Files.createDirectories(root)
      deleteTree(tmp)
      val t0 = System.nanoTime()
      write(spark, w.plant, w.ann, seed, tmp)
      System.err.println(f"[perfbench] generated ${dir.getFileName} in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      deleteTree(dir)
      Files.move(tmp, dir)
      Files.createFile(dir.resolve("_COMPLETE"))
    }
    dir
  }

  /** Writes the plant's tables and the embedding set, whichever is given. */
  def write(spark: SparkSession, plant: Option[PlantSpec], ann: Option[AnnSpec], seed: Long,
            dir: Path): Unit = {
    def out(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(dir.resolve(name).toString)
    val plantTables: Seq[() => Unit] = plant.toSeq.flatMap { p =>
      Seq[() => Unit](
        () => {
          out(scada(spark, p, seed), "scada")
          out(meter(spark.read.parquet(dir.resolve("scada").toString)), "meter")
        },
        () => out(curtail(spark, p), "curtail"),
        () => out(asset(spark, p).coalesce(1), "asset")
      ) ++ p.productNames.zipWithIndex.map { case (name, k) =>
        () => out(reanalysis(spark, p, k, seed), s"reanalysis_$name")
      }
    }
    val annTables: Seq[() => Unit] =
      ann.toSeq.map(a => () => out(vectors(spark, a, 0, a.total.toLong, seed), "vectors"))
    // independent tables are written concurrently; each is a pure
    // function of (spec, seed), so the order does not change the bytes
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try (plantTables ++ annTables).map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      .foreach(_.get())
    finally pool.shutdownNow()
  }

  /** Order-independent content hash of every table under `dir`. */
  def contentHash(spark: SparkSession, dir: Path): String = {
    val tables = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).sorted
    tables.map { t =>
      val df = spark.read.parquet(dir.resolve(t).toString)
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(*))")).head()
      s"$t:${r.getLong(0)}:${r.getLong(1)}"
    }.mkString(";")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
