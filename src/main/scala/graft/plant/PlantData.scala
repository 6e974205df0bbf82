package graft.plant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Met
import graft.schema.{AnalysisRequirements, PlantSchemas}

/** The validated multi-table plant workspace — Spark re-expression of the
  * reference's `PlantData` container (openoa/plant.py:339-464).
  *
  * Buckets are lazy DataFrames with canonical column names; `reanalysis` is a
  * map of product name -> DataFrame. Construction derives missing physics
  * columns, computes per-row energy, and runs declarative validation — all
  * without materializing fact-grain data on the driver (validation needs one
  * aggregate pass per bucket, not a collect).
  */
final case class PlantData(
    scada: Option[DataFrame] = None,
    meter: Option[DataFrame] = None,
    tower: Option[DataFrame] = None,
    status: Option[DataFrame] = None,
    curtail: Option[DataFrame] = None,
    asset: Option[DataFrame] = None,
    reanalysis: Map[String, DataFrame] = Map.empty,
    metadata: PlantMetadata = PlantMetadata(),
    analysisTypes: Seq[String] = Seq.empty,
) {
  def scadaDf: DataFrame = scada.getOrElse(sys.error("scada bucket not loaded"))
  def meterDf: DataFrame = meter.getOrElse(sys.error("meter bucket not loaded"))
  def curtailDf: DataFrame = curtail.getOrElse(sys.error("curtail bucket not loaded"))
  def assetDf: DataFrame = asset.getOrElse(sys.error("asset bucket not loaded"))

  /** Turbine ids, sorted; read from the asset table once per plant. */
  lazy val turbineIds: Seq[String] =
    assetDf.filter(col("type") === "turbine" || col("type").isNull)
      .select("asset_id").collect().map(_.getString(0)).toSeq.sorted

  /** Rated power per asset, kW; read from the asset table once per plant. */
  lazy val ratedPower: Map[String, Double] =
    assetDf.select("asset_id", "rated_power").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** All-pairs asset distance table (long form, plant.py:1229-1258):
    * haversine meters between asset lat/lons. Tiny dim cross join.
    */
  def assetDistances: DataFrame = {
    val a = assetDf.select(col("asset_id").as("asset_a"),
      col("latitude").as("lat_a"), col("longitude").as("lon_a"))
    val b = assetDf.select(col("asset_id").as("asset_b"),
      col("latitude").as("lat_b"), col("longitude").as("lon_b"))
    a.crossJoin(broadcast(b)).filter(col("asset_a") =!= col("asset_b"))
      .withColumn("distance_m", PlantData.haversineMeters(
        col("lat_a"), col("lon_a"), col("lat_b"), col("lon_b")))
      .withColumn("bearing_deg", PlantData.initialBearing(
        col("lat_a"), col("lon_a"), col("lat_b"), col("lon_b")))
  }

  def validate(): Seq[String] = Validator.validate(this)
}

/** Plant-level metadata: frequencies per bucket + capacity (plant.py:415). */
final case class PlantMetadata(
    scadaFreqSeconds: Long = 600L,
    meterFreqSeconds: Long = 600L,
    curtailFreqSeconds: Long = 600L,
    reanalysisFreqSeconds: Long = 3600L,
    capacityKw: Double = 0.0)

object PlantData {

  /** Great-circle distance in meters (replaces the reference's UTM shapely
    * points, plant.py:1064-1117 — a pure column expression keeps it
    * distributed and dependency-free).
    */
  def haversineMeters(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) + cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(6371000.0) * lit(2.0) * atan2(sqrt(a), sqrt(lit(1.0) - a))
  }

  /** Initial great-circle bearing, degrees [0, 360). */
  def initialBearing(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLon = radians(lon2 - lon1)
    val y = sin(dLon) * cos(radians(lat2))
    val x = cos(radians(lat1)) * sin(radians(lat2)) -
      sin(radians(lat1)) * cos(radians(lat2)) * cos(dLon)
    Met.wrap360(degrees(atan2(y, x)))
  }

  /** Derive reanalysis physics columns when absent (plant.py:1028-1062):
    * ws from u/v, wd from u/v, air density from T/p.
    */
  def deriveReanalysisColumns(df: DataFrame): DataFrame = {
    val cols = df.columns.toSet
    var out = df
    if (!cols("WMETR_HorWdSpd") && cols("WMETR_HorWdSpdU") && cols("WMETR_HorWdSpdV"))
      out = out.withColumn("WMETR_HorWdSpd",
        Met.windSpeed(col("WMETR_HorWdSpdU"), col("WMETR_HorWdSpdV")))
    if (!cols("WMETR_HorWdDir") && cols("WMETR_HorWdSpdU") && cols("WMETR_HorWdSpdV"))
      out = out.withColumn("WMETR_HorWdDir",
        Met.windDirection(col("WMETR_HorWdSpdU"), col("WMETR_HorWdSpdV")))
    if (!cols("WMETR_AirDen") && cols("WMETR_EnvTmp") && cols("WMETR_EnvPres"))
      out = out.withColumn("WMETR_AirDen",
        Met.airDensity(col("WMETR_EnvTmp"), col("WMETR_EnvPres")))
    out
  }

  /** Per-row turbine energy: power (kW) x period (h) (plant.py:1157-1162). */
  def withTurbineEnergy(scada: DataFrame, freqSeconds: Long): DataFrame =
    scada.withColumn("WTUR_SupWh", col("WTUR_W") * lit(freqSeconds / 3600.0))

  /** Build + derive + validate. Fails fast with the accumulated error list
    * (mirrors plant.py:449-477 __attrs_post_init__).
    */
  def load(scada: Option[DataFrame] = None, meter: Option[DataFrame] = None,
           tower: Option[DataFrame] = None, status: Option[DataFrame] = None,
           curtail: Option[DataFrame] = None, asset: Option[DataFrame] = None,
           reanalysis: Map[String, DataFrame] = Map.empty,
           metadata: PlantMetadata = PlantMetadata(),
           analysisTypes: Seq[String] = Seq.empty): PlantData = {
    val withEnergy = scada.map { s =>
      if (s.columns.contains("WTUR_SupWh")) s
      else if (s.columns.contains("WTUR_W")) withTurbineEnergy(s, metadata.scadaFreqSeconds)
      else s
    }
    val pd = PlantData(withEnergy, meter, tower, status, curtail, asset,
      reanalysis.map { case (k, v) => k -> deriveReanalysisColumns(v) },
      metadata, analysisTypes)
    val errors = pd.validate()
    if (errors.nonEmpty)
      throw new IllegalArgumentException(
        s"PlantData validation failed:\n${errors.mkString("\n")}")
    pd
  }
}

/** Declarative validation against ANALYSIS_REQUIREMENTS (plant.py:37-145,
  * schema/metadata.py:44-179): column presence, dtype, and frequency checks,
  * accumulated into one error list. The reanalysis columns are checked in
  * every product, and the SCADA frequency is inferred at most once per
  * validation, however many listed analysis types check it.
  */
object Validator {
  import graft.operators.Timeseries

  def validate(pd: PlantData): Seq[String] = {
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    lazy val scadaFreqSeconds: Long = Timeseries.inferFrequencySeconds(
        pd.scadaDf.select("time", "asset_id"), "time", Seq("asset_id"))
      .agg(max("freq_seconds")).head().getLong(0)
    for (at <- pd.analysisTypes; req <- AnalysisRequirements.requirements.get(at)) {
      for ((bucket, cols) <- req.columns) {
        // (label, frame) of each table the bucket names
        val tables: Seq[(String, DataFrame)] = bucket match {
          case "scada" => pd.scada.map(bucket -> _).toSeq
          case "meter" => pd.meter.map(bucket -> _).toSeq
          case "curtail" => pd.curtail.map(bucket -> _).toSeq
          case "asset" => pd.asset.map(bucket -> _).toSeq
          case "reanalysis" =>
            pd.reanalysis.toSeq.sortBy(_._1).map { case (p, df) => s"reanalysis product '$p'" -> df }
          case _ => Nil
        }
        if (tables.isEmpty) errors += s"[$at] bucket '$bucket' missing"
        for ((label, df) <- tables) {
          val have = df.columns.toSet
          cols.filterNot(have).foreach(c => errors += s"[$at] $label missing column '$c'")
        }
      }
      // frequency check: inferred sampling interval must be one of the
      // acceptable frequencies or finer (plant.py:148-191)
      val acceptable = req.frequency.flatMap(AnalysisRequirements.freqSeconds.get)
      if (acceptable.nonEmpty && req.columns.contains("scada") && pd.scada.isDefined &&
          scadaFreqSeconds > acceptable.max)
        errors += s"[$at] scada frequency ${scadaFreqSeconds}s coarser than required ${acceptable.max}s"
    }
    errors.toSeq
  }
}
