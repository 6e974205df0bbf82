package graft.plant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.ListenerBus

import graft.SparkSpec
import graft.analysis.SyntheticPlant
import graft.schema.AnalysisRequirements

/** `Validator.validate` infers the SCADA frequency once per validation,
  * however many listed analysis types need it, and checks the required
  * reanalysis columns of every product, naming the product that lacks one.
  */
class ValidatorSpec extends SparkSpec {

  private lazy val plant = SyntheticPlant.build(spark, days = 10, reanalysisYears = 1)

  private def reload(types: Seq[String],
                     reanalysis: Map[String, DataFrame] = plant.reanalysis): PlantData =
    PlantData.load(scada = plant.scada, meter = plant.meter, curtail = plant.curtail,
      asset = plant.asset, reanalysis = reanalysis, metadata = plant.metadata,
      analysisTypes = types)

  test("loading with every analysis type runs no more Spark jobs than loading with one") {
    val all = AnalysisRequirements.requirements.keys.toSeq.sorted
    assert(all.size == 5)
    reload(all)
    val one = ListenerBus.countJobs(spark.sparkContext)(reload(Seq("StaticYawMisalignment")))
    val five = ListenerBus.countJobs(spark.sparkContext)(reload(all))
    assert(one > 0, "the SCADA frequency inference runs no job")
    assert(five <= one, s"$five jobs with all five types, $one with one")
  }

  test("a reanalysis product other than the first that lacks a required column is rejected") {
    val era5 = plant.reanalysis("era5")
    // without the pressure, the density cannot be derived at load either
    val noDensity = era5.drop("WMETR_AirDen", "WMETR_EnvPres")
    val e = intercept[IllegalArgumentException](
      reload(Seq("MonteCarloAEP"), Map("era5" -> era5, "merra2" -> noDensity)))
    assert(e.getMessage.contains("'merra2'") && e.getMessage.contains("'WMETR_AirDen'"),
      e.getMessage)
    assert(!e.getMessage.contains("'era5'"), e.getMessage)
    reload(Seq("MonteCarloAEP"), Map("era5" -> era5, "merra2" -> era5))
  }
}
