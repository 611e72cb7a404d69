package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL surface: registers every medallion model as a temp view under its
  * dbt name, so a user of the reference's BigQuery/dbt project can run
  * their SQL against this engine with `spark.sql(...)` — same model
  * names, same columns. The staging views read the run's materialized
  * staging rows (see [[OpenAqModels]]); querying any later view plans
  * the intermediate and mart chain over them through Catalyst.
  */
object OpenAqSql {

  def registerViews(m: OpenAqModels): Unit = {
    val views: Seq[(String, DataFrame)] = Seq(
      "stg_openaq__locations" -> m.stgLocations,
      "stg_openaq__sensors" -> m.stgSensors,
      "stg_openaq__measurements" -> m.stgMeasurements,
      "int_sensors_enriched" -> m.sensorsEnriched,
      "int_valid_measurements" -> m.validMeasurements,
      "dim_locations" -> m.dimLocations,
      "mart_location_air_quality" -> m.martAirQuality,
      "mart_location_weather" -> m.martWeather)
    views.foreach { case (name, df) => df.createOrReplaceTempView(name) }
  }

  /** Convenience: build models from bronze and register in one call. */
  def register(spark: SparkSession, rawLocations: DataFrame,
               rawMeasurements: DataFrame): OpenAqModels = {
    val m = OpenAqPipeline.models(rawLocations, rawMeasurements)
    registerViews(m)
    m
  }
}
