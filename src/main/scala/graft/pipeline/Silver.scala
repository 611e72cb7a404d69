package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}

import graft.functions.Keys
import graft.operators.Dedup

/** Silver layer: typed projections of the bronze JSON payload — the three
  * stg_openaq__* models (reference models/staging SQL). Each builder is a
  * lazy DataFrame; `OpenAqPipeline.models` materializes the three once
  * per run for every consumer.
  *
  * The payload is parsed ONCE per row: one `from_json` into a declared
  * struct whose every leaf is a string, in its own projection, then one
  * `try_cast` per typed column. A string leaf holds the text
  * `get_json_object` returns for the same path, so unresolved paths and
  * malformed scalars still yield NULL, matching BigQuery JSON_VALUE/SAFE
  * semantics under Spark's ANSI mode (SilverJsonSpec pins this against
  * the per-path spelling; SEMANTICS.md lists the documented divergences).
  */
object Silver {

  private def obj(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })
  private val S = StringType

  /** One `sensors[]` element of a location payload. */
  private val SensorPayload = obj(
    "id" -> S, "name" -> S,
    "parameter" -> obj("id" -> S, "name" -> S, "units" -> S))

  /** raw_locations `data`. `sensors` stays an array of element TEXTS, so
    * a non-object element still yields its own all-NULL sensor row, as
    * the per-path spelling does; a typed array would NULL the whole
    * array on the first non-object element.
    */
  private val LocationPayload = obj(
    "id" -> S, "name" -> S, "locality" -> S, "city" -> S, "timezone" -> S,
    "country" -> obj("code" -> S, "name" -> S),
    "coordinates" -> obj("latitude" -> S, "longitude" -> S),
    "provider" -> obj("name" -> S),
    "isMobile" -> S, "isMonitor" -> S,
    "sensors" -> ArrayType(S))

  /** raw_measurements `data`. */
  private val MeasurementPayload = obj(
    "parameter" -> obj("id" -> S),
    "value" -> S,
    "period" -> obj(
      "datetimeFrom" -> obj("utc" -> S), "datetimeTo" -> obj("utc" -> S),
      "interval" -> S),
    "flagInfo" -> obj("hasFlags" -> S))

  /** A NON-EMPTY options map keeps the parse whole: with empty options
    * `OptimizeCsvJsonExprs` rewrites each `from_json(..).field` access
    * into a parse of its own, one per field.
    */
  private val ParseOptions = Map("mode" -> "PERMISSIVE")

  /** `src` parsed as `schema` into column `p`, next to `keep`, in a
    * projection of its own (the parse is referenced by many fields, so
    * `CollapseProject` does not inline it into each of them).
    */
  private def parsed(df: DataFrame, src: Column, schema: StructType,
                     keep: Seq[String]): DataFrame =
    df.select(keep.map(col) :+ from_json(src, schema, ParseOptions).as("p"): _*)

  private val Audit = Seq("_audit_run_id", "_audit_logical_date", "_audit_extracted_at")

  private def p(path: String): Column = col(s"p.$path")

  private def auditCols: Seq[Column] = Seq(
    col("_audit_run_id"),
    col("_audit_logical_date").cast("date").as("logical_date"),
    col("_audit_extracted_at").cast("timestamp").as("extracted_at"))

  /** stg_openaq__locations (stg_openaq__locations.sql:1-53). */
  def stgLocations(rawLocations: DataFrame): DataFrame = {
    val extracted = parsed(rawLocations, col("data"), LocationPayload, Audit).select(Seq(
      Keys.surrogateKey(p("id"), col("_audit_logical_date")).as("record_id"),
      p("id").try_cast("bigint").as("location_id"),
      p("name").as("location_name"),
      // 3-way locality fallback: locality → city → timezone city part
      // ('America/New_York' → 'New York'; no '/' → NULL via try_element_at)
      coalesce(
        p("locality"), p("city"),
        regexp_replace(try_element_at(split(p("timezone"), "/"), lit(2)), "_", " "))
        .as("locality"),
      p("country.code").as("country_code"),
      p("country.name").as("country_name"),
      p("coordinates.latitude").try_cast("double").as("latitude"),
      p("coordinates.longitude").try_cast("double").as("longitude"),
      p("provider.name").as("provider_name"),
      p("isMobile").try_cast("boolean").as("is_mobile"),
      p("isMonitor").try_cast("boolean").as("is_monitor"),
      p("timezone").as("timezone")) ++ auditCols: _*)
    Dedup.latestWins(extracted, Seq("record_id"), Seq(col("extracted_at")))
  }

  /** stg_openaq__sensors: UNNEST of the sensors JSON array, one row per
    * sensor snapshot (stg_openaq__sensors.sql:1-46). The location payload
    * is parsed once per location row, each sensor element once per
    * sensor.
    *
    * `explode` spelled as `posexplode_outer` + a filter on the position:
    * for a plain `explode` the optimizer infers a non-empty-array filter
    * and pushes it below the parse, inlining two more parses per row.
    */
  def stgSensors(rawLocations: DataFrame): DataFrame = {
    val exploded = parsed(rawLocations, col("data"), LocationPayload, Audit)
      .select(Audit.map(col) ++ Seq(p("id").as("location_id"),
        posexplode_outer(p("sensors")).as(Seq("pos", "sensor"))): _*)
      .filter(col("pos").isNotNull)
    val sensors = parsed(exploded, col("sensor"), SensorPayload, Audit :+ "location_id")
    val extracted = sensors.select(Seq(
      Keys.surrogateKey(p("id"), col("_audit_logical_date")).as("sensor_record_id"),
      Keys.surrogateKey(p("id"), p("parameter.id")).as("sensor_parameter_key"),
      col("location_id").try_cast("bigint").as("location_id"),
      p("id").try_cast("bigint").as("sensor_id"),
      p("name").as("sensor_name"),
      p("parameter.id").try_cast("bigint").as("parameter_id"),
      p("parameter.name").as("parameter_name"),
      p("parameter.units").as("unit")) ++ auditCols: _*)
    Dedup.latestWins(extracted, Seq("sensor_record_id"), Seq(col("extracted_at")))
  }

  /** stg_openaq__measurements (stg_openaq__measurements.sql:1-51). */
  def stgMeasurements(rawMeasurements: DataFrame): DataFrame = {
    val extracted = parsed(rawMeasurements, col("data"), MeasurementPayload,
      "_audit_sensor_id" +: Audit).select(Seq(
      Keys.surrogateKey(col("_audit_sensor_id"), p("parameter.id"),
        p("period.datetimeFrom.utc")).as("measurement_id"),
      Keys.surrogateKey(col("_audit_sensor_id"), p("parameter.id"))
        .as("sensor_parameter_key"),
      col("_audit_sensor_id").cast("bigint").as("sensor_id"),
      p("parameter.id").try_cast("bigint").as("parameter_id"),
      p("value").try_cast("double").as("measurement_value"),
      p("period.datetimeFrom.utc").try_cast("timestamp").as("measured_from_utc"),
      p("period.datetimeTo.utc").try_cast("timestamp").as("measured_to_utc"),
      p("period.interval").as("measurement_interval"),
      p("flagInfo.hasFlags").try_cast("boolean").as("has_flags")) ++ auditCols: _*)
    Dedup.latestWins(extracted, Seq("measurement_id"), Seq(col("extracted_at")))
  }
}
