package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, JsonToStructs}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.Keys
import graft.operators.Dedup

/** JSON-semantics differential for the silver layer: the one-parse
  * `Silver` builders against [[SilverJsonSpec.PerPath]], the per-JSONPath
  * `get_json_object` spelling they replaced, row for row, over payload
  * edge cases. The divergences that do exist are pinned one by one
  * (SEMANTICS.md, "Known divergences").
  */
class SilverJsonSpec extends SparkSuite {
  import SilverJsonSpec.PerPath

  private def raw(payloads: Seq[String], sensorIds: Boolean): DataFrame = {
    // a distinct extract time per row: latest-wins never ties across rows
    val rows = payloads.zipWithIndex.map { case (p, i) =>
      (p, i.toLong + 1, java.sql.Timestamp.valueOf(f"2026-01-02 00:$i%02d:00"))
    }
    val df = spark.createDataFrame(rows).toDF("data", "_audit_sensor_id", "_audit_extracted_at")
      .withColumn("_audit_run_id", lit("run1"))
      .withColumn("_audit_logical_date", lit("2026-01-01").cast("date"))
    if (sensorIds) df else df.drop("_audit_sensor_id")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val (x, y) = (rows(a), rows(b))
    assert(x.nonEmpty, s"$what: no rows")
    assert(x == y, s"$what diverged:\n one parse: ${x.mkString("\n  ")}\n per path: ${y.mkString("\n  ")}")
  }

  /** One NDJSON-style line; `<U>` spells a JSON `\\u` escape. */
  private def unfold(s: String): String =
    s.stripMargin.replace("\n", "").replace("<U>", "\\u")

  private val locationPayloads = Seq(
    // numbers given as strings
    """{"id": "101", "name": "Alpha", "locality": "Albuquerque",
      | "country": {"code": "US", "name": "United States"},
      | "coordinates": {"latitude": "35.08", "longitude": "-106.65"},
      | "provider": {"name": "AirNow"}, "isMobile": "false", "isMonitor": "true",
      | "timezone": "America/Denver",
      | "sensors": [{"id": "7", "name": "pm25 µg/m³",
      |   "parameter": {"id": "2", "name": "pm25", "units": "µg/m³"}}]}""",
    // 1.50, 1e2 and -0.0
    """{"id": 102, "name": 1e2, "coordinates": {"latitude": 1.50, "longitude": -0.0},
      | "isMobile": 0, "sensors": [{"id": 1e2, "name": -0.0, "parameter": {"id": 1.50}}]}""",
    // JSON null next to an absent field (city absent, tz fallback)
    """{"id": 103, "locality": null, "timezone": "America/New_York",
      | "isMonitor": null, "country": {"code": null},
      | "sensors": [{"id": 8, "name": null, "parameter": {"id": 2}}]}""",
    // an object or array at a scalar path
    """{"id": 104, "name": {"a": 1,  "b" : [1, 2.50]}, "locality": [1, "x"],
      | "timezone": "Europe/Berlin", "isMobile": {"v": true},
      | "sensors": [{"id": {"n": 9}, "parameter": {"id": [2], "name": {"x": null}}}]}""",
    // a scalar at an object path
    """{"id": 105, "country": "US", "coordinates": 5, "provider": [1],
      | "sensors": [{"id": 10, "parameter": "pm25"}]}""",
    // sensors null / absent / an object / holding non-object elements
    """{"id": 106, "sensors": null}""",
    """{"id": 107, "name": "no sensors"}""",
    """{"id": 108, "sensors": {"id": 11, "parameter": {"id": 2}}}""",
    """{"id": 109, "sensors": [7, "x", null, [1], true,
      | {"id": 12, "parameter": {"id": 2, "name": "pm25", "units": "ppm"}}]}""",
    """{"id": 110, "sensors": []}""",
    // \u escapes and numbers beyond 2^63
    """{"id": 99999999999999999999, "name": "Caf<U>00e9 <U>2603 <U>D83D<U>DE00 \"q\" \\ \/",
      | "locality": "New York", "coordinates": {"latitude": 1e400,
      | "longitude": -92233720368547758080}, "timezone": "Asia\/Tokyo",
      | "sensors": [{"id": 18446744073709551616, "name": "<U>00b5g/m<U>00b3",
      |   "parameter": {"id": 9223372036854775807, "units": "<U>00B5"}}]}"""
  ).map(unfold)

  private val measurementPayloads = Seq(
    // numbers given as strings
    """{"parameter": {"id": "2"}, "value": "9.1",
      | "period": {"datetimeFrom": {"utc": "2026-01-01T05:00:00Z"},
      |   "datetimeTo": {"utc": "2026-01-01T06:00:00Z"}, "interval": "01:00:00"},
      | "flagInfo": {"hasFlags": "false"}}""",
    // 1.50, 1e2 and -0.0
    """{"parameter": {"id": 1e2}, "value": 1.50,
      | "period": {"datetimeFrom": {"utc": "2026-01-01T05:00:00Z"}, "interval": -0.0},
      | "flagInfo": {"hasFlags": false}}""",
    """{"parameter": {"id": 2}, "value": 1e2, "period": {"datetimeFrom": {"utc": "x"}}}""",
    """{"parameter": {"id": 2}, "value": -0.0}""",
    // JSON null next to an absent field
    """{"parameter": {"id": null}, "value": null,
      | "period": {"datetimeFrom": null, "interval": null}}""",
    // an object or array at a scalar path
    """{"parameter": {"id": {"v": 2}}, "value": [1, 2.50],
      | "period": {"interval": {"h": 1}}, "flagInfo": {"hasFlags": [true]}}""",
    // a scalar at an object path
    """{"parameter": 2, "value": 3.5, "period": "2026-01-01", "flagInfo": true}""",
    // \u escapes and numbers beyond 2^63
    """{"parameter": {"id": 99999999999999999999}, "value": 1e400,
      | "period": {"datetimeFrom": {"utc": "2026-01-01T05:00:00Z"},
      |   "interval": "<U>0030<U>0031:00"}, "flagInfo": {"hasFlags": "true"}}"""
  ).map(unfold)

  test("stg_locations and stg_sensors match the per-path spelling row for row") {
    val r = raw(locationPayloads, sensorIds = false)
    sameRows(Silver.stgLocations(r), PerPath.stgLocations(r), "stg_locations")
    sameRows(Silver.stgSensors(r), PerPath.stgSensors(r), "stg_sensors")
  }

  test("stg_measurements matches the per-path spelling row for row") {
    val r = raw(measurementPayloads, sensorIds = true)
    sameRows(Silver.stgMeasurements(r), PerPath.stgMeasurements(r), "stg_measurements")
  }

  test("each builder parses its payload once: one from_json, no get_json_object") {
    def parses(df: DataFrame): (Int, Int) = {
      val exprs = df.queryExecution.optimizedPlan.collect { case n => n.expressions }.flatten
      (exprs.flatMap(_.collect { case j: JsonToStructs => j }).size,
        exprs.flatMap(_.collect { case g: GetJsonObject => g }).size)
    }
    // bronze as parquet: over a local relation the optimizer folds the parse away
    def bronze(df: DataFrame): DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory("graft_silver_bronze").toString
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val loc = bronze(raw(locationPayloads, sensorIds = false))
    val meas = bronze(raw(measurementPayloads, sensorIds = true))
    assert(parses(Silver.stgLocations(loc)) == ((1, 0)))
    assert(parses(Silver.stgMeasurements(meas)) == ((1, 0)))
    // the location payload once per location, each element once per sensor
    assert(parses(Silver.stgSensors(loc)) == ((2, 0)))
  }

  test("pinned divergence: duplicate keys — one parse keeps the last, per path the first") {
    val r = raw(Seq("""{"id": 120, "name": "first", "name": "second"}"""), sensorIds = false)
    def name(df: DataFrame) = df.select("location_name").collect().map(_.getString(0)).toSeq
    assert(name(Silver.stgLocations(r)) == Seq("second"))
    assert(name(PerPath.stgLocations(r)) == Seq("first"))
    val m = raw(Seq("""{"parameter": {"id": 2}, "value": 1, "value": 2}"""), sensorIds = true)
    def value(df: DataFrame) = df.select("measurement_value").collect().map(_.getDouble(0)).toSeq
    assert(value(Silver.stgMeasurements(m)) == Seq(2.0))
    assert(value(PerPath.stgMeasurements(m)) == Seq(1.0))
  }

  test("pinned divergence: a sensors STRING holding JSON array text unnests only per path") {
    val r = raw(Seq("""{"id": 121, "sensors": "[{\"id\": 13}]"}"""), sensorIds = false)
    assert(Silver.stgSensors(r).count() == 0)
    assert(PerPath.stgSensors(r).select("sensor_id").collect().map(_.getLong(0)).toSeq == Seq(13L))
  }

  test("pinned divergence: a malformed number NULLs every path, but one parse keeps earlier fields") {
    // leading zero: not JSON; bronze already rejects such a line as corrupt
    val r = raw(Seq("""{"id": 122, "name": "kept", "coordinates": {"latitude": 00}}"""),
      sensorIds = false)
    def idName(df: DataFrame) = df.select("location_id", "location_name").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(idName(Silver.stgLocations(r)) == Seq((Some(122L), Some("kept"))))
    assert(idName(PerPath.stgLocations(r)) == Seq((None, None)))
    val lake = java.nio.file.Files.createTempFile("graft_malformed", ".ndjson")
    java.nio.file.Files.writeString(lake,
      """{"data": {"id": 122, "coordinates": {"latitude": 00}}, "_audit_run_id": "run1"}""" + "\n")
    assert(Bronze.readNdjson(spark, Schemas.locationsEnvelope, lake.toString).count() == 0)
  }
}

object SilverJsonSpec {

  /** The silver builders as they were before the one-parse rewrite: one
    * `get_json_object` per JSONPath, and per sensor a re-parse of the
    * element text and of the whole location payload. Kept as the
    * reference twin of the JSON semantics.
    */
  object PerPath {
    private def j(path: String): Column = get_json_object(col("data"), s"$$.$path")
    private def js(src: Column, path: String): Column = get_json_object(src, s"$$.$path")

    def stgLocations(rawLocations: DataFrame): DataFrame = {
      val extracted = rawLocations.select(
        Keys.surrogateKey(j("id"), col("_audit_logical_date")).as("record_id"),
        j("id").try_cast("bigint").as("location_id"),
        j("name").as("location_name"),
        coalesce(
          j("locality"), j("city"),
          regexp_replace(try_element_at(split(j("timezone"), "/"), lit(2)), "_", " "))
          .as("locality"),
        j("country.code").as("country_code"),
        j("country.name").as("country_name"),
        j("coordinates.latitude").try_cast("double").as("latitude"),
        j("coordinates.longitude").try_cast("double").as("longitude"),
        j("provider.name").as("provider_name"),
        j("isMobile").try_cast("boolean").as("is_mobile"),
        j("isMonitor").try_cast("boolean").as("is_monitor"),
        j("timezone").as("timezone"),
        col("_audit_run_id"),
        col("_audit_logical_date").cast("date").as("logical_date"),
        col("_audit_extracted_at").cast("timestamp").as("extracted_at"))
      Dedup.latestWins(extracted, Seq("record_id"), Seq(col("extracted_at")))
    }

    def stgSensors(rawLocations: DataFrame): DataFrame = {
      val exploded = rawLocations.select(
        col("data"), col("_audit_run_id"), col("_audit_logical_date"), col("_audit_extracted_at"),
        explode(from_json(j("sensors"), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType))).as("sensor"))
      val extracted = exploded.select(
        Keys.surrogateKey(js(col("sensor"), "id"), col("_audit_logical_date"))
          .as("sensor_record_id"),
        Keys.surrogateKey(js(col("sensor"), "id"), js(col("sensor"), "parameter.id"))
          .as("sensor_parameter_key"),
        j("id").try_cast("bigint").as("location_id"),
        js(col("sensor"), "id").try_cast("bigint").as("sensor_id"),
        js(col("sensor"), "name").as("sensor_name"),
        js(col("sensor"), "parameter.id").try_cast("bigint").as("parameter_id"),
        js(col("sensor"), "parameter.name").as("parameter_name"),
        js(col("sensor"), "parameter.units").as("unit"),
        col("_audit_run_id"),
        col("_audit_logical_date").cast("date").as("logical_date"),
        col("_audit_extracted_at").cast("timestamp").as("extracted_at"))
      Dedup.latestWins(extracted, Seq("sensor_record_id"), Seq(col("extracted_at")))
    }

    def stgMeasurements(rawMeasurements: DataFrame): DataFrame = {
      val extracted = rawMeasurements.select(
        Keys.surrogateKey(col("_audit_sensor_id"), j("parameter.id"),
          j("period.datetimeFrom.utc")).as("measurement_id"),
        Keys.surrogateKey(col("_audit_sensor_id"), j("parameter.id"))
          .as("sensor_parameter_key"),
        col("_audit_sensor_id").cast("bigint").as("sensor_id"),
        j("parameter.id").try_cast("bigint").as("parameter_id"),
        j("value").try_cast("double").as("measurement_value"),
        j("period.datetimeFrom.utc").try_cast("timestamp").as("measured_from_utc"),
        j("period.datetimeTo.utc").try_cast("timestamp").as("measured_to_utc"),
        j("period.interval").as("measurement_interval"),
        j("flagInfo.hasFlags").try_cast("boolean").as("has_flags"),
        col("_audit_run_id"),
        col("_audit_logical_date").cast("date").as("logical_date"),
        col("_audit_extracted_at").cast("timestamp").as("extracted_at"))
      Dedup.latestWins(extracted, Seq("measurement_id"), Seq(col("extracted_at")))
    }
  }
}
