package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.quality.Checks

/** End-to-end medallion parity over the OpenAQ-shaped fixtures
  * (src/test/resources/openaq, edge cases from FIXTURES.md §A4).
  */
class OpenAqPipelineSpec extends SparkSuite {
  import spark.implicits._

  private val res = "src/test/resources/openaq"
  private lazy val rawLoc = Bronze.readNdjson(spark, Schemas.locationsEnvelope,
    s"$res/lake/locations_json/*/*/*/locations_details_*_part*.ndjson")
  private lazy val rawMeas = Bronze.readNdjson(spark, Schemas.measurementsEnvelope,
    s"$res/lake/measurements_json/*/*/*/measurements_*_part*.ndjson")
  private lazy val m = OpenAqPipeline.models(rawLoc, rawMeas)

  private def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
    .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("bronze: permissive NDJSON drops blank + corrupt lines") {
    assert(rawMeas.count() == 17) // 14 run1 rows (corrupt+blank dropped) + 3 run2
    assert(rawLoc.count() == 7)   // 5 day1 (incl. stale dup) + 2 day2
  }

  test("stg_locations: latest-wins dedup, locality fallback chain, surrogate key parity") {
    val locs = m.stgLocations.collect().map(r =>
      (r.getAs[Long]("location_id"), r.getAs[java.sql.Date]("logical_date").toString) -> r).toMap
    assert(locs.size == 6)
    // latest extract wins over the stale "Alpha OLD"
    assert(locs((100L, "2026-01-01")).getAs[String]("location_name") == "Alpha Station")
    // locality: present → as-is; absent+no '/' in tz → NULL; JSON null + tz fallback
    assert(locs((100L, "2026-01-01")).getAs[String]("locality") == "Albuquerque")
    assert(locs((200L, "2026-01-01")).getAs[String]("locality") == null)
    assert(locs((300L, "2026-01-01")).getAs[String]("locality") == "New York")
    // dbt_utils surrogate key byte-parity
    assert(locs((100L, "2026-01-01")).getAs[String]("record_id") == md5hex("100-2026-01-01"))
  }

  test("stg_sensors: UNNEST of sensors array with per-snapshot grain") {
    assert(m.stgSensors.count() == 9) // 6 day1 + 3 day2 (dup extract deduped)
    val s1 = m.stgSensors.filter($"sensor_id" === 3917 && $"logical_date" === "2026-01-01")
      .collect().head
    assert(s1.getAs[Long]("parameter_id") == 2L)
    assert(s1.getAs[String]("sensor_parameter_key") == md5hex("3917-2"))
    assert(s1.getAs[Long]("location_id") == 100L)
  }

  test("stg_measurements: latest-wins kills the stale duplicate") {
    assert(m.stgMeasurements.count() == 16) // 17 bronze - 1 stale dup
    val v = m.stgMeasurements
      .filter($"sensor_id" === 3917 && $"measured_from_utc" === "2026-01-01 05:00:00")
      .select("measurement_value").as[Double].collect()
    assert(v.toSeq == Seq(9.1)) // not the stale 999.0
  }

  test("int_valid_measurements: per-parameter physical bounds exactly") {
    val vals = m.validMeasurements.select("measurement_value").as[Double].collect().toSet
    assert(m.validMeasurements.count() == 10)
    // kept: negative-but-valid temperature, wind 360 boundary
    assert(vals.contains(-15.55) && vals.contains(360.0))
    // dropped: flagged, neg pollutant, temp outside [-80,60], humidity>100, wind>360
    assert(!vals.exists(Set(7.7, -0.1, -81.0, 61.0, 101.0, 361.0)))
  }

  test("dim_locations: SCD-1 latest snapshot per location") {
    val dim = m.dimLocations.collect().map(r =>
      r.getAs[Long]("location_id") -> r.getAs[String]("location_name")).toMap
    assert(dim == Map(100L -> "Alpha Station", 200L -> "Beta Station",
      300L -> "Gamma", 400L -> "Delta v2")) // Delta v2 = day-2 snapshot wins
  }

  test("mart_location_air_quality: hourly pivot with J2 fan-out folded by AVG") {
    val aq = m.martAirQuality
    assert(aq.count() == 5)
    val alpha = aq.filter($"location_id" === 100).collect().head
    // values 9.1, 10.3, 11.5 duplicated across 2 sensor snapshots → avg still 10.3
    assert(alpha.getAs[Double]("pm25_ugm3") == 10.3)
    assert(alpha.getAs[Int]("year_utc") == 2026 && alpha.getAs[Int]("hour_utc") == 5)
    val gamma = aq.filter($"location_id" === 300 && $"hour_utc" === 5).collect().head
    assert(gamma.getAs[Double]("pm10_ugm3") == 20.25)
    // unknown sensor 9999 dropped by the inner join: nothing references it
    assert(aq.filter($"pm25_ugm3" === 5.0).count() == 0)
  }

  test("mart_location_weather: C→F conversion, 0-decimal wind rounding") {
    val w = m.martWeather
    val alpha = w.filter($"location_id" === 100).collect().head
    assert(alpha.getAs[Double]("temp_celsius") == -15.55)
    assert(alpha.getAs[Double]("temp_fahrenheit") == 4.01)
    val beta = w.filter($"location_id" === 200 && $"hour_utc" === 5).collect().head
    assert(beta.getAs[Double]("humidity_pct") == 55.5)
    assert(beta.getAs[Double]("wind_direction_deg") == 360.0)
  }

  test("mart rounding is binary half-up: negative half-values don't HALF_UP away") {
    // avg = -0.125 exactly (2^-3): plain round() renders the decimal
    // string and HALF_UPs to -0.13; the engine contract (roundBin,
    // §7.5.5) is floor(x·100 + 0.5)/100 = -0.12 in every engine.
    val sens = Seq((1L, 10L, "Loc", "US", 1.0, 2.0))
      .toDF("sensor_id", "location_id", "location_name", "country_code",
        "latitude", "longitude")
    val meas = Seq((1L, "2026-01-01 05:10:00", 100, -0.125))
      .toDF("sensor_id", "ts", "parameter_id", "measurement_value")
      .select($"sensor_id", $"ts".cast("timestamp").as("measured_from_utc"),
        $"parameter_id", $"measurement_value")
    val w = Gold.martWeather(meas, sens).collect().head
    assert(w.getAs[Double]("temp_celsius") == -0.12)
  }

  test("declarative check suite: all green except the planted RI violation") {
    val staging = Checks.run(OpenAqChecks.staging(m.stgLocations, m.stgSensors, m.stgMeasurements))
    val expect = staging.map { case (name, n) =>
      if (name == "stg_measurements.sensor_parameter_key.relationships") (name, 1L) // sensor 9999
      else (name, 0L)
    }
    assert(staging == expect)
    assert(Checks.run(OpenAqChecks.validRanges(m.validMeasurements)).forall(_._2 == 0L))
    assert(Checks.run(OpenAqChecks.marts(m.dimLocations, m.martAirQuality, m.martWeather))
      .forall(_._2 == 0L))
  }

  test("staging is materialized once: no downstream model re-parses bronze JSON") {
    import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, JsonToStructs}
    import org.apache.spark.sql.execution.LogicalRDD
    for (df <- Seq(m.stgLocations, m.stgSensors, m.stgMeasurements))
      assert(df.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    for (df <- Seq(m.sensorsEnriched, m.validMeasurements, m.dimLocations,
        m.martAirQuality, m.martWeather)) {
      val parses = df.queryExecution.optimizedPlan.collect { case n => n.expressions }
        .flatten.flatMap(_.collect { case j: JsonToStructs => j; case g: GetJsonObject => g })
      assert(parses.isEmpty, df.queryExecution.optimizedPlan.treeString)
    }
  }

  test("release frees the staging checkpoint blocks") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.graft.TestBlocks
    val run = OpenAqPipeline.models(rawLoc, rawMeas)
    val ids = Seq(run.stgLocations, run.stgSensors, run.stgMeasurements)
      .map(_.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id).toSet
    val sc = spark.sparkContext
    assert(TestBlocks.rddBlocks(sc, ids) > 0)
    run.release()
    assert(ids.forall(id => !sc.getPersistentRDDs.contains(id)))
    // block removal is asynchronous
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (TestBlocks.rddBlocks(sc, ids) > 0 && System.nanoTime < deadline) Thread.sleep(50)
    assert(TestBlocks.rddBlocks(sc, ids) == 0)
  }

  test("source freshness two-band check mirrors src_openaq.yml") {
    val maxTs = rawMeas.agg(max($"_audit_extracted_at")).collect().head.getTimestamp(0)
    def violations(hoursLater: Int): Long = Checks.run(OpenAqChecks.freshness(rawMeas,
      lit(new java.sql.Timestamp(maxTs.getTime + hoursLater * 3600000L)))).head._2
    assert(violations(10) == 0) // fresh
    assert(violations(30) == 1) // warn band
    assert(violations(50) == 1) // error band
  }

  test("incremental refresh: boundary re-aggregates, late rows drop, replay idempotent") {
    // existing mart = run-1 measurements only (max hour = 05:00)
    val path = Files.createTempDirectory("graft_refresh").toString + "/mart"
    val run1 = OpenAqPipeline.models(rawLoc,
      rawMeas.filter($"_audit_run_id" === "run1"))
    OpenAqPipeline.writeMart(run1.martAirQuality, path)
    def mart() = spark.read.parquet(path).drop("__day")
    assert(mart().filter($"location_id" === 100).collect().head
      .getAs[Double]("pm25_ugm3") == 9.7)
    def refresh(): Unit = OpenAqPipeline.refreshMart(spark, m.validMeasurements,
      m.sensorsEnriched, "air_quality_record_id", Gold.martAirQuality, path)

    refresh()
    val refreshed = mart()
    // boundary hour 05 re-aggregated with the run-2 value 11.5 → avg 10.3
    assert(refreshed.filter($"location_id" === 100 && $"hour_utc" === 5)
      .collect().head.getAs[Double]("pm25_ugm3") == 10.3)
    // new hour 08 inserted
    assert(refreshed.filter($"location_id" === 300 && $"hour_utc" === 8)
      .collect().head.getAs[Double]("pm10_ugm3") == 30.0)
    // late row (04:30 < boundary) silently dropped — reference T2 semantics
    assert(refreshed.filter($"hour_utc" === 4).count() == 0)
    assert(refreshed.count() == 4)
    // replay: refreshing again from the same input changes nothing
    val once = refreshed.drop("last_updated_utc").collect().toSet
    refresh()
    assert(mart().drop("last_updated_utc").collect().toSet == once)
  }

  test("control CSV: header + inferred schema + short-row null padding") {
    val csv = Bronze.readCsv(spark, s"$res/control/locations_run1.csv")
    assert(csv.count() == 2)
    val short = csv.filter($"id" === 400).collect().head
    assert(short.getAs[String]("name") == "Delta v1")
    assert(short.isNullAt(short.fieldIndex("_source_file")))
  }

  test("ingest → transform → recover round-trip on disk") {
    val tmp = Files.createTempDirectory("graft_e2e").toString
    val (nl, nm) = OpenAqPipeline.ingest(spark,
      s"$res/lake/locations_json/*/*/*/*.ndjson",
      s"$res/lake/measurements_json/*/*/*/*.ndjson", s"$tmp/bronze")
    assert(nl == 7 && nm == 17)
    val t = OpenAqPipeline.transform(spark, s"$tmp/bronze", s"$tmp/gold")
    assert(spark.read.parquet(s"$tmp/gold/mart_location_air_quality").count() == 5)
    // disaster recovery: full-lake truncate-reload reproduces the same gold
    val r = OpenAqPipeline.recover(spark,
      s"$res/lake/locations_json/*/*/*/*.ndjson",
      s"$res/lake/measurements_json/*/*/*/*.ndjson", s"$tmp/bronze2", s"$tmp/gold2")
    val a = spark.read.parquet(s"$tmp/gold/mart_location_air_quality")
      .drop("__day").collect().toSet
    val b = spark.read.parquet(s"$tmp/gold2/mart_location_air_quality")
      .drop("__day").collect().toSet
    assert(a == b)
  }
}
