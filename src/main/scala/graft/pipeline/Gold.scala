package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Keys, Numeric}
import graft.operators.Dedup

/** Intermediate + gold models: enrichment join, physical-range gate,
  * SCD-1 dimension, and the two wide hourly mart pivots with
  * incremental-merge semantics (`OpenAqPipeline.refreshMart`; reference
  * models/intermediate SQL, models/marts SQL).
  *
  * Scale design: locations is the small dimension → broadcast into J1 so
  * the sensor stream never shuffles; the mart aggregation is one hash
  * shuffle on the 6-column group key with full map-side partial
  * aggregation; marts are written day-partitioned on the hour column
  * (reference partition_by) so the incremental boundary prunes partitions.
  */
object Gold {

  /** int_sensors_enriched: LEFT join sensors × locations ON
    * (location_id, logical_date) — temporal snapshot alignment (J1).
    */
  def intSensorsEnriched(sensors: DataFrame, locations: DataFrame): DataFrame =
    sensors.as("s").join(
        broadcast(locations.as("l")),
        Seq("location_id", "logical_date"), "left")
      .select(
        col("s.sensor_record_id"), col("s.sensor_id"), col("s.parameter_id"),
        col("s.parameter_name"), col("s.unit"), col("logical_date"),
        col("location_id"), col("l.location_name"), col("l.country_code"),
        col("l.country_name"), col("l.latitude"), col("l.longitude"))

  /** int_valid_measurements: flag gate + per-parameter physical bounds
    * (F1, int_valid_measurements.sql:14-36). Bounds replicated exactly:
    * temperature(100) ∈ [-80,60], wind-dir(22) ∈ [0,360],
    * humidity(98) ∈ [0,100], everything else ≥ 0.
    */
  def intValidMeasurements(stgMeasurements: DataFrame): DataFrame =
    stgMeasurements.filter(
      col("has_flags") === false &&
        when(col("parameter_id") === 100, col("measurement_value").between(-80, 60))
          .when(col("parameter_id") === 22, col("measurement_value").between(0, 360))
          .when(col("parameter_id") === 98, col("measurement_value").between(0, 100))
          .otherwise(col("measurement_value") >= 0))

  /** dim_locations: SCD-1 latest snapshot per location (W2,
    * dim_locations.sql:15-32).
    */
  def dimLocations(sensorsEnriched: DataFrame): DataFrame =
    Dedup.latestWins(
      sensorsEnriched.filter(col("location_id").isNotNull),
      Seq("location_id"), Seq(col("logical_date")))
      .select(col("location_id"), col("location_name"), col("country_code"),
        col("country_name"), col("latitude"), col("longitude"))
      .withColumn("last_updated_utc", current_timestamp())

  /** The marts' shared denormalization: measurements × sensors_enriched
    * ON sensor_id ONLY (J2) — the reference's deliberate grain fan-out
    * (a measurement matches every snapshot day of its sensor; the
    * downstream AVG folds the duplication). Replicated faithfully, not
    * "fixed" (SURVEY §7.5.2).
    */
  def martJoined(validMeasurements: DataFrame, sensorsEnriched: DataFrame): DataFrame =
    validMeasurements.as("m")
      .join(sensorsEnriched.as("s"), Seq("sensor_id"), "inner")
      .select(
        col("s.location_id"), col("s.location_name"), col("s.country_code"),
        col("s.latitude"), col("s.longitude"),
        date_trunc("hour", col("m.measured_from_utc")).as("measurement_hour_utc"),
        col("m.parameter_id"), col("m.measurement_value"))

  private[graft] val martGroup = Seq("location_id", "location_name", "country_code",
    "latitude", "longitude", "measurement_hour_utc")

  /** One conditional-AVG pivot column of a mart (parameter filter, output
    * name, rounding scale, optional unit conversion). Shared between the
    * batch pivots and the streaming algebraic partials so both paths
    * aggregate the same expressions.
    */
  case class PivotCol(paramId: Int, name: String, scale: Int = 2,
                      valueExpr: Column => Column = identity) {
    def value: Column = when(col("parameter_id") === paramId, valueExpr(col("measurement_value")))
  }

  /** mart_location_air_quality.sql:51-96 pivot columns. */
  val airQualityPivots: Seq[PivotCol] = Seq(
    PivotCol(1, "pm10_ugm3"), PivotCol(2, "pm25_ugm3"), PivotCol(19, "pm1_ugm3"),
    PivotCol(125, "um003_particles_cm3"),
    PivotCol(3, "o3_ugm3"), PivotCol(4, "co_ugm3"), PivotCol(102, "co_ppb"),
    PivotCol(5, "no2_ugm3"), PivotCol(15, "no2_ppb"), PivotCol(6, "so2_ugm3"),
    PivotCol(101, "so2_ppb"), PivotCol(23, "nox_ppb"), PivotCol(24, "no_ppb"),
    PivotCol(19843, "no_ugm3"))

  /** mart_location_weather.sql:50-88 pivot columns. */
  val weatherPivots: Seq[PivotCol] = Seq(
    PivotCol(100, "temp_celsius"),
    PivotCol(100, "temp_fahrenheit", valueExpr = v => v * lit(9) / lit(5) + lit(32)),
    PivotCol(98, "humidity_pct"),
    PivotCol(34, "wind_speed_ms"),
    PivotCol(22, "wind_direction_deg", scale = 0))

  /** Mart pivot rounding goes through [[Numeric.roundBin]], not Spark
    * `round()`: round() renders the double to decimal and HALF_UPs the
    * string, so a negative half-value (temperature -0.125 → -0.13) can
    * disagree with engines that round the binary value — the SURVEY
    * §7.5.5 parity hazard. roundBin (floor(x·10^s + 0.5)/10^s) is the
    * same exact IEEE ops in every engine and in the oracle twins.
    */
  private def pAvg(p: PivotCol): Column =
    Numeric.roundBin(avg(p.value), p.scale).as(p.name)

  private def calendarCols: Seq[Column] = Seq(
    to_date(col("measurement_hour_utc")).as("date_utc"),
    year(col("measurement_hour_utc")).as("year_utc"),
    month(col("measurement_hour_utc")).as("month_utc"),
    dayofmonth(col("measurement_hour_utc")).as("day_utc"),
    hour(col("measurement_hour_utc")).as("hour_utc"))

  private def withMartKey(df: DataFrame, keyName: String): DataFrame =
    df.select(
      Keys.surrogateKey(col("location_id"), Keys.tsKeyPart(col("measurement_hour_utc")))
        .as(keyName) +:
      (martGroup.map(col) ++ calendarCols ++
        df.columns.filterNot(c => martGroup.contains(c)).map(col)): _*)

  /** One hourly mart: the J2 denormalization, one AVG column per pivot
    * over the mart group, then the record key and calendar columns.
    */
  private def mart(validMeasurements: DataFrame, sensorsEnriched: DataFrame,
                   pivotCols: Seq[PivotCol], keyName: String): DataFrame = {
    val pivots = pivotCols.map(pAvg)
    val agg = martJoined(validMeasurements, sensorsEnriched)
      .groupBy(martGroup.map(col): _*).agg(pivots.head, pivots.tail: _*)
    withMartKey(agg, keyName)
  }

  /** mart_location_air_quality: 14 conditional-AVG pivot columns
    * (mart_location_air_quality.sql:51-96).
    */
  def martAirQuality(validMeasurements: DataFrame, sensorsEnriched: DataFrame): DataFrame =
    mart(validMeasurements, sensorsEnriched, airQualityPivots, "air_quality_record_id")

  /** mart_location_weather: 5 pivot columns incl. Fahrenheit conversion
    * and 0-decimal wind direction (mart_location_weather.sql:50-88).
    */
  def martWeather(validMeasurements: DataFrame, sensorsEnriched: DataFrame): DataFrame =
    mart(validMeasurements, sensorsEnriched, weatherPivots, "weather_record_id")

  /** Streaming-algebraic mart building blocks. A micro-batch sink that
    * re-pivots only its own rows and MERGEs by key silently replaces an
    * hour's average with the last batch's PARTIAL average whenever the
    * hour spans micro-batches. The fix: aggregate to (sum, count)
    * partials, carry them in the mart, and re-combine on merge —
    * avg = Σsum / Σcnt is exact under any batch split (algebraic
    * re-aggregation).
    */
  def martPartials(validMeasurements: DataFrame, sensorsEnriched: DataFrame,
                   pivots: Seq[PivotCol]): DataFrame = {
    val aggs = pivots.flatMap(p => Seq(
      sum(p.value).as(s"${p.name}__sum"), count(p.value).as(s"${p.name}__cnt")))
    martJoined(validMeasurements, sensorsEnriched)
      .groupBy(martGroup.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Combine partial rows for the same group key (across micro-batches):
    * sums and counts both add.
    */
  def combinePartials(partials: DataFrame): DataFrame = {
    val partialCols = partials.columns.filterNot(martGroup.contains)
    val aggs = partialCols.map(c => sum(col(c)).as(c)).toSeq
    partials.groupBy(martGroup.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Display view of a partials mart: the AVG pivot columns derived from
    * the carried sums/counts (the same sum/count division Spark's Average
    * performs), keyed + calendar'd like the batch mart. The partial
    * columns stay in the output so the NEXT merge can re-combine; when a
    * group has no values for a parameter its sum is NULL and the display
    * column is NULL — identical to the batch pivot's null-skipping AVG.
    */
  def finalizeMart(partials: DataFrame, pivots: Seq[PivotCol], keyName: String): DataFrame = {
    val display = pivots.map(p =>
      Numeric.roundBin(col(s"${p.name}__sum") / col(s"${p.name}__cnt"), p.scale).as(p.name))
    withMartKey(partials.select(partials.columns.toSeq.map(col) ++ display: _*), keyName)
  }
}
