package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.shims

import graft.operators.Merge

/** End-to-end orchestration of the medallion chain for one run
  * (SURVEY §3): lake NDJSON → bronze → silver (materialized once per
  * run) → lazy intermediate → materialized gold, with the reference's
  * count-gated stages (T7) and the disaster-recovery full-reload path
  * (§3.3).
  *
  * The three staging models are MATERIALIZED once per run (measured-stats
  * local checkpoints), unlike the reference's dbt views, which every mart
  * and every dbt test re-derives from bronze: the dim, both marts, the
  * refresh and every check read the same rows, and the latest-wins
  * winner is decided once. Intermediate and mart models stay lazy
  * DataFrames over those checkpoints.
  */
final case class OpenAqModels(
    stgLocations: DataFrame, stgSensors: DataFrame, stgMeasurements: DataFrame,
    sensorsEnriched: DataFrame, validMeasurements: DataFrame,
    dimLocations: DataFrame, martAirQuality: DataFrame, martWeather: DataFrame) {

  /** Free the storage blocks of the three staging checkpoints. A
    * long-lived session calls it after a run's last consumer; the models
    * are unusable afterwards. Without it `ContextCleaner` frees the blocks
    * once GC finds the models unreachable. Frames that are not
    * checkpoints (plan-only mode) are left alone.
    */
  def release(): Unit =
    Seq(stgLocations, stgSensors, stgMeasurements)
      .filter(_.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      .foreach(shims.unpersistLocalCheckpoint)
}

object OpenAqPipeline {

  /** Build every model from the two bronze inputs: the three staging
    * models are materialized here, each with one job (identity in
    * plan-only mode); everything downstream stays lazy.
    *
    * Reading the staging rows back from checkpoint blocks counts as task
    * input: the traced `pipebench` metric
    * `daily_increment.silver.rows_scanned_per_fresh_row` (input records
    * of the mart refreshes per loaded row) went from ~9 to ~21 with this
    * materialization. That is a change in what the metric counts, not
    * more work: the refreshes no longer parse bronze JSON at all.
    */
  def models(rawLocations: DataFrame, rawMeasurements: DataFrame): OpenAqModels = {
    val locs = shims.checkpointWithStats(Silver.stgLocations(rawLocations))
    val sens = shims.checkpointWithStats(Silver.stgSensors(rawLocations))
    val meas = shims.checkpointWithStats(Silver.stgMeasurements(rawMeasurements))
    val enriched = Gold.intSensorsEnriched(sens, locs)
    val valid = Gold.intValidMeasurements(meas)
    OpenAqModels(locs, sens, meas, enriched, valid,
      Gold.dimLocations(enriched),
      Gold.martAirQuality(valid, enriched),
      Gold.martWeather(valid, enriched))
  }

  /** Ingest one run's lake files into bronze (count-gated append, T7):
    * returns loaded row counts; zero-row inputs skip the write exactly
    * like the reference's branch operators (dags/01:104-119). Each input
    * is parsed once: the gate is a limit-1 `isEmpty` probe and the count
    * is observed during the write itself.
    */
  def ingest(spark: SparkSession, locationsGlob: String, measurementsGlob: String,
             bronzeDir: String): (Long, Long) = {
    def load(raw: DataFrame, path: String, clusterBy: Seq[String]): Long =
      if (raw.isEmpty) 0L
      else {
        val rows = Observation()
        Bronze.appendPartitioned(raw.observe(rows, count(lit(1)).as("rows")), path,
          clusterBy = clusterBy)
        rows.get("rows").asInstanceOf[Long]
      }
    val nLoc = load(Bronze.readNdjson(spark, Schemas.locationsEnvelope, locationsGlob),
      s"$bronzeDir/raw_locations", Nil)
    val nMeas = load(Bronze.readNdjson(spark, Schemas.measurementsEnvelope, measurementsGlob),
      s"$bronzeDir/raw_measurements", MeasurementsCluster)
    (nLoc, nMeas)
  }

  /** Raw-measurements clustering keys (reference dags/01:191 cluster_by). */
  private val MeasurementsCluster = Seq("_audit_sensor_id", "_audit_extracted_at")

  /** Transform: read bronze, materialize gold tables partitioned by day
    * (marts partition on the hour column's date like the reference's
    * day-granularity partition_by).
    */
  def transform(spark: SparkSession, bronzeDir: String, goldDir: String): OpenAqModels = {
    val m = models(
      spark.read.parquet(s"$bronzeDir/raw_locations"),
      spark.read.parquet(s"$bronzeDir/raw_measurements"))
    m.dimLocations.write.mode("overwrite").parquet(s"$goldDir/dim_locations")
    writeMart(m.martAirQuality, s"$goldDir/mart_location_air_quality")
    writeMart(m.martWeather, s"$goldDir/mart_location_weather")
    m
  }

  /** Full mart (re)write, day-partitioned. Marts cluster on
    * (country_code, location_id) within each day file
    * (mart_location_air_quality.sql:9 cluster_by) — BI reads filtered on
    * country/location then skip row groups instead of scanning the day.
    */
  def writeMart(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions.{col, to_date}
    df.withColumn("__day", to_date(col("measurement_hour_utc")))
      .sortWithinPartitions(col("__day"), col("country_code"), col("location_id"))
      .write.mode("overwrite").partitionBy("__day").parquet(path)
  }

  /** PARTITION-SCOPED incremental mart refresh (T2/F3/A6), the dbt
    * `incremental` model's MERGE on bare parquet. A full-table overwrite
    * per daily refresh rewrites the whole mart (years of days) to change
    * one boundary day; here only the partitions the fresh slice touches
    * are read, merged, and rewritten:
    *
    *  1. boundary = existing mart's max hour (`Gold.freshSlice`, F3
    *     semantics: boundary hour re-aggregates, strictly-late rows
    *     drop);
    *  2. the re-pivoted fresh slice determines the touched day set —
    *     for a daily T-1 run that is 1–2 partitions out of thousands;
    *  3. only those days of the existing mart enter the keyed upsert (a
    *     broadcast semi-join on the partition column — dynamic
    *     partition pruning keeps the scan to the touched directories);
    *  4. the merged slice replaces exactly those partitions
    *     (`Merge.overwriteDays`), leaving every other day's files
    *     untouched (asserted byte-identical in IncrementalWriteSpec).
    *
    * A replay with the same input re-merges the same slice to the same
    * mart (the upsert is idempotent).
    */
  def refreshMart(spark: SparkSession, validMeasurements: DataFrame,
                  sensorsEnriched: DataFrame, keyName: String,
                  pivot: (DataFrame, DataFrame) => DataFrame,
                  path: String): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, to_date}
    val existing = spark.read.parquet(path)
    val batch = pivot(Gold.freshSlice(existing, validMeasurements), sensorsEnriched)
      .withColumn("__day", to_date(col("measurement_hour_utc")))
    val touchedDays = batch.select(col("__day")).distinct()
    val touchedExisting =
      existing.join(broadcast(touchedDays), Seq("__day"), "left_semi")
    Merge.overwriteDays(Merge.upsert(touchedExisting, batch, Seq(keyName))
      .sortWithinPartitions(col("__day"), col("country_code"), col("location_id")), path)
  }

  /** Disaster recovery (dags/99): full-lake wildcard rescan, truncate
    * bronze, then a normal transform.
    */
  def recover(spark: SparkSession, lakeLocationsGlob: String, lakeMeasurementsGlob: String,
              bronzeDir: String, goldDir: String): OpenAqModels = {
    Bronze.overwritePartitioned(
      Bronze.readNdjson(spark, Schemas.locationsEnvelope, lakeLocationsGlob),
      s"$bronzeDir/raw_locations")
    Bronze.overwritePartitioned(
      Bronze.readNdjson(spark, Schemas.measurementsEnvelope, lakeMeasurementsGlob),
      s"$bronzeDir/raw_measurements", clusterBy = MeasurementsCluster)
    transform(spark, bronzeDir, goldDir)
  }
}
