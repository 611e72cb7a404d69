package graft.pipeline

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSuite

/** The 100×-scale write contract for incremental mart refresh: a daily
  * refresh must rewrite ONLY the day partitions the fresh slice touches
  * (dynamic partition overwrite), leaving every other day's files
  * byte-identical on disk — a full-table overwrite per refresh would
  * rewrite years of mart history to change one boundary day.
  */
class IncrementalWriteSpec extends SparkSuite {
  import spark.implicits._

  private val sens = Seq((1L, 10L, "Loc", "US", 1.0, 2.0))
    .toDF("sensor_id", "location_id", "location_name", "country_code",
      "latitude", "longitude")

  private def meas(rows: (Long, String, Double)*) = rows
    .toDF("sensor_id", "ts", "measurement_value")
    .select($"sensor_id", $"ts".cast("timestamp").as("measured_from_utc"),
      org.apache.spark.sql.functions.lit(100).as("parameter_id"),
      $"measurement_value")

  /** relative path → md5, for every data file under the mart dir */
  private def fileHashes(root: String): Map[String, String] = {
    val base = Path.of(root)
    Files.walk(base).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map { p =>
        val md = java.security.MessageDigest.getInstance("MD5")
        base.relativize(p).toString ->
          md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
      }.toMap
  }

  test("refreshMart rewrites only touched day partitions; untouched files byte-identical") {
    val tmp = Files.createTempDirectory("graft_incr").toString
    val path = s"$tmp/mart_location_weather"
    val day1 = meas((1L, "2026-01-01 05:10:00", 10.0), (1L, "2026-01-01 06:10:00", 12.0))
    val day2First = meas((1L, "2026-01-02 03:10:00", 20.0))
    OpenAqPipeline.writeMart(Gold.martWeather(day1.union(day2First), sens), path)
    val before = fileHashes(path)
    assert(before.keys.exists(_.contains("__day=2026-01-01")))
    assert(before.keys.exists(_.contains("__day=2026-01-02")))

    // fresh data: boundary hour 03 re-aggregates (20.0, 22.0 → 21.0),
    // new hour 07 inserts; day 1 is strictly before the boundary
    val all = day1.union(day2First)
      .union(meas((1L, "2026-01-02 03:40:00", 22.0), (1L, "2026-01-02 07:10:00", 30.0)))
    OpenAqPipeline.refreshMart(spark, all, sens, "weather_record_id",
      Gold.martWeather, path)
    val after = fileHashes(path)

    // day-1 partition: same files, same bytes — never entered the job
    val day1Files = before.filter(_._1.contains("__day=2026-01-01"))
    assert(day1Files.nonEmpty)
    day1Files.foreach { case (f, h) =>
      assert(after.get(f).contains(h), s"untouched partition file rewritten: $f")
    }

    // day-2 partition: replaced (new task files)
    assert(after.keys.filter(_.contains("__day=2026-01-02")).toSet !=
      before.keys.filter(_.contains("__day=2026-01-02")).toSet)

    // content equals a from-scratch rebuild of the full mart
    val got = spark.read.parquet(path)
      .drop("__day", "last_updated_utc").collect().toSet
    val want = Gold.martWeather(all, sens)
      .drop("last_updated_utc").collect().toSet
    assert(got == want)
    val hours = spark.read.parquet(path)
      .filter($"location_id" === 10L)
      .select($"hour_utc", $"temp_celsius").as[(Int, Double)].collect().toMap
    assert(hours(3) == 21.0 && hours(7) == 30.0 && hours(5) == 10.0)
  }

  test("refreshMart stores no RDD blocks") {
    // the dynamic overwrite commits the touched days only after every
    // task has read them, so the merged slice goes straight to the
    // writer: no checkpoint, no block storage
    val path = Files.createTempDirectory("graft_incr_release").toString +
      "/mart_location_weather"
    val old = meas((1L, "2026-01-01 05:10:00", 10.0), (1L, "2026-01-02 03:10:00", 20.0))
    OpenAqPipeline.writeMart(Gold.martWeather(old, sens), path)
    val all = old.union(meas((1L, "2026-01-02 07:10:00", 30.0)))
    val (stored, left) = org.apache.spark.sql.graft.TestBlocks.storedAndLeft(
      spark.sparkContext)(OpenAqPipeline.refreshMart(spark, all, sens,
        "weather_record_id", Gold.martWeather, path))
    assert(stored == 0, s"the refresh stored $stored RDD blocks")
    assert(left == 0, s"$left RDD blocks of the refresh remain")
    assert(spark.read.parquet(path).count() == 3L)
  }

  test("refreshMart with no fresh rows is a no-op on every partition") {
    val tmp = Files.createTempDirectory("graft_incr_noop").toString
    val path = s"$tmp/mart_location_weather"
    val day1 = meas((1L, "2026-01-01 05:10:00", 10.0))
    OpenAqPipeline.writeMart(Gold.martWeather(day1, sens), path)
    val before = fileHashes(path)
    // "fresh" input strictly older than the boundary → empty slice →
    // empty touched-day set → dynamic overwrite replaces nothing
    OpenAqPipeline.refreshMart(spark, meas((1L, "2026-01-01 01:00:00", 5.0)),
      sens, "weather_record_id", Gold.martWeather, path)
    val after = fileHashes(path)
    before.foreach { case (f, h) => assert(after.get(f).contains(h), s"rewritten: $f") }
  }
}
