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

  test("refreshMart frees every block it stores") {
    // the fresh pivot is checkpointed once, read by the key collect and
    // by the write, and freed after the write
    val path = Files.createTempDirectory("graft_incr_release").toString +
      "/mart_location_weather"
    val old = meas((1L, "2026-01-01 05:10:00", 10.0), (1L, "2026-01-02 03:10:00", 20.0))
    OpenAqPipeline.writeMart(Gold.martWeather(old, sens), path)
    val all = old.union(meas((1L, "2026-01-02 07:10:00", 30.0)))
    val (stored, left) = org.apache.spark.sql.graft.TestBlocks.storedAndLeft(
      spark.sparkContext)(OpenAqPipeline.refreshMart(spark, all, sens,
        "weather_record_id", Gold.martWeather, path))
    assert(stored > 0, "the refresh stored no RDD blocks: the slice is no longer checkpointed")
    assert(left == 0, s"$left RDD blocks of the refresh remain")
    assert(spark.read.parquet(path).count() == 3L)
  }

  /** Jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.shims.waitForListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graft.shims.waitForListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("one refreshMart runs 8 jobs, the same count every time") {
    // boundary read (2), slice checkpoint with its J2 broadcast and
    // aggregate (3), key collect (1), mart read's footer (1), write (1)
    val old = meas((1L, "2026-01-01 05:10:00", 10.0), (1L, "2026-01-02 03:10:00", 20.0))
    val all = old.union(meas((1L, "2026-01-02 03:40:00", 22.0), (1L, "2026-01-02 07:10:00", 30.0)))
    val counts = (1 to 3).map { _ =>
      val path = Files.createTempDirectory("graft_incr_jobs").toString + "/mart_location_weather"
      OpenAqPipeline.writeMart(Gold.martWeather(old, sens), path)
      jobsOf(OpenAqPipeline.refreshMart(spark, all, sens, "weather_record_id",
        Gold.martWeather, path))
    }
    assert(counts == Seq(8, 8, 8), s"jobs per refresh: $counts")
  }

  test("refreshMart reads only the last day and the days it touches") {
    val tmp = Files.createTempDirectory("graft_incr_prune").toString
    val path = s"$tmp/mart_location_weather"
    val history = meas((1L, "2026-01-01 05:10:00", 10.0), (1L, "2026-01-02 05:10:00", 11.0),
      (1L, "2026-01-03 05:10:00", 12.0), (1L, "2026-01-04 03:10:00", 20.0))
    OpenAqPipeline.writeMart(Gold.martWeather(history, sens), path)
    // garbage in an untouched middle day: any whole-mart scan now fails.
    // Parquet schema inference reads the footer of the first data file
    // in path order, a day-1 file, so the mart still opens.
    val victim = Files.list(Path.of(path, "__day=2026-01-03")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).next()
    Files.write(victim, Array.fill[Byte](64)(7))
    intercept[Exception](spark.read.parquet(path).count())

    // boundary hour 03 of day 4 re-aggregates (20.0, 22.0 → 21.0); day 5 inserts
    val all = history.union(meas((1L, "2026-01-04 03:40:00", 22.0),
      (1L, "2026-01-05 07:10:00", 30.0)))
    OpenAqPipeline.refreshMart(spark, all, sens, "weather_record_id", Gold.martWeather, path)
    assert(Files.readAllBytes(victim).sameElements(Array.fill[Byte](64)(7)))
    val got = spark.read.parquet(path).filter($"__day" >= "2026-01-04")
      .select($"date_utc".cast("string"), $"hour_utc", $"temp_celsius")
      .as[(String, Int, Double)].collect().toSet
    assert(got == Set(("2026-01-04", 3, 21.0), ("2026-01-05", 7, 30.0)))
  }

  test("refreshMart ignores the null-day partition for the boundary and keeps rows no key matches") {
    import org.apache.spark.sql.functions.lit
    val tmp = Files.createTempDirectory("graft_incr_nullday").toString
    val path = s"$tmp/mart_location_weather"
    val old = meas((1L, "2026-01-01 05:10:00", 10.0), (1L, "2026-01-02 03:10:00", 20.0))
    val mart = Gold.martWeather(old, sens)
    // a null hour (null-day partition) and, on the touched day 2, a null key
    val orphans = mart.filter($"hour_utc" === 5)
      .withColumn("weather_record_id", lit("orphan"))
      .withColumn("measurement_hour_utc", lit(null).cast("timestamp"))
      .unionByName(mart.filter($"hour_utc" === 3)
        .withColumn("weather_record_id", lit(null).cast("string")))
    OpenAqPipeline.writeMart(mart.unionByName(orphans), path)
    val nullDay = fileHashes(path).filter(_._1.contains("__day=__HIVE_DEFAULT_PARTITION__"))
    assert(nullDay.nonEmpty)

    val all = old.union(meas((1L, "2026-01-02 03:40:00", 22.0), (1L, "2026-01-02 07:10:00", 30.0)))
    OpenAqPipeline.refreshMart(spark, all, sens, "weather_record_id", Gold.martWeather, path)
    val after = fileHashes(path)
    nullDay.foreach { case (f, h) => assert(after.get(f).contains(h), s"rewritten: $f") }
    val got = spark.read.parquet(path)
      .select($"weather_record_id", $"hour_utc", $"temp_celsius").collect()
      .map(r => (Option(r.getString(0)).fold("null key")(k => if (k == "orphan") k else "mart"),
        r.get(1), r.get(2))).toSet
    assert(got == Set(("orphan", 5, 10.0), ("null key", 3, 20.0),
      ("mart", 5, 10.0), ("mart", 3, 21.0), ("mart", 7, 30.0)))
  }

  test("refreshMart whose fresh rows all miss the sensor join writes nothing") {
    val tmp = Files.createTempDirectory("graft_incr_nomatch").toString
    val path = s"$tmp/mart_location_weather"
    OpenAqPipeline.writeMart(Gold.martWeather(
      meas((1L, "2026-01-01 05:10:00", 10.0), (1L, "2026-01-02 03:10:00", 20.0)), sens), path)
    def allFiles: Map[String, (String, Long)] = {
      val base = Path.of(path)
      Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val md = java.security.MessageDigest.getInstance("MD5")
        base.relativize(p).toString -> (md.digest(Files.readAllBytes(p))
          .map("%02x".format(_)).mkString, Files.getLastModifiedTime(p).toMillis)
      }.toMap
    }
    val before = allFiles
    // sensor 2 has no row in the sensor dimension: the slice is not
    // empty, but its pivot is
    OpenAqPipeline.refreshMart(spark,
      meas((2L, "2026-01-02 03:20:00", 5.0), (2L, "2026-01-03 01:00:00", 6.0)),
      sens, "weather_record_id", Gold.martWeather, path)
    assert(allFiles == before)
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
