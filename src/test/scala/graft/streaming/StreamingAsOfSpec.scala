package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSuite, SparkEntry, Tables}
import graft.operators.AsOf

class StreamingAsOfSpec extends SparkSuite {

  test("drained streaming as-of equals the batch native as-of row-for-row") {
    val drained = SparkEntry.queries("t11_streaming_asof")(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val batch = SparkEntry.queries("x_asof_native")(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(drained == batch && drained.nonEmpty)
  }

  test("partitioned sink requires a UTC session timezone") {
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      import spark.implicits._
      val work = java.nio.file.Files.createTempDirectory("graft_asof_tz").toString
      val batch = Seq((1L, 1L, new java.sql.Timestamp(0L), "view", 0.0))
        .toDF("event_id", "user_id", "ts", "event_type", "value")
      val e = intercept[IllegalArgumentException] {
        StreamingAsOf.asOfSinkPartitioned(s"$work/m", s"$work/r",
          df => (df.filter(col("event_type") === "view")
                   .select("event_id", "user_id", "ts"),
                 df.filter(col("event_type") === "click")
                   .select(col("event_id").as("click_id"), col("user_id"),
                     col("ts"), col("value").as("click_value"))),
          "event_id", Seq("user_id"), "ts", "ts",
          Seq("click_id", "click_value"), "click_id", None)(batch, 0L)
      }
      assert(e.getMessage.contains("timeZone"))
    }
  }

  test("late rights re-open already-matched lefts; argmax merge is split-invariant") {
    import spark.implicits._
    // views v1@100, v2@250; clicks c10@50, c20@240, c30@260 — drained as
    // three hand-ordered "batches" through the sink directly, with the
    // LATE click c20 arriving after both views were already matched to
    // c10: the B path must upgrade v2 (240 ≤ 250) but NOT v1 (240 > 100)
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val work = java.nio.file.Files.createTempDirectory("graft_asof_spec").toString
    val mart = s"$work/mart"; val rstore = s"$work/clicks"
    def split(df: org.apache.spark.sql.DataFrame) = (
      df.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts"),
      df.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value").as("click_value")))
    val sink = StreamingAsOf.asOfSinkPartitioned(mart, rstore, split, "event_id",
      Seq("user_id"), "ts", "ts", Seq("click_id", "click_value"),
      "click_id", toleranceUs = Some(1000000L)) _
    def batchDf(rows: (Long, Long, Long, String, Double)*) =
      rows.toSeq.map { case (e, u, t, ty, v) => (e, u, ts(t * 1000), ty, v) }
        .toDF("event_id", "user_id", "ts", "event_type", "value")
    sink(batchDf((10L, 1L, 50L, "click", 1.0), (1L, 1L, 100L, "view", 0.0)), 0L)
    sink(batchDf((2L, 1L, 250L, "view", 0.0)), 1L)           // matches c10 for now
    sink(batchDf((20L, 1L, 240L, "click", 2.0),              // late: upgrades v2 only
                 (30L, 1L, 260L, "click", 3.0)), 2L)         // after both views: matches nothing
    val got = StreamingAsOf.readMart(spark, mart, "ts",
        Seq("click_id", "click_value"), Some(1000000L))
      .select("event_id", "click_id", "click_value", "asof_lag_us")
      .as[(Long, Option[Long], Option[Double], Option[Long])]
      .collect().toSet
    assert(got == Set(
      (1L, Some(10L), Some(1.0), Some(50000L)),   // v1 keeps c10
      (2L, Some(20L), Some(2.0), Some(10000L))),  // v2 upgraded c10 -> c20
      s"got $got")
    // replay of an applied batch is skipped (marker guard): mart unchanged
    sink(batchDf((40L, 1L, 255L, "click", 9.0)), 2L)
    val again = StreamingAsOf.readMart(spark, mart, "ts",
        Seq("click_id", "click_value"), Some(1000000L))
      .select("event_id", "click_id").as[(Long, Option[Long])].collect().toSet
    assert(again == Set((1L, Some(10L)), (2L, Some(20L))))
  }

  test("partitioned sink: same late-right semantics, replay converges") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val work = java.nio.file.Files.createTempDirectory("graft_asof_part").toString
    def split(df: org.apache.spark.sql.DataFrame) = (
      df.filter(col("event_type") === "view").select("event_id", "user_id", "ts"),
      df.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value").as("click_value")))
    val sink = StreamingAsOf.asOfSinkPartitioned(s"$work/m", s"$work/r", split,
      "event_id", Seq("user_id"), "ts", "ts", Seq("click_id", "click_value"),
      "click_id", toleranceUs = Some(1000000L)) _
    def batchDf(rows: (Long, Long, Long, String, Double)*) =
      rows.toSeq.map { case (e, u, t, ty, v) => (e, u, ts(t * 1000), ty, v) }
        .toDF("event_id", "user_id", "ts", "event_type", "value")
    // all rows share one __day partition (µs-epoch timestamps), so the
    // late click's rewrite covers both users' rows in that partition —
    // user 1 upgrades, user 2 must pass through the merge unchanged
    sink(batchDf((10L, 1L, 50L, "click", 1.0), (1L, 1L, 100L, "view", 0.0),
                 (11L, 2L, 60L, "click", 5.0), (2L, 2L, 90L, "view", 0.0)), 0L)
    sink(batchDf((3L, 1L, 250L, "view", 0.0)), 1L)
    sink(batchDf((20L, 1L, 240L, "click", 2.0)), 2L)
    def probe() = StreamingAsOf.readMart(spark, s"$work/m", "ts",
        Seq("click_id", "click_value"), Some(1000000L))
      .select("event_id", "click_id").as[(Long, Option[Long])].collect().toSet
    val want = Set((1L, Some(10L)), (2L, Some(11L)), (3L, Some(20L)))
    assert(probe() == want, s"got ${probe()}")
    // replay of the last batch (marker removed = the crash-mid-write
    // case): the fold re-converges to the same mart
    val fs = new org.apache.hadoop.fs.Path(s"$work/m")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$work/m/_applied_batch"), false)
    sink(batchDf((20L, 1L, 240L, "click", 2.0)), 2L)
    assert(probe() == want)
  }

  test("one batch merged into an existing mart runs 17 jobs: no copy of the merge before the overwrite") {
    // Merge.overwriteDays replaces the touched days only at job commit,
    // after every task has read them, so the merged days go straight to
    // the writer; checkpointing them first would add a job per batch (18)
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val work = java.nio.file.Files.createTempDirectory("graft_asof_jobs").toString
    def split(df: org.apache.spark.sql.DataFrame) = (
      df.filter(col("event_type") === "view").select("event_id", "user_id", "ts"),
      df.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value").as("click_value")))
    val sink = StreamingAsOf.asOfSinkPartitioned(s"$work/m", s"$work/r", split,
      "event_id", Seq("user_id"), "ts", "ts", Seq("click_id", "click_value"),
      "click_id", toleranceUs = Some(1000000L)) _
    def batchDf(rows: (Long, Long, Long, String, Double)*) =
      rows.toSeq.map { case (e, u, t, ty, v) => (e, u, ts(t * 1000), ty, v) }
        .toDF("event_id", "user_id", "ts", "event_type", "value")
    sink(batchDf((10L, 1L, 50L, "click", 1.0), (1L, 1L, 100L, "view", 0.0)), 0L)
    // a late click (upgrades v1) and a new view in one batch
    val next = batchDf((20L, 1L, 90L, "click", 2.0), (2L, 1L, 250L, "view", 0.0))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.shims.waitForListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      sink(next, 1L)
      org.apache.spark.sql.graft.shims.waitForListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 17, s"${jobs.get} jobs for one merged batch")
    val got = StreamingAsOf.readMart(spark, s"$work/m", "ts",
        Seq("click_id", "click_value"), Some(1000000L))
      .select("event_id", "click_id").as[(Long, Option[Long])].collect().toSet
    assert(got == Set((1L, Some(20L)), (2L, Some(20L))), s"got $got")
  }

  test("partitioned sink: late-right upgrade is JVM-default-timezone independent") {
    // r10 ADVICE (high): the touched-days computation used java.sql.Date,
    // which Spark converts to DateType through the JVM DEFAULT timezone,
    // while the mart's __day values come from to_date(leftTime) under the
    // UTC-pinned SESSION timezone. Under a negative-offset default every
    // rights-window day shifted one EARLIER, the touched semi-join missed
    // the partitions holding affected rows, and late rights silently never
    // upgraded standing mart rows. Re-run the late-right scenario with the
    // default pinned to UTC-8: the timezone-free LocalDate fix must still
    // upgrade (the old code loses the v2 upgrade here).
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val prevTz = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/Los_Angeles"))
    try {
      val work = java.nio.file.Files.createTempDirectory("graft_asof_tz").toString
      def split(df: org.apache.spark.sql.DataFrame) = (
        df.filter(col("event_type") === "view").select("event_id", "user_id", "ts"),
        df.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
            col("value").as("click_value")))
      val sink = StreamingAsOf.asOfSinkPartitioned(s"$work/m", s"$work/r", split,
        "event_id", Seq("user_id"), "ts", "ts", Seq("click_id", "click_value"),
        "click_id", toleranceUs = Some(1000000L)) _
      def batchDf(rows: (Long, Long, Long, String, Double)*) =
        rows.toSeq.map { case (e, u, t, ty, v) => (e, u, ts(t * 1000), ty, v) }
          .toDF("event_id", "user_id", "ts", "event_type", "value")
      sink(batchDf((10L, 1L, 50L, "click", 1.0), (1L, 1L, 100L, "view", 0.0)), 0L)
      sink(batchDf((2L, 1L, 250L, "view", 0.0)), 1L)
      sink(batchDf((20L, 1L, 240L, "click", 2.0)), 2L) // late: upgrades v2
      val got = StreamingAsOf.readMart(spark, s"$work/m", "ts",
          Seq("click_id", "click_value"), Some(1000000L))
        .select("event_id", "click_id").as[(Long, Option[Long])].collect().toSet
      assert(got == Set((1L, Some(10L)), (2L, Some(20L))), s"got $got")
    } finally java.util.TimeZone.setDefault(prevTz)
  }

  test("NULL-safe time bounds: all-NULL-time deltas neither throw nor corrupt the mart") {
    // r10 ADVICE (low): min/max over a non-empty delta whose times are
    // ALL NULL returns NULL — the statsRowCount guard only covers the
    // zero-row case, and getLong(0) then NPE'd. NULL-time rights match
    // nothing; NULL-time lefts keep a NULL match.
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val work = java.nio.file.Files.createTempDirectory("graft_asof_null").toString
    def split(df: org.apache.spark.sql.DataFrame) = (
      df.filter(col("event_type") === "view").select("event_id", "user_id", "ts"),
      df.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value").as("click_value")))
    val sink = StreamingAsOf.asOfSinkPartitioned(s"$work/m", s"$work/r", split,
      "event_id", Seq("user_id"), "ts", "ts",
      Seq("click_id", "click_value"), "click_id", Some(1000000L)) _
    def batchDf(rows: (Long, Long, Option[Long], String, Double)*) =
      rows.toSeq.map { case (e, u, t, ty, v) => (e, u, t.map(x => ts(x * 1000)), ty, v) }
        .toDF("event_id", "user_id", "ts", "event_type", "value")
    sink(batchDf((10L, 1L, Some(50L), "click", 1.0),
                 (1L, 1L, Some(100L), "view", 0.0)), 0L)
    // batch 1: ONLY a NULL-time click (B-side bounds min = NULL)
    sink(batchDf((20L, 1L, None, "click", 2.0)), 1L)
    // batch 2: ONLY a NULL-time view (A-side prune min = NULL)
    sink(batchDf((2L, 1L, None, "view", 0.0)), 2L)
    val got = StreamingAsOf.readMart(spark, s"$work/m", "ts",
        Seq("click_id", "click_value"), Some(1000000L))
      .select("event_id", "click_id").as[(Long, Option[Long])].collect().toSet
    assert(got == Set((1L, Some(10L)), (2L, None)), s"got $got")
  }

  test("tolerance nulling at read: raw best kept, farther-than-tolerance shows NULL") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val work = java.nio.file.Files.createTempDirectory("graft_asof_tol").toString
    def split(df: org.apache.spark.sql.DataFrame) = (
      df.filter(col("event_type") === "view").select("event_id", "user_id", "ts"),
      df.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value").as("click_value")))
    val sink = StreamingAsOf.asOfSinkPartitioned(s"$work/m", s"$work/r", split,
      "event_id", Seq("user_id"), "ts", "ts", Seq("click_id", "click_value"),
      "click_id", toleranceUs = Some(100L)) _
    sink(Seq((10L, 1L, ts(1000L), "click", 1.0), (1L, 1L, ts(5000L), "view", 0.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value"), 0L)
    val row = StreamingAsOf.readMart(spark, s"$work/m", "ts",
        Seq("click_id", "click_value"), Some(100L))
      .select("event_id", "click_id", "asof_lag_us")
      .as[(Long, Option[Long], Option[Long])].collect().toSeq
    assert(row == Seq((1L, None, None))) // 4 ms lag > 100 µs tolerance
  }
}
