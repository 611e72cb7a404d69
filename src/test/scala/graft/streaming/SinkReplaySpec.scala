package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

import graft.SparkSuite
import graft.ext.{Graph, Sketches}
import graft.pipeline.{Bronze, Gold, OpenAqPipeline, Schemas}

/** The replay guard of every sink that commits through
  * `AtomicSwap.swapFold` or `AtomicSwap.dayFold`: a second delivery of
  * an applied batchId runs no Spark job and leaves every file under the
  * sink's directory byte-identical. And the commit frees only the
  * checkpoints its fold took.
  */
class SinkReplaySpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def events: DataFrame = Seq(
      ("view", 1L, ts("2024-01-01 10:30:00"), 0.05),
      ("click", 2L, ts("2024-01-01 11:30:00"), 0.07))
    .toDF("event_type", "user_id", "ts", "value")

  private def openAqPartials: DataFrame = {
    val res = "src/test/resources/openaq"
    val m = OpenAqPipeline.models(
      Bronze.readNdjson(spark, Schemas.locationsEnvelope,
        s"$res/lake/locations_json/*/*/*/*.ndjson"),
      Bronze.readNdjson(spark, Schemas.measurementsEnvelope,
        s"$res/lake/measurements_json/*/*/*/*.ndjson"))
    Gold.martPartials(m.validMeasurements, m.sensorsEnriched, Gold.airQualityPivots)
  }

  private def asOfSplit(df: DataFrame): (DataFrame, DataFrame) = (
    df.filter(col("event_type") === "view").select("event_id", "user_id", "ts"),
    df.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
        col("value").as("click_value")))

  /** (sink, its sink given a work dir, a batch to deliver twice) */
  private val cases: Seq[(String, String => (DataFrame, Long) => Unit, () => DataFrame)] = Seq(
    ("mergeSink",
      w => StreamingHourly.mergeSink(s"$w/mart", Seq("k")) _,
      () => Seq((1L, "a"), (2L, "b")).toDF("k", "v")),
    ("algebraicMergeSink",
      w => StreamingOpenAq.algebraicMergeSink(s"$w/aq", Gold.airQualityPivots,
        "air_quality_record_id") _,
      () => openAqPartials),
    ("ivmSink",
      w => StreamingIvm.ivmSink(s"$w/mart") _,
      () => events.select("event_type", "ts", "value")),
    ("sketchSink",
      w => Sketches.sketchSink(s"$w/cells", "event_type", "user_id", "ts") _,
      () => events),
    ("componentsSink",
      w => Graph.componentsSink(s"$w/labels") _,
      () => Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("u", "v")),
    ("partitionedMergeSink",
      w => StreamingHourly.partitionedMergeSink(s"$w/mart", Seq("window_start", "key")) _,
      () => Seq((ts("2026-01-01 05:00:00"), "a", 1L), (ts("2026-01-02 06:00:00"), "b", 2L))
        .toDF("window_start", "key", "n")),
    ("asOfSinkPartitioned",
      w => StreamingAsOf.asOfSinkPartitioned(s"$w/mart", s"$w/clicks", asOfSplit,
        "event_id", Seq("user_id"), "ts", "ts", Seq("click_id", "click_value"),
        "click_id", Some(3600L * 1000000)) _,
      () => Seq((10L, 1L, ts("2024-01-01 10:00:00"), "click", 1.0),
          (1L, 1L, ts("2024-01-01 10:30:00"), "view", 0.0))
        .toDF("event_id", "user_id", "ts", "event_type", "value")))

  /** Every regular file under `dir` (hidden ones included) → its bytes. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    shims.waitForListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      shims.waitForListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  cases.foreach { case (name, sinkAt, batchOf) =>
    test(s"$name: a replayed batchId runs no Spark job and rewrites no file") {
      val work = Files.createTempDirectory(s"graft_replay_$name").toString
      val sink = sinkAt(work)
      val batch = batchOf()
      sink(batch, 0L)
      val applied = snapshot(work)
      assert(applied.keys.exists(_.endsWith("_applied_batch")), s"no marker in $applied")
      assert(jobsDuring(sink(batch, 0L)) == 0)
      assert(snapshot(work) == applied, "the replay changed the sink's files")
    }
  }

  test("a commit frees the checkpoints its fold took and keeps blocks persisted before it") {
    val sc = spark.sparkContext
    val work = Files.createTempDirectory("graft_replay_free").toString
    // a batch behind a checkpoint taken before the sinks run, like a
    // static dimension a fold joins: later batches still read it
    val batch = shims.checkpointWithStats(events.select("event_type", "ts", "value"))
    val before = sc.getPersistentRDDs.keySet
    // ivmSink's fold checkpoints the batch's partials; mergeSink commits
    // a frame over the batch itself
    StreamingIvm.ivmSink(s"$work/ivm")(batch, 0L)
    StreamingHourly.mergeSink(s"$work/merge", Seq("event_type"))(batch, 0L)
    assert(sc.getPersistentRDDs.keySet == before,
      "a fold's checkpoint outlived the commit, or an older block was freed")
    assert(batch.count() == 2)
  }
}
