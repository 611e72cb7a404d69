package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}
import graft.operators.IncrementalAgg

/** The stateless-streaming-aggregation contract: the merged mart equals
  * the batch GROUP BY for any micro-batch split, and a replayed batch
  * is a no-op (the AtomicSwap marker, not algebra luck).
  */
class StreamingIvmSpec extends SparkSuite {

  private def batchTruth = IncrementalAgg.partials(
    Tables.events(spark, sfDir).select(col("event_type"),
      date_trunc("hour", col("ts")).as("hr"),
      floor(col("value") * 100).cast("long").as("v")),
    Seq("event_type", "hr"), "v")
    .collect().map(_.toSeq).toSet

  test("single-batch drain equals the batch aggregate") {
    val mart = StreamingIvm.availableNowIvmMart(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(mart == batchTruth)
    assert(mart.nonEmpty)
  }

  test("micro-batch split does not change the mart (merge algebra, not state)") {
    // split events into 3 part files → 3 real micro-batches at
    // maxFilesPerTrigger=1; each batch merges into the standing mart
    val work = java.nio.file.Files.createTempDirectory("ivm_split").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet").repartition(3)
      .write.mode("overwrite").parquet(s"$work/events.parquet")
    val split = StreamingIvm.availableNowIvmMart(spark, work,
        maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq).toSet
    assert(split == batchTruth)
  }

  test("a replayed batchId is skipped — cnt/sum do not double") {
    import spark.implicits._
    val mart = java.nio.file.Files.createTempDirectory("ivm_replay")
      .toString + "/mart"
    val batch = Seq(("a", 5L), ("a", 7L), ("b", 1L))
      .toDF("event_type", "v")
      .select(col("event_type"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:30:00")).as("ts"),
        (col("v").cast("double") / 100.0).as("value"))
    StreamingIvm.ivmSink(mart)(batch, 0L)
    val once = spark.read.parquet(mart).collect().map(_.toSeq).toSet
    StreamingIvm.ivmSink(mart)(batch, 0L) // replay: same batchId
    val twice = spark.read.parquet(mart).collect().map(_.toSeq).toSet
    assert(once == twice)
    StreamingIvm.ivmSink(mart)(batch, 1L) // a real new batch DOES merge
    val merged = spark.read.parquet(mart)
      .filter(col("event_type") === "a").collect()
    assert(merged.head.getLong(2) == 4L) // cnt doubled by the new batch
  }

  test("the replay guard is scoped to the stream lineage: a fresh stream's batch 0 merges") {
    import spark.implicits._
    val mart = java.nio.file.Files.createTempDirectory("ivm_lineage")
      .toString + "/mart"
    val batch = Seq(("a", 5L)).toDF("event_type", "v")
      .select(col("event_type"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:30:00")).as("ts"),
        (col("v").cast("double") / 100.0).as("value"))
    // Spark's StreamExecution stamps the owning query id on the batch
    // thread; simulate two distinct streams the same way
    val sc = spark.sparkContext
    def withLineage[A](id: String)(f: => A): A = {
      sc.setLocalProperty("sql.streaming.queryId", id)
      try f finally sc.setLocalProperty("sql.streaming.queryId", null)
    }
    withLineage("stream-1") {
      StreamingIvm.ivmSink(mart)(batch, 0L)
      StreamingIvm.ivmSink(mart)(batch, 1L)
      StreamingIvm.ivmSink(mart)(batch, 1L) // same-lineage replay: skipped
    }
    assert(spark.read.parquet(mart).collect().head.getLong(2) == 2L)
    // a NEW stream (fresh checkpoint dir → new queryId) restarts batchIds
    // at 0; its batches must MERGE, not be skipped against the old marker
    withLineage("stream-2") { StreamingIvm.ivmSink(mart)(batch, 0L) }
    assert(spark.read.parquet(mart).collect().head.getLong(2) == 3L,
      "a new lineage's batch 0 must merge into the existing mart")
  }

  test("one batch merged into an existing mart runs 7 jobs: no copy of the merge before the swap") {
    // AtomicSwap.commit writes the staging dir in full before renaming,
    // so the merge may read the mart it replaces straight into the
    // write; checkpointing the merged mart first would add a job per
    // batch (8) and hold a copy of the mart in block storage
    import spark.implicits._
    val mart = java.nio.file.Files.createTempDirectory("ivm_jobs")
      .toString + "/mart"
    def batch(v: Long) = Seq(("a", v), ("b", v + 1)).toDF("event_type", "v")
      .select(col("event_type"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:30:00")).as("ts"),
        (col("v").cast("double") / 100.0).as("value"))
    StreamingIvm.ivmSink(mart)(batch(5L), 0L)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val merged = batch(7L)
    org.apache.spark.sql.graft.shims.waitForListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      StreamingIvm.ivmSink(mart)(merged, 1L)
      org.apache.spark.sql.graft.shims.waitForListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 7, s"${jobs.get} jobs for one merged batch")
    assert(spark.read.parquet(mart).filter(col("event_type") === "a")
      .collect().head.getLong(2) == 2L)
  }
}
