package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HistQuantile

/** Streaming distribution monitoring: per-key histogram quantiles over
  * an event stream — the [[graft.functions.HistQuantile]] sketch as
  * STREAMING aggregation state. The histogram buffer is exactly the
  * state Structured Streaming keeps per group: constant 2 KB per key
  * forever (the [[StreamingTrends]] bounded-state discipline), updated
  * incrementally per micro-batch, with update-mode re-emission and the
  * T2 keyed-merge sink keeping the latest (= complete) row per key.
  *
  * Because the sketch is integer-exact and merge-order-free, the
  * drained result is bit-identical to the batch spelling whatever the
  * micro-batch boundaries — the same batch-equivalence contract as
  * `t2_streaming_merge`, here proving a CUSTOM TypedImperativeAggregate
  * carries it too.
  */
object StreamingQuantiles {

  /** AvailableNow drain: per event_type, p50/p90/p99 of integer cents
    * (floor(value·100)) from a 256-bucket histogram over [0, 65536),
    * plus the row count. Returns the committed mart.
    */
  def availableNowQuantiles(spark: SparkSession, sfDir: String,
                            maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val mart = s"${DrainWork.tempDir("graft_stream_quant")}/mart"
    val events = Drain.eventsStream(spark, sfDir, maxFilesPerTrigger)
    // bounded AvailableNow drain → no watermark, same reasoning as
    // StreamingHourly.availableNowHourlyMart (a watermark would drop
    // cross-batch stragglers; state dies with the run)
    val agg = events.filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(HistQuantile.histQuantiles(
          floor(col("value") * 100), lo = 0L, width = 256L, buckets = 256,
          Seq(50, 90, 99)).as("qs"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"),
        col("qs").getItem(0).as("p50_cents"),
        col("qs").getItem(1).as("p90_cents"),
        col("qs").getItem(2).as("p99_cents"),
        col("n_events"))
    Drain.run(agg, "update")(StreamingHourly.mergeSink(mart, Seq("event_type")) _)
    spark.read.parquet(mart)
  }
}
