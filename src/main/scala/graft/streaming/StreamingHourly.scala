package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Merge

/** Structured Streaming form of the reference's incremental contract
  * (SURVEY §2.9): the batch T1 hourly tumbling aggregation becomes a
  * watermarked window aggregation, and the T2 "new data upserts by
  * (key, hour)" merge becomes a foreachBatch MERGE into the mart.
  *
  * Differences from the batch emulation, by design: the watermark gives a
  * principled late-data bound (the reference silently drops anything
  * before its incremental boundary — SURVEY §2.9 T2); state is bounded by
  * the watermark, so this runs indefinitely at scale. Each micro-batch
  * shuffles once on (window, keys) with partial aggregation upstream.
  */
object StreamingHourly {

  /** T1: tumbling 1-hour window aggregation with late-data watermark.
    * Works on streaming AND batch DataFrames (watermark is a no-op in
    * batch — same code path for backfill and live, the lambda-free way).
    */
  def hourlyAgg(events: DataFrame, tsCol: String, keyCols: Seq[String],
                valueCol: String, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour").as("w") +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Numeric.roundBin(avg(col(valueCol)), 2).as("avg_value"))
      .select(col("w.start").as("window_start") +:
        (keyCols.map(col) ++ Seq(col("n_events"), col("avg_value"))): _*)

  /** The full T1+T2+T3 chain run END-TO-END as one call, batch-parity
    * deterministic: the events parquet becomes a file-stream source, the
    * hourly aggregation keeps (scaled-integer sum, count) running state
    * (`Numeric.scaledAvg` — order-independent, so the result is
    * bit-identical to the batch/oracle answer no matter how the source
    * splits into micro-batches), update-mode emission feeds
    * [[partitionedMergeSink]]'s keyed upsert, and `Trigger.AvailableNow`
    * drains the source and stops (T3's data-aware trigger). Returns the
    * committed mart. Registered as registry query `t2_streaming_merge`, so
    * the streaming path has the same oracle + bench visibility as every
    * batch operator.
    *
    * Update-mode note: append mode would withhold every window newer
    * than (max ts − watermark) — the final hours of a drained backlog
    * never emit. Update mode re-emits a window's RUNNING aggregate
    * whenever a batch changes it; the keyed upsert keeps the last
    * (= complete) value, which is exactly MERGE-by-key semantics (T2).
    *
    * Each call drains from a fresh checkpoint into a fresh mart dir, so
    * checkpoint, marker and mart are born together (see
    * MARKER/CHECKPOINT COUPLING on [[mergeSink]]).
    */
  def availableNowHourlyMart(spark: SparkSession, sfDir: String,
                             maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val mart = s"${DrainWork.tempDir("graft_stream_mart")}/mart"
    val events = Drain.eventsStream(spark, sfDir, maxFilesPerTrigger)
    // NO watermark: update mode doesn't require one for aggregation, and
    // this is a bounded AvailableNow drain — state dies with the run. A
    // watermark here would silently DROP any row arriving in a later
    // micro-batch with event time older than (max seen ts − delay); the
    // driver testdata happens to fit one batch, but under
    // maxFilesPerTrigger or a many-part source each part spans the full
    // time range and rows would vanish. Unbounded state is the correct
    // trade for a finite drain; the indefinitely-running form with a
    // late-data bound is [[hourlyAgg]].
    val agg = events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Numeric.scaledAvg(col("value")).as("avg_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("avg_value"))
    // partition-scoped sink: per-batch cost independent of mart size
    Drain.run(agg, "update")(
      partitionedMergeSink(mart, Seq("window_start", "event_type")) _)
    // an all-empty drain leaves no readable partitioned mart (partitionBy
    // of zero rows writes no files) — a fresh day with no data is a valid
    // production state, not an error: return the empty aggregation shape
    if (Drain.hasData(spark, mart)) spark.read.parquet(mart).drop("__day")
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], agg.schema)
  }

  /** T2: a foreachBatch sink that MERGEs each micro-batch into a parquet
    * mart by key (A6 upsert). Commit goes through [[AtomicSwap]]: a
    * readable mart exists at every step, and a replayed batch (crash
    * between data commit and checkpoint commit) is detected by its
    * batchId marker and skipped. Pass to
    * `writeStream.foreachBatch(mergeSink(...))`.
    *
    * At scale this is where a table format (Delta/Iceberg) would take
    * over MERGE + atomicity; the swap keeps the same contract on bare
    * parquet.
    *
    * MARKER/CHECKPOINT COUPLING: the `_applied_batch` marker is only
    * meaningful relative to the streaming checkpoint that produced its
    * batchIds. Deleting or relocating the checkpoint while keeping the
    * mart restarts batchIds at 0, and every batch up to the stored marker
    * would be skipped as a "replay" — silently dropping real data. Treat
    * mart + checkpoint as one unit: wipe both or neither (same rule
    * Delta's txn-id dedup has). See SEMANTICS.md "Streaming commit
    * contract".
    */
  def mergeSink(outPath: String, keys: Seq[String])(batch: DataFrame, batchId: Long): Unit =
    AtomicSwap.swapFold(outPath, batch, batchId) { exists =>
      if (exists) Merge.upsert(batch.sparkSession.read.parquet(outPath), batch, keys)
      else batch
    }

  /** Partition-scoped T2 sink — the scale form of [[mergeSink]], and the
    * streaming twin of `OpenAqPipeline.refreshMart`: instead of
    * read-merge-rewriting the WHOLE mart every micro-batch (O(mart) per
    * batch — the cost that dominates a long-running drain once the mart
    * outgrows the batches), only the day partitions the batch's windows
    * actually touch are read (broadcast semi-join on the partition
    * column → partition pruning keeps the scan to those directories),
    * merged, and replaced via dynamic partition overwrite. Per-batch
    * cost is O(batch + touched days), independent of mart size — a
    * year-long mart with a 2-hour watermark rewrites 1-2 partitions per
    * batch, not 365.
    *
    * Commit contract: [[AtomicSwap.dayFold]] — data first, then the
    * `_applied_batch` marker, so a crash mid-write REPLAYS the batch, and
    * the keyed upsert re-converges (matched keys take the batch's
    * values, which are the same values on replay). The whole-swap
    * [[mergeSink]] trades per-batch cost for single-rename atomicity;
    * at real scale a table format's transactional MERGE provides both.
    */
  def partitionedMergeSink(outPath: String, keys: Seq[String],
                           dayFrom: String = "window_start")
                          (batch: DataFrame, batchId: Long): Unit =
    AtomicSwap.dayFold(outPath, batch, batchId) { exists =>
      val withDay = batch.withColumn("__day", to_date(col(dayFrom)))
      if (exists) {
        val touched = withDay.select(col("__day")).distinct()
        Merge.upsert(batch.sparkSession.read.parquet(outPath)
          .join(broadcast(touched), Seq("__day"), "left_semi"), withDay, keys)
      } else withDay
    }
}
