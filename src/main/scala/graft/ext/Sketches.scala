package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HllDistinct

/** Pre-aggregated sketch tables — the warehouse pattern where distinct
  * counts over arbitrary slices are answered by MERGING stored
  * kilobyte sketches instead of rescanning the fact table (the
  * DataSketches / BigQuery `HLL_COUNT.INIT`+`MERGE` split; the
  * reference's `APPROX_COUNT_DISTINCT` marts re-scan — this is the
  * 100 TB answer).
  *
  * The cell grain here is (group, day): one 256-byte register array per
  * cell, written once at ingest cost. Every later rollup — per group
  * over all time, per group over a day range, global — is a register-max
  * merge over a FEW THOUSAND tiny rows. Because HLL merge is lossless
  * (merge(sketch(A), sketch(B)) = sketch(A ∪ B), register by register),
  * the merged estimate is BIT-IDENTICAL to the from-scratch
  * [[HllDistinct]] aggregate over the same underlying rows — so the
  * stored path is oracle-checkable against the full-scan SQL twin, not
  * just "approximately equal".
  *
  * Scale shape: the build is one groupBy over the fact (map-side
  * partial merge, 256-byte state per cell, one shuffle of cells — not
  * rows); probes read only the sketch table, and a day-range probe
  * prunes cells before merging. At 100 TB the fact scan happens once
  * per ingest window; every interactive distinct-users question after
  * that costs milliseconds.
  */
object Sketches {

  /** Build + write the (group, day) HLL sketch table. */
  def writeHllDaily(events: DataFrame, groupCol: String, valueCol: String,
                    tsCol: String, path: String): Unit =
    events
      .groupBy(col(groupCol), to_date(col(tsCol)).as("day"))
      .agg(HllDistinct.hllSketch(col(valueCol)).as("sketch"))
      .write.mode("overwrite").parquet(path)

  /** Per-group distinct estimate over the WHOLE stored range — equals
    * the from-scratch `hllDistinct` over the fact table exactly.
    */
  def hllRollup(spark: SparkSession, path: String, groupCol: String,
                resultCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col(groupCol))
      .agg(HllDistinct.hllMergeEstimate(col("sketch")).as(resultCol))

  /** Per-group distinct estimate over a day range [from, to] (inclusive,
    * 'yyyy-MM-dd') — the slice question the sketch table exists for:
    * cells outside the range are pruned BEFORE any merge work.
    */
  def hllRollupRange(spark: SparkSession, path: String, groupCol: String,
                     resultCol: String, from: String, to: String): DataFrame =
    spark.read.parquet(path)
      .filter(col("day").between(lit(from).cast("date"), lit(to).cast("date")))
      .groupBy(col(groupCol))
      .agg(HllDistinct.hllMergeEstimate(col("sketch")).as(resultCol))

  /** Streaming maintenance of the sketch table (the StreamingIvm posture
    * applied to sketches): each micro-batch's rows aggregate to per-cell
    * partial sketches, which register-max into the standing cells — the
    * fact history is never rescanned and there is NO state-store growth
    * (the table IS the state). Register max is associative, commutative
    * AND idempotent, but replay is still guarded by the batchId marker
    * for uniformity with the other sinks (and so the merge job itself is
    * skipped on replay, not just harmless).
    */
  def sketchSink(outPath: String, groupCol: String, valueCol: String,
                 tsCol: String)(batch: DataFrame, batchId: Long): Unit =
    graft.streaming.AtomicSwap.swapFold(outPath, batch, batchId) { exists =>
      val partials = org.apache.spark.sql.graft.shims.checkpointWithStats(
        batch.groupBy(col(groupCol), to_date(col(tsCol)).as("day"))
          .agg(HllDistinct.hllSketch(col(valueCol)).as("sketch")))
      if (exists)
        batch.sparkSession.read.parquet(outPath).unionByName(partials)
          .groupBy(col(groupCol), col("day"))
          .agg(HllDistinct.hllMergeSketch(col("sketch")).as("sketch"))
      else partials
    }

  /** Drain events through [[sketchSink]] (`Trigger.AvailableNow`) and
    * answer the rollup from the MAINTAINED table — must equal the
    * from-scratch aggregate for any micro-batch split (register max is
    * split-invariant), which is exactly the `x_approx_distinct` oracle.
    */
  def availableNowSketchMart(spark: SparkSession, sfDir: String,
                             maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val mart = s"${graft.streaming.DrainWork.tempDir("graft_stream_sketch")}/cells"
    graft.streaming.Drain.run(
      graft.streaming.Drain.eventsStream(spark, sfDir, maxFilesPerTrigger), "append")(
      sketchSink(mart, "event_type", "user_id", "ts") _)
    hllRollup(spark, mart, "event_type", "approx_users")
  }
}
