package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.IncrementalAgg

/** STATELESS streaming aggregation by table merge: each micro-batch's
  * fact rows aggregate to mergeable partials and fold into the mart via
  * [[IncrementalAgg.mergeDeltaSmall]] — the aggregation "state" lives
  * in the TABLE (|keys| rows), not in Spark's state store.
  *
  * Contrast with [[StreamingHourly]] (update-mode running aggregates +
  * keyed upsert): that chain keeps per-window running state inside the
  * streaming engine and re-emits on change; this one needs NO
  * aggregation state, no watermark, and no update mode — append-only
  * facts, algebra in the sink. Because the merge algebra is associative
  * and commutative, the mart is bit-identical to the batch GROUP BY for
  * ANY micro-batch split (spec-pinned) — late rows just merge in
  * whenever they arrive, with no lateness bound to configure.
  *
  * At 100 TB this is the delta-maintenance posture for wide-key
  * aggregate marts where per-key windows never "close": state-store
  * checkpointing would grow with keys forever, while the mart IS the
  * state and each batch pays O(batch + touched keys)
  * ([[IncrementalAgg]]'s contract; insert-only facts, per its doc).
  * Commit goes through [[AtomicSwap]] (batchId replay guard + heal),
  * so a crashed batch replays idempotently — re-merging the same
  * partials is prevented by the marker, not by hoping the algebra
  * tolerates it (it would not: cnt/sum would double).
  */
object StreamingIvm {

  private val Keys = Seq("event_type", "hr")

  private def factsOf(df: DataFrame): DataFrame =
    df.select(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
      floor(col("value") * 100).cast("long").as("v"))

  /** foreachBatch sink: partials of the batch → broadcast-delta merge
    * into the mart → atomic swap with the batchId marker.
    */
  def ivmSink(outPath: String)(batch: DataFrame, batchId: Long): Unit =
    AtomicSwap.swapFold(outPath, batch, batchId) { exists =>
      // checkpointed inside the fold, so the commit frees these blocks
      // after the swap — a long-running stream must not grow
      // block-manager storage per batch
      val partials = org.apache.spark.sql.graft.shims.checkpointWithStats(
        IncrementalAgg.partials(factsOf(batch), Keys, "v"))
      if (exists)
        IncrementalAgg.mergeDeltaSmall(
          batch.sparkSession.read.parquet(outPath), partials, Keys)
      else partials
    }

  /** The whole chain drained end-to-end (driver query
    * `t7_streaming_ivm`): events file-stream → per-batch partials →
    * table merge, `Trigger.AvailableNow`. Returns the committed mart —
    * which must equal the batch GROUP BY over all events regardless of
    * how the source splits into micro-batches.
    */
  def availableNowIvmMart(spark: SparkSession, sfDir: String,
                          maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val mart = s"${DrainWork.tempDir("graft_stream_ivm")}/mart"
    Drain.run(Drain.eventsStream(spark, sfDir, maxFilesPerTrigger), "append")(
      ivmSink(mart) _)
    if (Drain.hasData(spark, mart)) spark.read.parquet(mart)
    // zero-batch drain (empty source dir): valid state — the empty
    // aggregate shape, not an error
    else IncrementalAgg.partials(
      factsOf(Tables.events(spark, sfDir)).limit(0), Keys, "v")
  }
}
