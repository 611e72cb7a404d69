package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact dedup — the streaming form of the batch first-wins
  * dedup (A4/W1): keep the first arrival of each key, across
  * micro-batches, with state BOUNDED by the watermark.
  *
  * `dropDuplicatesWithinWatermark` stores a key's fingerprint only until
  * the watermark passes its event time, so an unbounded stream doesn't
  * accumulate unbounded dedup state — the property that makes streaming
  * ingest dedup viable at firehose scale (plain `dropDuplicates` on a
  * stream grows state forever). Duplicates separated by more than the
  * watermark delay are NOT caught here — that tail belongs to the batch
  * dedup operators ([[graft.operators.Dedup]], [[graft.ext.DedupOps]])
  * run over the landed data, the standard lambda-collapse split.
  */
object StreamingDedup {

  def firstWins(events: DataFrame, keys: Seq[String], tsCol: String,
                watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** The whole streaming-dedup chain drained end-to-end (the
    * `t3_streaming_dedup` driver query): events file-stream →
    * [[firstWins]] → append-mode parquet sink, `Trigger.AvailableNow`.
    * The emitted columns are ONLY the dedup keys, so the result is the
    * distinct key set — oracle-checkable regardless of which physical
    * row won first-arrival inside a batch. Exact-DISTINCT parity holds
    * when each key's duplicates land within the watermark of the drain
    * (trivially true for a single-batch drain, the driver-testdata
    * shape); keys evicted and re-seen later re-emit by design — that
    * tail belongs to the batch dedup pass, per the object doc.
    */
  def availableNowDedupKeys(spark: SparkSession, sfDir: String,
                            keys: Seq[String] = Seq("user_id", "event_type")): DataFrame = {
    val out = s"${DrainWork.tempDir("graft_stream_dedup")}/keys"
    Drain.run(firstWins(Drain.eventsStream(spark, sfDir), keys, "ts")
      .select(keys.map(col): _*), "append", out)
    spark.read.parquet(out)
  }
}
