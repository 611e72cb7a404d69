package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream interval join — the streaming counterpart of
  * [[graft.operators.RangeJoin]]/[[graft.operators.AsOf]]: match each
  * left event to right events on the same keys whose time falls in
  * `[leftTime − lookback, leftTime]`.
  *
  * State is the whole point: without a time bound, a stream-stream join
  * buffers both streams forever. The watermark on BOTH inputs plus the
  * range predicate lets Spark prove when a buffered row can no longer
  * match anything and evict it — state is bounded by
  * `watermarkDelay + lookback` of data per key, independent of stream
  * age. That eviction proof is also what makes OUTER stream-stream
  * joins legal (Spark rejects an un-bounded outer join outright).
  *
  * Column naming: both sides keep their own time column (`leftTime` vs
  * `rightTime` must differ) so the range predicate can reference each
  * unambiguously; key columns are equi-joined via `usingColumns` and
  * emitted once.
  */
object StreamingJoin {

  /** Inner interval join of two streams (also valid on batch frames —
    * the spec pins streaming == batch on identical data).
    *
    * @param lookbackSec   match window: right.ts ∈ [left.ts − lookback, left.ts]
    * @param watermarkSec  max expected event-time lateness on each input;
    *                      drives state eviction
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTime: String, rightTime: String,
                   lookbackSec: Long, watermarkSec: Long): DataFrame = {
    require(leftTime != rightTime,
      "left and right time columns must be named differently")
    val delay = s"$watermarkSec seconds"
    val (l, r) =
      if (left.isStreaming || right.isStreaming)
        (left.withWatermark(leftTime, delay), right.withWatermark(rightTime, delay))
      else (left, right)
    val joined = l.join(r,
      keys.map(k => l(k) === r(k)).reduce(_ && _) &&
        col(rightTime) >= col(leftTime) - expr(s"INTERVAL $lookbackSec SECONDS") &&
        col(rightTime) <= col(leftTime))
    keys.foldLeft(joined)((df, k) => df.drop(r(k)))
  }

  /** The whole stream-stream attribution chain drained end-to-end (the
    * `t5_stream_interval_join` driver query): two file streams over the
    * same events source — purchases on the left, clicks on the right —
    * joined per user on "click within the hour before the purchase",
    * append-mode parquet sink, `Trigger.AvailableNow`.
    *
    * The emitted columns are the two event ids (plus the user key), so
    * the result is a pure match SET — hash-checkable against the batch
    * interval join regardless of micro-batch boundaries. Exact parity
    * holds when each match's two sides land within the watermark of
    * each other (trivially true for a single-file drain, the
    * driver-testdata shape); pairs separated farther belong to the
    * batch as-of/range operators, the same lambda-collapse split as
    * [[StreamingDedup]].
    */
  def availableNowAttribution(spark: org.apache.spark.sql.SparkSession,
                              sfDir: String,
                              lookbackSec: Long = 3600): DataFrame = {
    val out = s"${DrainWork.tempDir("graft_stream_join")}/matches"
    val purchases = Drain.eventsStream(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val clicks = Drain.eventsStream(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    Drain.run(intervalJoin(purchases, clicks, Seq("user_id"), "p_ts", "c_ts",
        lookbackSec, watermarkSec = lookbackSec)
      .select(col("user_id"), col("purchase_id"), col("click_id")), "append", out)
    spark.read.parquet(out)
  }
}
