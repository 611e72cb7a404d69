package graft.ext

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Gap-based sessionization: consecutive events of a user belong to one
  * session while inter-event gaps stay under `gapMinutes`.
  *
  * Batch: the classic two-window formulation — lag() marks session
  * starts, a running sum numbers them; one shuffle on the user key, both
  * windows share the same sort. Streaming: `flatMapGroupsWithState`
  * keeps (last_ts, session_no, aggregates) per user and emits a session
  * row when the gap closes it or the state times out — the custom-state
  * path for semantics tumbling windows can't express (SURVEY §1.3's
  * "Structured Streaming if/where streaming is added").
  */
object Sessionize {

  /** Batch: input events + (session_seq, session-numbered) columns. */
  def assignSessions(events: DataFrame, userCol: String, tsCol: String,
                     tiebreakCol: String, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tiebreakCol))
    val gapSec = gapMinutes * 60L
    events
      .withColumn("__prev_ts", lag(col(tsCol), 1).over(w))
      // fractional-second epochs (plain casts), NOT unix_timestamp: that
      // truncates to seconds and boundary gaps would classify differently
      // than engines comparing full-precision epochs
      .withColumn("__new_session",
        when(col("__prev_ts").isNull ||
          col(tsCol).cast("double") - col("__prev_ts").cast("double") > gapSec.toDouble, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("__new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev_ts", "__new_session")
  }

  /** Batch: one row per session with span + activity stats. */
  def sessionStats(events: DataFrame, userCol: String, tsCol: String,
                   tiebreakCol: String, gapMinutes: Int): DataFrame =
    assignSessions(events, userCol, tsCol, tiebreakCol, gapMinutes)
      .groupBy(col(userCol), col("session_seq"))
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))

  // ------------------------------------------------------------ streaming

  case class Evt(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(sessionNo: Long, lastTsUs: Long, startUs: Long, n: Long)
  case class SessionOut(user_id: Long, session_seq: Long,
                        session_start: Timestamp, session_end: Timestamp, n_events: Long)

  /** MICROSECOND epoch of a Timestamp — `getTime` alone truncates to ms,
    * and nearly every driver-testdata event carries sub-ms micros: an
    * ms-precision gap compare can classify a boundary gap differently
    * than the batch twin's full-precision compare, and ms-truncated
    * session spans would never hash-match the batch answer.
    */
  private def toUs(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def toTs(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming sessionizer: emits a session row whenever a new event's
    * gap closes the previous session; with `ProcessingTimeTimeout`
    * (production default) the final open session flushes when a user
    * goes quiet. State is O(1) per user; all arithmetic in microsecond
    * epochs, bit-faithful to the batch twin (oracle query
    * `t4_streaming_sessionize` hash-checks the closed set against the
    * batch SQL). Tests pass `NoTimeout` — the timeout scheduler keeps a
    * query permanently busy, which never lets `processAllAvailable`
    * return.
    */
  def streamingSessions(events: Dataset[Evt], gapMinutes: Int,
                        timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    val useTimeout = timeout != GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeout) {
        (user: Long, rows: Iterator[Evt], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.sessionNo,
              toTs(s.startUs), toTs(s.lastTsUs), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(e => toUs(e.ts))
            var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0L))
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = toUs(e.ts)
              if (st.n == 0L) st = SessionState(1L, t, t, 1L)
              else if (t - st.lastTsUs > gapUs) {
                closed += SessionOut(user, st.sessionNo,
                  toTs(st.startUs), toTs(st.lastTsUs), st.n)
                st = SessionState(st.sessionNo + 1, t, t, 1L)
              } else st = st.copy(lastTsUs = t, n = st.n + 1)
            }
            state.update(st)
            if (useTimeout) state.setTimeoutDuration(gapUs / 1000L)
            closed.result().iterator
          }
      }
  }

  /** The streaming sessionize chain drained end-to-end (driver query
    * `t4_streaming_sessionize`): events file-stream → [[streamingSessions]]
    * (NoTimeout: a bounded drain has no quiet period) → append parquet
    * sink. The drain emits exactly the CLOSED sessions — each user's
    * final session is still open when the source exhausts — so the
    * oracle is the batch sessionization MINUS the last session per user,
    * which is precisely the unbounded-stream contract.
    */
  def availableNowSessions(spark: SparkSession, sfDir: String,
                           gapMinutes: Int): DataFrame = {
    import spark.implicits._
    val out = s"${graft.streaming.DrainWork.tempDir("graft_stream_sess")}/sessions"
    val events = graft.streaming.Drain.eventsStream(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value"))
      .as[Evt]
    graft.streaming.Drain.run(
      streamingSessions(events, gapMinutes, GroupStateTimeout.NoTimeout).toDF(),
      "append", out)
    spark.read.parquet(out)
  }
}
