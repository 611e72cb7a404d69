package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

import graft.operators.AsOf

/** Streaming as-of join — the streaming twin of
  * [[graft.operators.AsOf.joinBackwardNative]], completing the
  * batch/streaming symmetry the other operator families have
  * (hourly agg → t1/t2, dedup → t3, near-dup → t8, sketch → t9,
  * components → t10).
  *
  * Posture: the StreamingIvm one — the MART is the state. A backward
  * as-of match is an argmax over rights with `rt ≤ lt` under the total
  * order (rt, tie), and argmax is a semilattice fold: folding rights
  * in ANY batch order converges to the same best-per-left. So the sink
  * maintains, per left row, the raw best-so-far match, and the fold is
  * exact for any micro-batch split of EITHER side — views and clicks
  * may arrive interleaved, late, or out of order across batches.
  *
  * Per micro-batch (both deltas stats-checkpointed, standing tables
  * never iterated):
  *
  *  1. new rights append to a standing right-side table;
  *  2. **A**: new lefts as-of-join (the NATIVE exec — the batch
  *     operator is reused verbatim inside the fold) against the
  *     standing rights, tolerance-pruned: with a tolerance `tol`, only
  *     rights with `rt ≥ min(new left time) − tol` can produce a
  *     VISIBLE match, so the history scanned per batch is bounded by
  *     the tolerance window — the reason a 100 TB click stream doesn't
  *     mean an unbounded per-batch scan;
  *  3. **B**: new rights can only improve mart rows sharing their keys
  *     (semi-join prune — the delta drives the work, not the mart
  *     size); the affected slice re-as-ofs against the NEW rights only
  *     and merges by the (rt, tie) argmax rule;
  *  4. untouched mart rows pass through by anti-join.
  *
  * The mart stores the RAW best (`__rt_us`, pre-tolerance); the read
  * applies tolerance nulling, which equals filtering before selection
  * (any non-best right on the same side is strictly farther — the
  * operators/AsOf.scala argument), so the drained result is pinned to
  * the same DuckDB oracle as `x_asof_native`.
  */
object StreamingAsOf {

  /** foreachBatch sink maintaining the as-of mart. `split` divides a
    * micro-batch into (new lefts, new rights); `leftId` is the left
    * row's unique id the merge joins on; `rightTieBreak` must be one of
    * `rightCols` (the merge re-reads it from the stored payload).
    */
  def asOfSink(martPath: String, rightStorePath: String,
               split: DataFrame => (DataFrame, DataFrame),
               leftId: String, keys: Seq[String],
               leftTime: String, rightTime: String,
               rightCols: Seq[String], rightTieBreak: String,
               toleranceUs: Option[Long])(batch: DataFrame, batchId: Long): Unit = {
    require(rightCols.contains(rightTieBreak),
      s"asOfSink: rightTieBreak '$rightTieBreak' must be stored (one of $rightCols)")
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val mart = new org.apache.hadoop.fs.Path(martPath)
    val fs = mart.getFileSystem(conf)
    AtomicSwap.heal(fs, mart)
    val lineage = AtomicSwap.streamLineage(spark)
    if (AtomicSwap.alreadyApplied(fs, mart, batchId, lineage)) return
    val (newL0, newR0) = split(batch)
    val (newL, lBounds) = checkpointWithTimeBounds(newL0, leftTime)
    val (newR, rBounds) = checkpointWithTimeBounds(newR0, rightTime)
    // 1. rights are append-only → land as an overwrite-idempotent
    // `batch=<id>` shard (the StreamingIndex/bm25Sink posture): a
    // replayed batch overwrites its own shard bit-for-bit, and the
    // per-batch right-store cost is O(delta) — a full-history rewrite
    // here measured as the one index-sized term in the fold
    // (SCALE.md "Round 10: streaming as-of + streaming BM25 — measured
    // fold costs"). Long streams consolidate shards offline with
    // Compact.compactShards — behind the mart's _applied_batch
    // watermark, whose replay guard returns above BEFORE this shard
    // write (the property that makes consolidating applied batches
    // safe); CompactSpec pins a post-compaction fold.
    newR.write.mode("overwrite").parquet(s"$rightStorePath/batch=$batchId")
    val rstoreSchema = graft.operators.ShardStore.withBatch(newR.schema)
    val allR = graft.operators.ShardStore.read(spark, rightStorePath, rstoreSchema)
      .drop("batch").select(newR.columns.map(col): _*)
    // 2. A: new lefts vs (tolerance-pruned) right history, via the
    // native batch exec — __rt_us (raw matched right time) is what the
    // argmax merge compares
    val rightsForA = pruneRightsForA(allR, lBounds.map(_._1), rightTime,
      toleranceUs)
    def withRt(asofed: DataFrame): DataFrame = asofed
      .withColumn("__rt_us", unix_micros(col(leftTime)) - col("asof_lag_us"))
      .drop("asof_lag_us")
    val aRows = withRt(AsOf.joinBackwardNative(
      newL, rightsForA, keys, leftTime, rightTime, rightCols,
      rightTieBreak, toleranceUs = None))
    val merged0 =
      if (!fs.exists(mart)) aRows
      else {
        val standingM = spark.read.schema(
          org.apache.spark.sql.types.StructType(newL.schema.fields ++
            rightCols.map(c => newR.schema(c)) :+
            org.apache.spark.sql.types.StructField("__rt_us",
              org.apache.spark.sql.types.LongType))).parquet(martPath)
        // 3. B: only mart rows that share a key with the new rights AND
        // sit in the rights' time window can change. The time bound is
        // exact, not approximate: a left with lt < min(new rt) has no
        // new right at-or-before it at all, and one with
        // lt > max(new rt) + tol could at most swap one
        // beyond-tolerance raw match for another — both read as NULL,
        // the same argument that makes the A-side prune safe. For a
        // time-ordered stream this caps B at the tolerance window
        // regardless of mart size or key spread (measured: an
        // unpruned B re-as-of'd every historical row of every
        // delta-active user, O(mart ∩ hot keys) per fold).
        val (affected, untouched) = splitAffected(standingM, newR, keys,
          leftTime, rBounds, toleranceUs)
        val leftColNames = standingM.columns
          .filterNot(c => c == "__rt_us" || rightCols.contains(c)).toSeq
        val cand = withRt(AsOf.joinBackwardNative(
            affected.select(leftColNames.map(col): _*), newR.toDF(), keys,
            leftTime, rightTime, rightCols, rightTieBreak, toleranceUs = None))
          .select((col(leftId) +: rightCols.map(c => col(c).as(s"__c_$c")))
            :+ col("__rt_us").as("__c_rt"): _*)
        // argmax merge: larger raw right time wins; equal time → larger
        // tie value (the backward rule); a found match beats none
        val better = col("__c_rt").isNotNull && (col("__rt_us").isNull ||
          col("__c_rt") > col("__rt_us") ||
          (col("__c_rt") === col("__rt_us") &&
            col(s"__c_$rightTieBreak") > col(rightTieBreak)))
        val mergedAffected = affected.join(cand, Seq(leftId), "left")
          .select(leftColNames.map(col) ++
            rightCols.map(c => when(better, col(s"__c_$c")).otherwise(col(c)).as(c)) :+
            when(better, col("__c_rt")).otherwise(col("__rt_us")).as("__rt_us"): _*)
        untouched.unionByName(mergedAffected).unionByName(aRows)
      }
    // the merge reads the path it is about to replace — materialize
    // before the swap (same reason the ivm/components sinks checkpoint)
    val merged = merged0.localCheckpoint(true)
    AtomicSwap.commit(merged, martPath, batchId, lineage)
    shims.unpersistLocalCheckpoint(merged)
    shims.unpersistLocalCheckpoint(newL)
    shims.unpersistLocalCheckpoint(newR)
  }

  /** Fail fast when the SESSION timezone is not UTC-equivalent: the
    * partition-scoped sink's touched-day arithmetic
    * (`Math.floorDiv(us, dayUs)` vs `to_date(leftTime)`) is only valid
    * when `to_date` evaluates under UTC. Accepts any fixed zero-offset
    * spelling ("UTC", "GMT", "Z", "+00:00", "Etc/UTC").
    */
  private def requireUtcSession(spark: SparkSession): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val rules = java.time.ZoneId.of(tz,
      java.time.ZoneId.SHORT_IDS).getRules
    require(rules.isFixedOffset &&
      rules.getOffset(java.time.Instant.EPOCH) == java.time.ZoneOffset.UTC,
      s"asOfSinkPartitioned requires spark.sql.session.timeZone=UTC " +
        s"(got '$tz'): day-partition pruning equates epoch-day floors " +
        s"with to_date() values, which shift under a non-UTC session zone")
  }

  /** Checkpoint a delta while OBSERVING its event-time bounds in the
    * SAME job (`Dataset.observe` / CollectMetrics): the fold needs
    * min/max time for the A-prune, the touched-days computation and the
    * affected-window split, and until r11 paid one extra agg job per
    * side per batch for numbers the checkpoint scan already saw
    * (SCALE.md "Round 11: the `t*` drain floor, decomposed and cut":
    * the drain floor is job count, not bytes).
    * Returns the stats-checkpointed delta plus `Some((min, max))` epoch
    * micros — None when the delta is empty OR its times are all NULL
    * (min over non-empty all-NULL input is NULL): a NULL-time right
    * never matches any left (the native exec drops it, the argmax merge
    * treats a NULL candidate time as no-candidate) and a NULL-time left
    * matches nothing, so both callers treat None as
    * nothing-can-be-bounded. In planOnly mode (identity checkpoints, no
    * job runs → no metrics accumulate) falls back to a plain agg job.
    */
  private def checkpointWithTimeBounds(df: DataFrame, timeCol: String)
      : (DataFrame, Option[(Long, Long)]) = {
    val tUs = unix_micros(col(timeCol))
    if (shims.planOnly(df.sparkSession)) {
      val ck = shims.checkpointWithStats(df)
      val b = df.agg(min(tUs), max(tUs)).head()
      return (ck, if (b.isNullAt(0)) None else Some((b.getLong(0), b.getLong(1))))
    }
    val (ck, metrics) = shims.checkpointWithStatsObserved(
      df.observe("tb", min(tUs).as("lo"), max(tUs).as("hi")))
    (ck, metrics.get("tb") match {
      case Some(r) if !r.isNullAt(0) => Some((r.getLong(0), r.getLong(1)))
      case _ => None
    })
  }

  /** A-side tolerance prune shared by both sinks: with a tolerance,
    * only rights at or after `min(new left time) − tol` can produce a
    * visible match for the delta's lefts. `minLt` is the observed
    * min left time (None = empty or all-NULL-time delta → nothing to
    * bound by; the unpruned history is correct and the downstream join
    * output is empty/NULL-matched anyway).
    */
  private def pruneRightsForA(allR: DataFrame, minLt: Option[Long],
      rightTime: String, toleranceUs: Option[Long]): DataFrame =
    (toleranceUs, minLt) match {
      case (Some(tol), Some(lo)) =>
        allR.filter(unix_micros(col(rightTime)) >= lo - tol)
      case _ => allR
    }

  /** Affected/untouched split shared by both sinks: a standing mart row
    * can change only if it (a) shares a key with the new rights and
    * (b) sits in the rights' time window `[min rt, max rt + tol]`. The
    * time bound is exact: a left before every new right has no new
    * match at all, and one past the window could at most swap one
    * beyond-tolerance raw match for another — both read NULL (the
    * A-side prune argument). NULL left times land in `untouched`.
    * `bounds` is [[rightBounds]] of the new rights (None = empty or
    * all-NULL-time delta → nothing can change).
    */
  private def splitAffected(standing: DataFrame, newR: DataFrame,
      keys: Seq[String], leftTime: String,
      bounds: Option[(Long, Long)],
      toleranceUs: Option[Long]): (DataFrame, DataFrame) = {
    if (bounds.isEmpty) return (standing.limit(0), standing)
    val (minRt, maxRt) = bounds.get
    val lt = unix_micros(col(leftTime))
    val inWindow = coalesce(
      lt >= minRt && toleranceUs.map(t => lt <= maxRt + t).getOrElse(lit(true)),
      lit(false))
    val hot = newR.select(keys.map(col): _*).distinct().withColumn("__hot", lit(1))
    val marked = standing.join(hot, keys, "left")
    (marked.filter(col("__hot").isNotNull && inWindow).drop("__hot"),
     marked.filter(col("__hot").isNull || !inWindow).drop("__hot"))
  }

  /** The PARTITION-SCOPED form of [[asOfSink]] — the 100 TB posture
    * (the `partitionedMergeSink` pattern applied to the as-of mart):
    * the mart is partitioned by the LEFT EVENT DAY, and a batch reads
    * and rewrites only the day partitions its delta touches — the new
    * lefts' days plus the days overlapping the new rights' time window
    * `[min rt, max rt + tol]` — via dynamic partition overwrite.
    *
    * Day partitioning, not key-bucket, deliberately: bucket-scoping by
    * key only localizes when deltas are KEY-local, and any delta with
    * more distinct keys than buckets touches every bucket (measured:
    * a uniform-key delta made the bucketed fold strictly worse than
    * the full swap). Time-scoping exploits the locality the OPERATOR
    * guarantees — the tolerance bounds how far back a new right can
    * visibly reach — so for an in-order stream a fold rewrites the
    * last day or two regardless of mart size or key spread.
    *
    * Commit contract (same as partitionedMergeSink): data first, then
    * the `_applied_batch` marker. Dynamic overwrite is not atomic
    * across partitions, so a crash mid-write replays the batch — and
    * the fold is replay-CONVERGENT: already-inserted new lefts are
    * excluded from the existing side and recomputed identically from
    * the (idempotent) right shards, and the argmax merge re-applied
    * to already-upgraded rows is a no-op (argmax is idempotent).
    */
  def asOfSinkPartitioned(martPath: String, rightStorePath: String,
               split: DataFrame => (DataFrame, DataFrame),
               leftId: String, keys: Seq[String],
               leftTime: String, rightTime: String,
               rightCols: Seq[String], rightTieBreak: String,
               toleranceUs: Option[Long])
              (batch: DataFrame, batchId: Long): Unit = {
    require(rightCols.contains(rightTieBreak),
      s"asOfSinkPartitioned: rightTieBreak '$rightTieBreak' must be one of $rightCols")
    val spark = batch.sparkSession
    // the touched-day prune below equates Math.floorDiv epoch-day
    // flooring with the mart's to_date(leftTime) partition values —
    // true only under a UTC SESSION timezone (GraftSession pins it, but
    // a user session setting a non-UTC zone would silently skip
    // affected partitions, the same failure shape as the r10 JVM-zone
    // bug). Enforce the invariant instead of assuming it.
    requireUtcSession(spark)
    import spark.implicits._
    val mart = new org.apache.hadoop.fs.Path(martPath)
    val fs = mart.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lineage = AtomicSwap.streamLineage(spark)
    if (AtomicSwap.alreadyApplied(fs, mart, batchId, lineage)) return
    val (newL0, newR0) = split(batch)
    val (newL, lBounds) = checkpointWithTimeBounds(newL0, leftTime)
    val (newR, rBounds) = checkpointWithTimeBounds(newR0, rightTime)
    newR.write.mode("overwrite").parquet(s"$rightStorePath/batch=$batchId")
    // declared schema (the delta's own, plus the shard partition id):
    // the standing reads run EVERY batch, and footer-based inference is
    // a per-batch job the fold doesn't need
    val rstoreSchema = graft.operators.ShardStore.withBatch(newR.schema)
    val allR = graft.operators.ShardStore.read(spark, rightStorePath, rstoreSchema)
      .drop("batch").select(newR.columns.map(col): _*)
    val rightsForA = pruneRightsForA(allR, lBounds.map(_._1), rightTime,
      toleranceUs)
    def withRt(asofed: DataFrame): DataFrame = asofed
      .withColumn("__rt_us", unix_micros(col(leftTime)) - col("asof_lag_us"))
      .drop("asof_lag_us")
    val aRows = withRt(AsOf.joinBackwardNative(
        newL, rightsForA, keys, leftTime, rightTime, rightCols,
        rightTieBreak, toleranceUs = None))
      .withColumn("__day", to_date(col(leftTime)))
    val merged0 =
      if (!fs.exists(mart)) aRows
      else {
        // touched day partitions: the new lefts' days plus every day
        // overlapping the new rights' visible window — computed from
        // the deltas alone, never by scanning the mart.
        // LocalDate, NOT java.sql.Date, deliberately: Spark converts
        // java.sql.Date to DateType through the JVM DEFAULT timezone
        // (DateTimeUtils.fromJavaDate) while the mart's `__day` values
        // come from to_date(leftTime) under the UTC-pinned SESSION
        // timezone — on a JVM defaulting to a negative-offset zone every
        // day here shifted one EARLIER, the `touched` semi-join missed
        // the partitions actually holding affected rows, and late rights
        // silently never upgraded standing mart rows (caught only
        // because test JVMs run in UTC; pinned by the non-UTC-JVM case
        // in StreamingAsOfSpec). LocalDate.ofEpochDay is timezone-free
        // on both sides of the conversion. floorDiv for the same reason:
        // pre-epoch micros must round toward -∞, matching to_date.
        val rDays: Seq[java.time.LocalDate] = rBounds match {
          case None => Nil // empty or all-NULL-time rights match nothing
          case Some((lo, hi0)) =>
            val dayUs = 86400L * 1000000
            val hi = hi0 + toleranceUs.getOrElse(0L)
            (Math.floorDiv(lo, dayUs) to Math.floorDiv(hi, dayUs))
              .map(java.time.LocalDate.ofEpochDay)
        }
        val touched = newL.select(to_date(col(leftTime)).as("__day")).distinct()
          .unionByName(rDays.toDF("__day")).distinct()
        val martSchema = org.apache.spark.sql.types.StructType(
          newL.schema.fields ++
            rightCols.map(c => newR.schema(c)) ++ Seq(
            org.apache.spark.sql.types.StructField("__rt_us",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("__day",
              org.apache.spark.sql.types.DateType)))
        val existing = spark.read.schema(martSchema).parquet(martPath)
          .join(broadcast(touched), Seq("__day"), "left_semi")
        // replay convergence: a new left already applied by a partial
        // earlier write is recomputed in aRows (identically — the right
        // shards are idempotent), so exclude it from the existing side
        val base = existing.join(newL.select(col(leftId)), Seq(leftId), "left_anti")
        val (affected, untouched) =
          splitAffected(base, newR, keys, leftTime, rBounds, toleranceUs)
        val leftColNames = base.columns
          .filterNot(c => c == "__rt_us" || c == "__day" || rightCols.contains(c)).toSeq
        val cand = withRt(AsOf.joinBackwardNative(
            affected.select(leftColNames.map(col): _*), newR.toDF(), keys,
            leftTime, rightTime, rightCols, rightTieBreak, toleranceUs = None))
          .select((col(leftId) +: rightCols.map(c => col(c).as(s"__c_$c")))
            :+ col("__rt_us").as("__c_rt"): _*)
        val better = col("__c_rt").isNotNull && (col("__rt_us").isNull ||
          col("__c_rt") > col("__rt_us") ||
          (col("__c_rt") === col("__rt_us") &&
            col(s"__c_$rightTieBreak") > col(rightTieBreak)))
        val mergedAffected = affected.join(cand, Seq(leftId), "left")
          .select(leftColNames.map(col) ++
            rightCols.map(c => when(better, col(s"__c_$c")).otherwise(col(c)).as(c)) :+
            when(better, col("__c_rt")).otherwise(col("__rt_us")).as("__rt_us") :+
            col("__day"): _*)
        untouched.unionByName(mergedAffected).unionByName(aRows)
      }
    // the merge reads partitions it is about to overwrite — materialize.
    // CLUSTER BY DAY first: an unclustered dynamic overwrite fans out to
    // one file per (task × day) — measured 115 files for a 30-day toy
    // mart, and the per-file open/commit machinery dominated the fold
    // (SCALE.md "Round 11: the `t*` drain floor"). Hashing days across
    // tasks writes one file per
    // touched day; a production backfill whose single hot day outgrows
    // one task would add a salt column here, but the fold's steady state
    // touches the tolerance window's 1–2 days.
    val merged = merged0.repartition(col("__day")).localCheckpoint(true)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__day").parquet(martPath)
    AtomicSwap.writeMarker(fs, mart, batchId, lineage)
    shims.unpersistLocalCheckpoint(merged)
    shims.unpersistLocalCheckpoint(newL)
    shims.unpersistLocalCheckpoint(newR)
  }

  /** Read the maintained mart in `x_asof_native` output shape: tolerance
    * nulling applied to the stored raw best, `asof_lag_us` derived from
    * the stored match time. Works for both sink forms (`__day` from the
    * partition-scoped mart is dropped).
    */
  def readMart(spark: SparkSession, martPath: String, leftTime: String,
               rightCols: Seq[String], toleranceUs: Option[Long]): DataFrame = {
    val m = spark.read.parquet(martPath)
    val lag = unix_micros(col(leftTime)) - col("__rt_us")
    val inTol = toleranceUs match {
      case Some(t) => col("__rt_us").isNotNull && lag <= t
      case None    => col("__rt_us").isNotNull
    }
    m.select(m.columns
      .filterNot(c => c == "__rt_us" || c == "__day" || rightCols.contains(c))
      .map(col).toSeq ++
      rightCols.map(c => when(inTol, col(c)).as(c)) :+
      when(inTol, lag).as("asof_lag_us"): _*)
  }

  /** The whole chain drained end-to-end (the `t11_streaming_asof`
    * driver query): events file-stream (3-way split, views and clicks
    * interleaved arbitrarily across micro-batches) → incremental mart
    * folds through the PARTITION-SCOPED sink (the scale form — the
    * oracle gate pins the posture a 100 TB mart would run) → mart read
    * in oracle shape. Equals the batch `x_asof_native` rows for any
    * split (oracle-pinned).
    */
  def availableNowAsOf(spark: SparkSession, sfDir: String,
      compact: Boolean = false): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val work = DrainWork.tempDir("graft_stream_asof")
    val src = s"$work/events"
    val mart = s"$work/mart"
    val rstore = s"$work/clicks"
    val tol = Some(6L * 3600 * 1000000)
    val ev = graft.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("view", "click"))
      .select("event_id", "user_id", "ts", "event_type", "value")
    ev.repartition(3).write.parquet(src)
    // schema = the just-written frame's, top-level-nullable like a
    // parquet read-back — no re-inference (guide §6 metadata cost)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        ev.schema.fields.map(_.copy(nullable = true))))
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
    def split(df: DataFrame): (DataFrame, DataFrame) = (
      df.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts"),
      df.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value").as("click_value")))
    DrainWidth.clamped(spark) {
      val q = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$work/checkpoint")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(asOfSinkPartitioned(mart, rstore, split, "event_id",
          Seq("user_id"), "ts", "ts", Seq("click_id", "click_value"),
          "click_id", tol) _)
        .start()
      q.awaitTermination()
    }
    // an all-empty drain leaves no readable mart (dynamic overwrite of
    // zero rows writes no partition dirs) — zero-row robustness
    // (EmptyInputSpec) wants the typed empty result. Tested by EXPLICIT
    // path probing, not by catching AnalysisException: a broad catch
    // would also swallow genuine analysis errors (schema drift, renamed
    // column) and report them as a — suspiciously fast — empty result.
    // "has data" = any `__day=` partition dir: a zero-row drain still
    // writes the _applied_batch marker (so the dir exists) but no
    // partition dirs — that mart is empty, not malformed. (A plain
    // no-underscore filter would ALSO drop the partition dirs — the
    // partition column itself is underscore-prefixed.)
    val martP = new org.apache.hadoop.fs.Path(mart)
    val martFs = martP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // opt-in drain-tail maintenance: consolidate the right-history
    // shards scoped to the mart's _applied_batch marker — the exact
    // replay watermark the compaction safety contract names (a replay
    // of any id <= it returns before the shard write)
    if (compact)
      AtomicSwap.lastAppliedBatchId(martFs, martP).foreach { hwm =>
        graft.operators.Compact.compactShards(spark, rstore,
          targetBytes = 128L << 20, upTo = hwm)
      }
    val hasData = martFs.exists(martP) && martFs.listStatus(martP)
      .exists(_.getPath.getName.startsWith("__day="))
    if (hasData)
      readMart(spark, mart, "ts", Seq("click_id", "click_value"), tol)
        .select("event_id", "user_id", "click_id", "click_value", "asof_lag_us")
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, click_id BIGINT, " +
            "click_value DOUBLE, asof_lag_us BIGINT"))
  }
}
