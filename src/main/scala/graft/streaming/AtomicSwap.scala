package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.shims

import graft.operators.Merge

/** Crash-safe full-swap commit for parquet marts written from
  * foreachBatch, fixing two failure modes of a naive
  * delete(target)+rename(staging,target):
  *
  *  1. **No-mart crash window**: between delete and rename nothing exists
  *     at the target, and a crash there loses ALL history (replay treats
  *     the mart as empty). Here the old mart is renamed ASIDE first, so a
  *     complete mart directory exists on disk at every instant and
  *     [[heal]] can always restore a readable state.
  *  2. **Double-apply on replay**: foreachBatch re-delivers a batch when
  *     the job dies after the data commit but before the streaming
  *     checkpoint commit; additive partials (sum/count) would then be
  *     added twice. Each committed mart carries a `_applied_batch` marker
  *     file (underscore-prefixed → invisible to parquet directory reads);
  *     sinks skip batches already in the mart — the standard
  *     foreachBatch idempotence pattern.
  *
  * At real scale a table format (Delta/Iceberg) provides both properties
  * transactionally; this keeps the same contract on bare parquet.
  */
object AtomicSwap {

  private val Marker = "_applied_batch"

  private def oldPath(target: Path) = new Path(target.toString + "__old")

  /** The swap-committed sinks' one protocol: [[heal]], the lineage-scoped
    * replay guard, then `fold` builds the new mart (its argument says
    * whether a mart exists at `outPath` to fold into), which [[commit]]
    * swaps in. A replayed delivery returns before `fold` runs and costs
    * no Spark job.
    */
  def swapFold(outPath: String, batch: DataFrame, batchId: Long)(
      fold: Boolean => DataFrame): Unit =
    guarded(outPath, batch, batchId, heals = true)(fold) {
      (folded, _, _, lineage) => commit(folded, outPath, batchId, lineage)
    }

  /** The day-partitioned sinks' one protocol: the replay guard, then
    * `fold` builds the rows of every touched `__day` (its argument says
    * whether a mart exists at `outPath`), [[Merge.overwriteDays]]
    * replaces those days, and the `_applied_batch` marker goes in AFTER
    * the data. Dynamic overwrite is not atomic across partitions, so a
    * crash mid-write leaves the marker old and the batch replays; the
    * folds are keyed and idempotent, so the replay re-converges.
    */
  def dayFold(outPath: String, batch: DataFrame, batchId: Long)(
      fold: Boolean => DataFrame): Unit =
    guarded(outPath, batch, batchId, heals = false)(fold) {
      (folded, fs, target, lineage) =>
        Merge.overwriteDays(folded, outPath)
        writeMarker(fs, target, batchId, lineage)
    }

  /** Guard, fold, write, then free the local checkpoints the fold took
    * that the written frame still references, so a long-running stream
    * does not grow block storage per batch. Blocks persisted before the
    * fold ran (a static dimension it joins, a caller's cache) stay:
    * later batches still read them.
    */
  private def guarded(outPath: String, batch: DataFrame, batchId: Long,
      heals: Boolean)(fold: Boolean => DataFrame)(
      write: (DataFrame, FileSystem, Path, String) => Unit): Unit = {
    val spark = batch.sparkSession
    val sc = spark.sparkContext
    val target = new Path(outPath)
    val fs = target.getFileSystem(sc.hadoopConfiguration)
    if (heals) heal(fs, target)
    val lineage = streamLineage(spark)
    if (!alreadyApplied(fs, target, batchId, lineage)) {
      val before = sc.getPersistentRDDs.keySet.toSet
      val folded = fold(fs.exists(target))
      write(folded, fs, target, lineage)
      shims.unpersistLocalCheckpoints(folded, sc.getPersistentRDDs.keySet.toSet -- before)
    }
  }

  /** Highest batchId already swapped into `target` (None = no marker —
    * a pre-marker mart or none at all).
    */
  def lastAppliedBatchId(fs: FileSystem, target: Path): Option[Long] =
    lastApplied(fs, target).map(_._1)

  /** Marker contents: (batchId, lineage). Lineage is "" for markers
    * written before the lineage field existed (or by non-stream
    * callers) — treated as wildcard by [[alreadyApplied]].
    */
  private def lastApplied(fs: FileSystem, target: Path): Option[(Long, String)] = {
    val m = new Path(target, Marker)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try {
        val lines = new String(in.readAllBytes(), StandardCharsets.UTF_8)
          .split("\n").map(_.trim)
        Some((lines.head.toLong, lines.drop(1).headOption.getOrElse("")))
      } finally in.close()
    }
  }

  /** The current micro-batch's stream identity, readable inside a
    * foreachBatch body: Spark's StreamExecution stamps the owning
    * query's id on the batch thread as the `sql.streaming.queryId`
    * local property. The id lives in the stream's CHECKPOINT metadata,
    * so it survives restarts of the same stream but differs for a
    * fresh checkpoint dir — exactly the lineage a replay guard must be
    * scoped to. "" outside a streaming batch (e.g. batch backfills).
    */
  private def streamLineage(spark: org.apache.spark.sql.SparkSession): String =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse("")

  /** Replay guard: should this (lineage, batchId) delivery be skipped
    * because the mart already contains it? BatchIds are only comparable
    * WITHIN one stream lineage — a fresh stream (new checkpoint dir)
    * restarts batchIds at 0, and skipping its early batches against an
    * old mart's high-water mark would silently drop data. A blank
    * lineage on either side (legacy marker, non-stream caller) falls
    * back to the batchId-only rule.
    *
    * UPGRADE PATH CAVEAT: a mart carrying a legacy (pre-lineage, blank)
    * marker attached to a NEW stream keeps skipping that stream's early
    * batches under the fallback rule until the first new-format marker
    * lands — the exact window the lineage guard closes for new marts.
    * The skip is logged loudly below so the window is visible; to close
    * it entirely, delete the `_applied_batch` file when attaching a
    * fresh stream to a pre-existing mart.
    */
  private def alreadyApplied(fs: FileSystem, target: Path, batchId: Long,
      lineage: String): Boolean =
    lastApplied(fs, target).exists { case (applied, storedLineage) =>
      val skip = applied >= batchId &&
        (storedLineage.isEmpty || lineage.isEmpty || storedLineage == lineage)
      if (skip && storedLineage.isEmpty && lineage.nonEmpty)
        System.err.println(
          s"[atomic-swap] WARNING: skipping batch $batchId of stream $lineage at " +
            s"$target on a LEGACY lineage-less marker (applied=$applied). If this " +
            "is a fresh stream attached to a pre-existing mart, its early batches " +
            "are being dropped — remove or rewrite the mart's _applied_batch marker.")
      skip
    }

  /** Restore a consistent state after a crash, in sink-start position:
    * stale staging dirs are dropped; a missing target with the old mart
    * set aside means the previous swap died mid-flight — put the old
    * mart back (its batch will be re-delivered and re-applied).
    */
  def heal(fs: FileSystem, target: Path): Unit = {
    val old = oldPath(target)
    fs.globStatus(new Path(target.toString + "__staging_*")) match {
      case null => ()
      case stale => stale.foreach(s => fs.delete(s.getPath, true))
    }
    if (!fs.exists(target) && fs.exists(old)) fs.rename(old, target)
    else if (fs.exists(old)) fs.delete(old, true)
  }

  /** Stamp `dir`'s applied-batch marker. */
  private def writeMarker(fs: FileSystem, dir: Path, batchId: Long,
      lineage: String): Unit = {
    val body = if (lineage.isEmpty) batchId.toString else s"$batchId\n$lineage"
    val out = fs.create(new Path(dir, Marker), true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Write `df` to a staging dir with the batch marker, then swap it in:
    * target → target__old, staging → target, drop old. A readable mart
    * (target or target__old) exists at every step.
    */
  def commit(df: DataFrame, outPath: String, batchId: Long,
      lineage: String = ""): Unit = {
    val target = new Path(outPath)
    val staging = new Path(outPath + s"__staging_$batchId")
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    df.write.mode("overwrite").parquet(staging.toString)
    writeMarker(fs, staging, batchId, lineage)
    val old = oldPath(target)
    if (fs.exists(target)) {
      fs.delete(old, true)
      fs.rename(target, old)
    }
    fs.rename(staging, target)
    fs.delete(old, true)
  }
}
