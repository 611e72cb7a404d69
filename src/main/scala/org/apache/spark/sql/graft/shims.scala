package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access shim for `private[sql]` Spark internals needed to lift a custom
  * Catalyst `Expression` into the public `Column` API (Spark 4 routes
  * Column through ColumnNode; ExpressionUtils is the sanctioned bridge
  * but is sql-package-private). Standard practice for Spark extension
  * libraries; nothing here touches non-public behavior beyond the bridge.
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom resolved `LogicalPlan` as a DataFrame
    * (`Dataset.ofRows` is sql-package-private; this is how extension
    * libraries surface custom logical operators to the public API).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame — the resolved-attribute
    * view custom logical operators are built from.
    */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Free the storage blocks behind a `localCheckpoint(eager = true)`'d
    * DataFrame once its contents are no longer needed. `Dataset.unpersist`
    * only clears CacheManager entries, not checkpoint blocks; without an
    * explicit unpersist they linger until the JVM GC notices the RDD is
    * unreachable and the async ContextCleaner runs — with a large driver
    * heap that can be never, so iterative checkpoint-per-round loops
    * accumulate O(rounds) dead blocks and later jobs pay for the evictions
    * (measured: a 10× bench run slowed 3–30× from this). Resolves the
    * exact backing RDD via the plan's LogicalRDD leaf — no global
    * persistent-RDD scans, safe under concurrent jobs.
    *
    * UNSAFE while the DataFrame (or any plan derived from it) still needs
    * its rows: checkpointing truncated the lineage, so the blocks are the
    * only copy.
    */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Drain the async listener bus so task-end events posted by a just-
    * finished action are visible to listeners (`listenerBus` is
    * `private[spark]`). Used by QueryMetrics to scope measurements and
    * by listener-based test assertions.
    */
  def waitForListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000)

  /** `localCheckpoint(eager = true)` that KEEPS size statistics.
    *
    * `Dataset.localCheckpoint` snapshots the ORIGINAL plan's estimated
    * stats into the resulting `LogicalRDD` — for a derived frame (join /
    * agg chains, where checkpointing matters most) that estimate is the
    * join-product garbage the SizeInBytesOnly visitor produces, i.e.
    * effectively "unknown, assume huge". Every join against the
    * checkpointed frame then plans sort-merge, and iterative operators
    * (PageRank, connected components, IVF probing) pay an edge-sized
    * shuffle per round that the data never needed — the hazard was
    * previously patched with per-site `broadcast()` / SHUFFLE_HASH
    * hints (see Graph.scala history).
    *
    * This helper materializes the checkpoint (ONE pass: `execute()`
    * builds the RDD lazily, the `count()` is the action that computes,
    * caches AND counts the blocks — measured construction 1.35–1.68 s
    * vs 1.38–1.58 s for `localCheckpoint(lazy)` + `Dataset.count()`
    * on the 1.2 M-edge sf0.1 graph, identical within noise; SCALE.md
    * "Round 8 … Cause 1"), measures the ACTUAL footprint of the cached
    * blocks (the block manager master's block statuses), and re-wraps
    * the RDD in a `LogicalRDD` carrying `Statistics(sizeInBytes =
    * measured, rowCount = exact)` plus the analyzed plan's constraint set.
    * Catalyst and AQE then pick broadcast / shuffled-hash joins from
    * REAL sizes — no hand hints at the call sites. Output
    * partitioning/ordering are NOT preserved here; see
    * [[checkpointWithStatsLayout]] for why preserving them breaks AQE
    * exchange dedup on multi-referenced frames, and use that variant
    * only where a single-reference consumer exploits the layout.
    *
    * In-memory deserialized block size OVER-estimates the serialized
    * broadcast size, so the decision errs on the safe (non-broadcast)
    * side near the threshold.
    *
    * Blocks must be freed with [[unpersistLocalCheckpoint]] when done
    * (same contract as a plain eager localCheckpoint).
    */
  def checkpointWithStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    checkpointVariant(df, keepLayout = false)

  /** [[checkpointWithStats]] that ALSO returns the plan's observed
    * metrics (`Dataset.observe` / CollectMetrics rows, keyed by observe
    * name) accumulated during the checkpoint's own materialization job —
    * scalar facts about a delta (min/max event time, counts) for free
    * with the scan the checkpoint already pays for.
    *
    * The stock `Observation` helper CANNOT be combined with these
    * checkpoints: it resolves through a QueryExecutionListener, and the
    * materialization here is an RDD-level job on the plan's own query
    * execution (see [[checkpointWithStats]]'s rationale), which never
    * fires dataset-action listeners — `Observation.get` deadlocks
    * (found the hard way in the r11 streaming as-of fold). Reading
    * `queryExecution.observedMetrics` after the job is the
    * listener-free equivalent. In [[planOnly]] mode: identity frame and
    * an EMPTY map (no job ran) — callers must fall back to an explicit
    * agg if they still need the numbers.
    */
  def checkpointWithStatsObserved(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Map[String, org.apache.spark.sql.Row]) =
    if (planOnly(df.sparkSession)) (df, Map.empty)
    else {
      val out = checkpointVariantImpl(df, keepLayout = false)
      (out, df.queryExecution.observedMetrics)
    }

  /** [[checkpointWithStats]] that does NOT degrade to identity in
    * [[planOnly]] mode. For checkpoints inside inherently-eager loops
    * (the components fixed point): the loop runs jobs regardless, and a
    * plain eager checkpoint there would snapshot ORIGIN stats — in
    * planOnly mode the upstream stats checkpoints ARE identity, so the
    * origin estimate is the join-product of the whole uncut lineage and
    * the per-round squaring blow-up returns (measured: DumpPlans hung
    * >580 s planning x_components_incremental). Measured stats are the
    * only safe checkpoint for loop-fed frames in every mode.
    */
  def checkpointWithStatsEager(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    checkpointVariantImpl(df, keepLayout = false)

  /** [[checkpointWithStatsObserved]]'s eager twin — runs even in
    * [[planOnly]] mode, for observe-carrying frames inside inherently
    * eager loops (the components fixed point, which needs BOTH the
    * planOnly-proof checkpoint of [[checkpointWithStatsEager]] AND the
    * free convergence scalar of the observed variant: fusing the
    * per-round "did any label change" probe into the checkpoint's own
    * materialization job removes one action per round — r16).
    */
  def checkpointWithStatsObservedEager(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Map[String, org.apache.spark.sql.Row]) = {
    val out = checkpointVariantImpl(df, keepLayout = false)
    (out, df.queryExecution.observedMetrics)
  }

  /** [[checkpointWithStats]] that ALSO preserves the materialized
    * output partitioning/ordering. Use ONLY where the layout is
    * exploited by a downstream operator that consumes the frame ONCE
    * per plan (the co-partitioned PageRank rounds, the bucketed
    * walk-table decode): there it saves a per-round exchange.
    *
    * Do NOT use for frames referenced multiple times in one plan
    * (self-joins, multi-branch scalar aggregates): the analyzer clones
    * a multi-referenced LogicalRDD via `MultiInstanceRelation
    * .newInstance()`, each clone's partitioning expression carries its
    * own exprIds, and `RDDScanExec`'s canonical form keeps those raw
    * ids — so structurally identical subtrees over different clones
    * stop comparing equal and AQE's exchange reuse re-materializes
    * each one. Measured on triangleStats' edge checkpoint (consumed by
    * 2 degree aggregates + 2 joins): layout-preserving ran the degree
    * stages TWICE, +2 jobs and ~1.5 s of its 7.2 s at sf0.1 — the
    * named r7 bench regression. The layout-free form restores
    * exchange dedup (12 jobs → 10, matching the plain lazy checkpoint —
    * SCALE.md "Round 8 … Cause 1: layout-preserving checkpoints defeat
    * AQE exchange dedup").
    */
  def checkpointWithStatsLayout(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    checkpointVariant(df, keepLayout = true)

  /** Plan-inspection mode (session conf `spark.graft.planOnly=true`,
    * set by DumpPlans on its builder): stats checkpoints degrade to
    * LAZY checkpoints and count fallbacks are skipped, so constructing
    * an eager-contract DataFrame runs NO jobs — `explain` shows the full
    * unmaterialized derivation, which is what a committed plan record
    * wants anyway. Never set in production paths (Bench/Verify): the
    * measured-stats planning IS the production behavior.
    */
  def planOnly(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.get(PlanOnlyConf, "false").toBoolean

  val PlanOnlyConf = "spark.graft.planOnly"

  /** A lazy checkpoint that degrades to a NO-OP in [[planOnly]] mode —
    * even `localCheckpoint(eager = false)` materializes every upstream
    * AQE stage when the RDD is built (`AdaptiveSparkPlanExec.execute`
    * runs stage jobs to finalize the plan), so truly jobless
    * construction must skip the checkpoint altogether. The uncut plan
    * is exactly what a committed plan record wants.
    */
  def lazyCheckpoint(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (planOnly(df.sparkSession)) df else df.localCheckpoint(eager = false)

  private def checkpointVariant(df: org.apache.spark.sql.DataFrame,
      keepLayout: Boolean): org.apache.spark.sql.DataFrame =
    if (planOnly(df.sparkSession)) df else checkpointVariantImpl(df, keepLayout)

  private def checkpointVariantImpl(df: org.apache.spark.sql.DataFrame,
      keepLayout: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    // materialize through the plan's OWN query execution (not a fresh
    // Dataset.localCheckpoint), so the AQE-final physical plan — and its
    // partitioning/ordering — is inspectable afterwards. Stock
    // Dataset.checkpoint reads AdaptiveSparkPlanExec.outputPartitioning,
    // which is UnknownPartitioning (AQE doesn't override it), silently
    // dropping co-partitioning across every checkpoint.
    val internalRdd = qe.executedPlan.execute().map(_.copy())
    internalRdd.localCheckpoint()
    val rowCount = internalRdd.count() // materializes the blocks
    val finalPlan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    // rebind physical output attrs -> the logical output this LogicalRDD
    // will expose (positional: optimized output mirrors analyzed output)
    val logicalOut: Seq[Attribute] = qe.analyzed.output
    val rebind: Map[Expression, Attribute] =
      finalPlan.output.zip(logicalOut).toMap
    def remap(p: Partitioning): Partitioning = p match {
      case pc: PartitioningCollection => remap(pc.partitionings.head)
      case e: Expression with Partitioning @unchecked =>
        val mapped = e.transform {
          case a: Attribute => rebind.getOrElse(a, a)
        }
        // a partitioning keyed on a column NOT in the output can't be
        // relied on downstream
        if (mapped.references.forall(r => logicalOut.exists(_.exprId == r.exprId)))
          mapped.asInstanceOf[Partitioning]
        else UnknownPartitioning(p.numPartitions)
      case other => other
    }
    val partitioning =
      if (keepLayout) remap(finalPlan.outputPartitioning)
      else UnknownPartitioning(internalRdd.getNumPartitions)
    val ordering: Seq[SortOrder] =
      if (!keepLayout) Nil
      else finalPlan.outputOrdering.flatMap { so =>
        val mapped = so.transform { case a: Attribute => rebind.getOrElse(a, a) }
          .asInstanceOf[SortOrder]
        if (mapped.references.forall(r => logicalOut.exists(_.exprId == r.exprId)))
          Some(mapped)
        else None
      }
    // the block manager master's view, not `getRDDStorageInfo`: that one
    // reads the app status store, which the listener bus feeds
    // asynchronously, so under a busy bus it can miss blocks this job
    // just stored and measure the same frame smaller
    val stored = session.sparkContext.env.blockManager.master.getStorageStatus
      .iterator.flatMap(_.rddBlocks).collect {
        case (org.apache.spark.storage.RDDBlockId(id, _), st) if id == internalRdd.id =>
          st.memSize + st.diskSize
      }.sum
    val measured =
      if (stored > 0L) stored
      // blocks evicted: fall back to a width estimate so the stat is
      // still finite and row-count-accurate
      else rowCount * math.max(8L, qe.analyzed.schema.defaultSize.toLong)
    val stats = Statistics(
      sizeInBytes = BigInt(math.max(measured, 1L)),
      rowCount = Some(BigInt(rowCount)))
    // Snapshot the analyzed plan's CONSTRAINTS (non-null facts etc.) the
    // way Dataset.localCheckpoint's `LogicalRDD.fromDataset` does.
    // Dropping them (the r7 build passed None) makes the optimizer
    // re-derive `isnotnull` filters on every downstream scan of the
    // checkpoint, and those filters perturb the canonical plan forms
    // enough that AQE's exchange reuse stops deduplicating identical
    // aggregate subtrees over the checkpoint — measured as the
    // degree-aggregation stages running twice inside triangleStats
    // (the named r7→r8 bench regression; see SCALE.md round-8 row).
    // Output attrs are reused from qe.analyzed verbatim, so the
    // constraint set applies without rewriting.
    val restated = new LogicalRDD(
      logicalOut, internalRdd, partitioning, ordering,
      false, None)(session, Some(stats), Some(qe.analyzed.constraints))
    org.apache.spark.sql.classic.Dataset.ofRows(session, restated)
  }

  /** The session's auto-broadcast threshold in bytes (`sessionState` is
    * `@Unstable` and the byte-size parse lives in SQLConf — read it
    * there instead of re-parsing the conf string).
    */
  def autoBroadcastThresholdBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold

  /** One-line storage/blocks snapshot for leak hunting (Bench's
    * SPARK_GRAFT_BENCH_DIAG mode): block-manager memory/disk bytes and
    * block counts split by kind. `blockManager` is `private[spark]` —
    * this package sits inside org.apache.spark, the same bridge the
    * Column shim uses.
    */
  def storageDiag(sc: org.apache.spark.SparkContext): String = {
    val bm = sc.env.blockManager
    val ids = bm.getMatchingBlockIds(_ => true)
    val byKind = ids.groupBy {
      case _: org.apache.spark.storage.RDDBlockId => "rdd"
      case _: org.apache.spark.storage.BroadcastBlockId => "broadcast"
      case _: org.apache.spark.storage.ShuffleBlockId => "shuffle"
      case _ => "other"
    }.map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted.mkString(",")
    val status = bm.master.getMemoryStatus.values.headOption
    val (max, remaining) = status.getOrElse((0L, 0L))
    val shuffleDisk = {
      val dirs = sc.getConf.get("spark.local.dir", System.getProperty("java.io.tmpdir"))
        .split(",").map(new java.io.File(_)).filter(_.exists())
      def du(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
      dirs.collect { case d =>
        Option(d.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("blockmgr")).map(du).sum
      }.sum
    }
    f"storeUsedMB=${(max - remaining) / 1e6}%.0f blocks[$byKind] blockmgrDiskMB=${shuffleDisk / 1e6}%.0f"
  }

  /** Exact row count of a [[checkpointWithStats]] frame, read from the
    * injected statistics — no job. None for other plans.
    */
  def statsRowCount(df: org.apache.spark.sql.DataFrame): Option[Long] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.computeStats().rowCount.map(_.toLong)
      case _ => None
    }

  /** Byte size of a frame whose size is known without a job: the
    * measured footprint of a [[checkpointWithStats]] frame, the rows of
    * a `LocalRelation`, or the files of a plain file scan (what
    * Catalyst's own broadcast rule reads for them). None for other
    * plans — a derived plan's estimate is never consulted.
    */
  def statsSizeInBytes(df: org.apache.spark.sql.DataFrame): Option[Long] =
    df.queryExecution.analyzed match {
      case p @ (_: org.apache.spark.sql.execution.LogicalRDD |
                _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation |
                _: org.apache.spark.sql.execution.datasources.LogicalRelation) =>
        Some(p.stats.sizeInBytes.toLong)
      case _ => None
    }

  /** The one broadcast-small gate: whether a driver-side path (a
    * collect-and-solve, or a model inlined as literals) may take `df`.
    * True iff the session is not in [[planOnly]] mode, its
    * `spark.sql.autoBroadcastJoinThreshold` is positive, and the frame's
    * [[statsSizeInBytes]] lies in (0, threshold] — the same bytes a
    * broadcast join would ship to the driver. Setting the threshold to
    * -1 turns every driver-side path off, exactly as it turns off
    * broadcast joins; callers add only their own type and row checks.
    */
  def broadcastSmall(df: org.apache.spark.sql.DataFrame): Boolean = {
    val spark = df.sparkSession
    val limit = autoBroadcastThresholdBytes(spark)
    !planOnly(spark) && limit > 0L &&
      statsSizeInBytes(df).exists(sz => sz > 0L && sz <= limit)
  }
}
