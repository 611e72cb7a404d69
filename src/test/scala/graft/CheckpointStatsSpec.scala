package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

/** Contract of `shims.checkpointWithStats` — the engine-level fix for
  * the "checkpointed frames carry no size stats" hazard that previously
  * forced per-site broadcast / SHUFFLE_HASH hints in every iterative
  * operator (PageRank rounds, IVF probe joins, triangle closure).
  */
class CheckpointStatsSpec extends SparkSuite {

  test("injects measured sizeInBytes and exact rowCount into the plan stats") {
    // a derived plan (agg over project): the stock checkpoint would
    // carry the SizeInBytesOnly estimate of the ORIGINAL plan here
    val dim = spark.range(1000).selectExpr("id as k", "id * 2 as v")
      .groupBy("k").agg(sum("v").as("s"))
    val cp = shims.checkpointWithStats(dim)
    try {
      val stats = cp.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(1000)), s"rowCount: ${stats.rowCount}")
      assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 10L * 1024 * 1024,
        s"sizeInBytes not the measured footprint: ${stats.sizeInBytes}")
      assert(shims.statsRowCount(cp).contains(1000L))
      assert(cp.count() == 1000L)
    } finally shims.unpersistLocalCheckpoint(cp)
  }

  test("measured size is the stored blocks' footprint, whatever the status queue's lag") {
    // getRDDStorageInfo reads the app status store, fed by the async
    // listener bus: with the status queue lagging, it missed blocks the
    // checkpoint job had just stored, so the same frame measured smaller
    // (the GraphSpec fast-path boundary flake). Eight partitions, so a
    // lagging store would miss some of them.
    import spark.implicits._
    def size(): Long = {
      val cp = shims.checkpointWithStats((0 until 400).map(i => (i.toLong, i * 7L)).toDF("u", "v")
        .repartition(8))
      try shims.statsSizeInBytes(cp).get finally shims.unpersistLocalCheckpoint(cp)
    }
    val quiet = size()
    val lagging = org.apache.spark.sql.graft.TestBlocks.withSlowStatusQueue(
      spark.sparkContext, delayMs = 20)(Seq.fill(3)(size()))
    assert(lagging.forall(_ == quiet), s"quiet $quiet, lagging $lagging")
  }

  test("observed-eager variant: metrics collected during the one materialization job") {
    // the r16 components-loop fusion: convergence ("did any label
    // change") rides the checkpoint's own materialization as an
    // observe metric instead of a second action over the blocks —
    // pin that the metric arrives, matches an explicit recount, and
    // that the checkpoint still carries measured stats
    val df = spark.range(100)
      .selectExpr("id as doc_id", "id - (id % 10) as label", "id as prev_label")
    val (cp, obs) = shims.checkpointWithStatsObservedEager(
      df.observe("__chg", sum(when(col("label") < col("prev_label"), 1L)
          .otherwise(0L)).as("changed"))
        .select(col("doc_id"), col("label")))
    try {
      val expected = df.filter(col("label") < col("prev_label")).count()
      assert(obs.contains("__chg"), s"metric missing: ${obs.keys}")
      assert(obs("__chg").getLong(0) == expected,
        s"observed ${obs("__chg")} vs recount $expected")
      // projection above the observe drops prev_label from the blocks
      assert(cp.columns.toSeq == Seq("doc_id", "label"))
      assert(shims.statsRowCount(cp).contains(100L))
    } finally shims.unpersistLocalCheckpoint(cp)
  }

  test("a checkpointed node-sized table auto-broadcasts — no hand hint") {
    val big = spark.range(200000).selectExpr("id % 1000 as k", "id as payload")
    val dim = shims.checkpointWithStats(
      spark.range(1000).selectExpr("id as k", "id * 3 as w")
        .groupBy("k").agg(max("w").as("w")))
    try {
      val joined = big.join(dim, "k")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"measured stats should drive an automatic broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"stats-less fallback (sort-merge) still present:\n$p")
    } finally shims.unpersistLocalCheckpoint(dim)
  }

  test("Layout variant preserves hash partitioning (co-partitioned joins stay exchange-free)") {
    // the DEFAULT checkpointWithStats deliberately drops the layout —
    // preserving it breaks AQE exchange dedup on multi-referenced
    // frames (see the shim's scaladoc; round-8 regression hunt) — so
    // co-partitioned loops opt in via checkpointWithStatsLayout
    val a = shims.checkpointWithStatsLayout(
      spark.range(5000).selectExpr("id as k", "id * 2 as va").repartition(8, col("k")))
    val b = shims.checkpointWithStatsLayout(
      spark.range(5000).selectExpr("id as k", "id * 3 as vb").repartition(8, col("k")))
    try {
      // force a non-broadcast join so the partitioning requirement is live
      val joined = a.join(b.hint("SHUFFLE_HASH"), "k")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"co-partitioned checkpoint inputs re-shuffled:\n$p")
    } finally { shims.unpersistLocalCheckpoint(a); shims.unpersistLocalCheckpoint(b) }
  }

  test("default checkpoint drops the layout and snapshots constraints") {
    val cp = shims.checkpointWithStats(
      spark.range(1000).selectExpr("id as k", "id * 2 as v").repartition(8, col("k")))
    try {
      val lr = cp.queryExecution.analyzed
        .collectFirst { case l: org.apache.spark.sql.execution.LogicalRDD => l }.get
      assert(lr.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning],
        s"default must not preserve layout: ${lr.outputPartitioning}")
      // constraints snapshot: joining on k must not re-derive an
      // isnotnull Filter over the checkpoint scan (the r7 omission that
      // perturbed canonical forms downstream)
      val joined = cp.join(spark.range(10).selectExpr("id as k"), "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Filter isnotnull"),
        s"constraints not snapshotted — optimizer re-derived null filters:\n$p")
    } finally shims.unpersistLocalCheckpoint(cp)
  }

  test("planOnly mode: constructing an eager-contract query runs zero jobs (DumpPlans contract)") {
    val tracker = spark.sparkContext.statusTracker
    withConf(shims.PlanOnlyConf -> "true") {
      val before = tracker.getJobIdsForGroup(null).length
      val df = SparkEntry.queries("x_triangle_stats")(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // the one allowed job is parquet FOOTER/schema discovery on first
      // table read (1-task metadata job) — what must NOT run is the
      // edge derivation (the co-occurrence self-join + checkpoint)
      val after = tracker.getJobIdsForGroup(null).length
      assert(after - before <= 1,
        s"plan-only construction ran ${after - before} jobs")
      // and the plan shows the UNCUT derivation, not checkpoint blocks
      assert(plan.contains("lineitem") && !plan.contains("ExistingRDD"),
        s"planOnly should expose the full derivation:\n$plan")
    }
  }

  test("a multi-referenced default checkpoint keeps AQE exchange dedup (round-8 regression pin)") {
    // the triangleStats shape in miniature: one checkpointed edge list,
    // referenced by TWO structurally identical degree aggregates that
    // are crossJoined — with layout preserved, the analyzer's
    // newInstance() clones defeat canonical equality and AQE
    // materializes the identical agg exchange twice (the measured
    // r7 4.2→7.2 s regression); the layout-free default dedupes it
    val e = shims.checkpointWithStats(
      spark.range(20000).selectExpr("id % 500 as u", "id % 700 as v"))
    try {
      // orientByDegree in miniature: the same degree aggregate joined
      // once on u and once on v — the two deg subtrees are identical,
      // so exactly one must materialize
      def degAgg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val df = e
        .join(degAgg.select(col("n").as("u"), col("deg").as("du")).hint("SHUFFLE_HASH"), "u")
        .join(degAgg.select(col("n").as("v"), col("deg").as("dv")).hint("SHUFFLE_HASH"), "v")
      // collect, not a noop write: a write runs a SEPARATE
      // QueryExecution, so df.queryExecution would stay unfinalized
      // and never show the runtime stage reuse being asserted
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val reused = "ReusedExchange".r.findAllIn(p).size +
        "ReusedQueryStage".r.findAllIn(p).size
      assert(reused >= 1,
        s"identical deg subtrees over the checkpoint were not deduped:\n$p")
    } finally shims.unpersistLocalCheckpoint(e)
  }

  test("iterative solves keep finite plan stats — no join-product BigInt growth (r9 hazard pin)") {
    // plain eager localCheckpoint copies the origin plan's join-PRODUCT
    // size estimate into the LogicalRDD, so a loop joining its own
    // checkpoint SQUARES the carried BigInt per round (digit count
    // ~2^rounds); nesting two solves (componentsIncremental) reached
    // ~1e5-digit sizeInBytes and >1000 s of driver CPU inside stats
    // estimation. The loop's measured-stats checkpoints keep every
    // plan's sizeInBytes physically plausible — pin it with a digit
    // budget that exponential growth blows through on round one.
    import spark.implicits._
    val rnd = new scala.util.Random(3L)
    val edges = (1 to 200).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct.toDF("u", "v")
    val labels = ext.Graph.connectedComponents(edges)
    val solveDigits =
      labels.queryExecution.optimizedPlan.stats.sizeInBytes.toString(10).length
    assert(solveDigits <= 20,
      s"components output stats carry $solveDigits digits — origin-stats checkpoint leaked back in")
    // the nested case: incremental fold seeded by the first solve
    val inc = ext.Graph.componentsIncremental(labels,
      Seq((1L, 200L), (200L, 201L)).toDF("u", "v"))
    val incDigits =
      inc.queryExecution.optimizedPlan.stats.sizeInBytes.toString(10).length
    assert(incDigits <= 40,
      s"incremental-fold plan stats carry $incDigits digits — nesting re-grows the estimate")
  }
}
