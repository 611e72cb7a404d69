package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Hand-checked graph semantics: a 5-node graph whose triangle count,
  * wedge count, and degree sequence are enumerable on paper, plus the
  * PageRank invariants (rank conservation up to floor loss, isolated
  * symmetric graphs converging to uniform).
  */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  // K3 (1,2,3) + a pendant 4-5 edge + chord 3-4:
  //   edges: 1-2 1-3 2-3 3-4 4-5  → one triangle (1,2,3)
  private def fixture =
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")

  test("degrees: hand-checked sequence") {
    val d = Graph.degrees(fixture).as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
  }

  test("triangleStats: exactly one triangle, wedges counted at the minimal vertex") {
    val r = Graph.triangleStats(fixture).collect().head
    assert(r.getAs[Long]("nodes") == 5L)
    assert(r.getAs[Long]("edges") == 5L)
    assert(r.getAs[Long]("triangles") == 1L)
    // oriented wedges are a subset of all wedges; every triangle closes
    assert(r.getAs[Long]("wedges") >= r.getAs[Long]("triangles"))
  }

  test("triangleStats: K4 has four triangles") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val r = Graph.triangleStats(k4).collect().head
    assert(r.getAs[Long]("triangles") == 4L)
    assert(r.getAs[Long]("edges") == 6L)
  }

  test("both closure strategies agree exactly (adjacency intersect vs shuffled wedge join)") {
    // broadcastEdgeLimit = 0 forces the beyond-broadcast SHUFFLE_HASH
    // wedge pipeline; the default takes the adjacency-intersection
    // path. The full 4-tuple (nodes, edges, wedges, triangles) — and
    // the sampled estimator's — must be bit-identical on a graph with
    // triangles, open wedges, a pendant chain, and an isolated edge.
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (2L, 4L), (6L, 7L)).toDF("u", "v")
    val adj = Graph.triangleStats(g).collect().head
    val wedge = Graph.triangleStats(g, broadcastEdgeLimit = 0L).collect().head
    assert(adj.toSeq == wedge.toSeq,
      s"strategies disagree: adjacency=$adj wedge=$wedge")
    val adjS = Graph.triangleSample(g, sampleBuckets = 16).collect().head
    val wedgeS = Graph.triangleSample(g, sampleBuckets = 16,
      broadcastEdgeLimit = 0L).collect().head
    assert(adjS.toSeq == wedgeS.toSeq,
      s"sampled strategies disagree: adjacency=$adjS wedge=$wedgeS")
    // sampleBuckets = 16 keeps every center: the sampled counts must
    // equal the exact ones
    assert(adjS.getAs[Long]("wedges_sampled") == adj.getAs[Long]("wedges"))
    assert(adjS.getAs[Long]("triangles_sampled") == adj.getAs[Long]("triangles"))
  }

  test("adjacency closure: empty and single-edge graphs return zeros, not nulls") {
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    val r0 = Graph.triangleStats(empty).collect().head
    assert(r0.toSeq == Seq(0L, 0L, 0L, 0L), s"empty graph: $r0")
    val one = Seq((1L, 2L)).toDF("u", "v")
    val r1 = Graph.triangleStats(one).collect().head
    assert((r1.getAs[Long]("wedges"), r1.getAs[Long]("triangles")) == ((0L, 0L)))
  }

  test("pageRank: rank mass conserved up to floor loss, regular graph stays uniform") {
    // C4 cycle is 2-regular: uniform ranks are a fixed point
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    val r = Graph.pageRankScaled(c4, iters = 4).as[(Long, Long)].collect().toMap
    assert(r.values.toSet == Set(1000000L), s"expected uniform fixed point, got $r")

    // asymmetric graph: total mass stays within floor-division loss of n·scale
    val total = Graph.pageRankScaled(fixture, iters = 3)
      .agg(sum("rank")).as[Long].collect().head
    val n = 5L
    assert(total <= n * 1000000L && total > n * 1000000L - n * 100L,
      s"rank mass drifted: $total")
  }

  test("coOccurrenceEdges: pairs share a key, canonical u<v, no self-pairs") {
    val df = Seq((10L, 1L), (10L, 2L), (10L, 2L), (10L, 3L), (20L, 3L), (20L, 4L), (30L, 5L))
      .toDF("k", "i")
    val e = Graph.coOccurrenceEdges(df, "k", "i").as[(Long, Long)].collect().toSet
    assert(e == Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
  }

  test("coOccurrenceEdgesWeighted: weight counts distinct shared keys; duplicates don't inflate") {
    val df = Seq((10L, 1L), (10L, 2L), (10L, 2L), (20L, 1L), (20L, 2L), (30L, 2L), (30L, 3L))
      .toDF("k", "i")
    val w = Graph.coOccurrenceEdgesWeighted(df, "k", "i")
      .as[(Long, Long, Long)].collect().toSet
    assert(w == Set((1L, 2L, 2L), (2L, 3L, 1L))) // (1,2) in keys 10+20; dup (10,2) ignored
  }

  test("connectedComponents: min-id labeling over two components plus isolated-node exclusion") {
    // components {1,2,3} (triangle) and {7,8} (edge); node 9 never appears
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L)).toDF("u", "v")
    val c = Graph.connectedComponents(e).as[(Long, Long)].collect().toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("componentsIncremental: bridge edge merges two stored components, labels recompose to min") {
    // stored: {1,2,3} labeled 1, {7,8} labeled 7 — delta bridges 3-7 and
    // brings an unseen chain 20-21
    val e1 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L)).toDF("u", "v")
    val delta = Seq((3L, 7L), (20L, 21L)).toDF("u", "v")
    val inc = Graph.componentsIncremental(Graph.connectedComponents(e1), delta)
      .as[(Long, Long)].collect().toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 8L -> 1L,
      20L -> 20L, 21L -> 20L))
  }

  test("componentsIncremental == from-scratch components for arbitrary splits (randomized)") {
    val rnd = new scala.util.Random(7L)
    for (trial <- 1 to 3) {
      val all = (1 to 120).map(_ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }.distinct
      val (e1, e2) = all.partition(_ => rnd.nextBoolean())
      val e1Df = e1.toDF("u", "v"); val e2Df = e2.toDF("u", "v")
      val inc = Graph.componentsIncremental(
          Graph.connectedComponents(e1Df), e2Df)
        .as[(Long, Long)].collect().toMap
      val scratch = Graph.connectedComponents(e1Df.unionAll(e2Df))
        .as[(Long, Long)].collect().toMap
      assert(inc == scratch, s"trial $trial: ${inc.toSeq.sorted.take(5)}...")
    }
  }

  test("componentsIncremental: distributed path == driver-solved small path == from-scratch") {
    // the broadcast-small fast path (driver union-find) engages whenever
    // the measured delta fits the session broadcast threshold — i.e. for
    // every spec-sized delta. Force the DISTRIBUTED contraction solve by
    // disabling auto-broadcast, and pin all three against each other.
    val rnd = new scala.util.Random(23L)
    val all = (1 to 140).map(_ =>
      (rnd.nextInt(45).toLong, rnd.nextInt(45).toLong))
      .filter { case (a, b) => a != b }.distinct
    val (e1, e2) = all.partition(_ => rnd.nextBoolean())
    val labels = Graph.connectedComponents(e1.toDF("u", "v"))
      .localCheckpoint(true)
    val small = Graph.componentsIncremental(labels, e2.toDF("u", "v"))
      .as[(Long, Long)].collect().toMap
    val dist = withConf(BroadcastThreshold -> "-1")(
      Graph.componentsIncremental(labels, e2.toDF("u", "v"))
        .as[(Long, Long)].collect().toMap)
    val scratch = Graph.connectedComponents(all.toDF("u", "v"))
      .as[(Long, Long)].collect().toMap
    assert(small == scratch)
    assert(dist == scratch)
  }

  test("componentsIncremental fast-path boundary: paths agree astride the threshold; no driver collect above it") {
    // r10 VERDICT #6: the driver union-find engages iff the MEASURED
    // delta size fits the session broadcast threshold (Graph.scala's
    // smallDelta guard). Straddle that exact boundary: measure the
    // delta's checkpointed size, run once with the threshold AT the
    // size (fast path) and once just BELOW it (distributed), and pin
    // (a) both results equal from-scratch and (b) the driver-side
    // collect fires only on the at-threshold side — detected by stage
    // call stacks naming componentsIncrementalSmall (SQL jobs carry no
    // callSite properties; StageInfo.details does), with the fast-path
    // run as the positive control proving the detector sees it.
    val rnd = new scala.util.Random(41L)
    val all = (1 to 160).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.distinct
    val (e1, e2) = all.partition(_ => rnd.nextBoolean())
    val labels = Graph.connectedComponents(e1.toDF("u", "v"))
      .localCheckpoint(true)
    // measured size through the same machinery the guard reads
    val probe = org.apache.spark.sql.graft.shims.checkpointWithStats(
      e2.toDF("u", "v"))
    val sz = org.apache.spark.sql.graft.shims.statsSizeInBytes(probe).get
    org.apache.spark.sql.graft.shims.unpersistLocalCheckpoint(probe)
    assert(sz > 1)

    val smallPathJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.stageInfos.exists(_.details.contains("componentsIncrementalSmall")))
          smallPathJobs.incrementAndGet()
    }
    val scratch = Graph.connectedComponents(all.toDF("u", "v"))
      .as[(Long, Long)].collect().toMap
    def runAt(threshold: Long): (Map[Long, Long], Int) = {
      spark.sparkContext.addSparkListener(listener)
      smallPathJobs.set(0)
      try withConf(BroadcastThreshold -> threshold.toString) {
        val r = Graph.componentsIncremental(labels, e2.toDF("u", "v"))
          .as[(Long, Long)].collect().toMap
        org.apache.spark.sql.graft.shims.waitForListenerBus(spark.sparkContext)
        (r, smallPathJobs.get())
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (atThreshold, jobsAt) = runAt(sz)      // sz <= threshold → fast path
    val (below, jobsBelow) = runAt(sz - 1)     // sz >  threshold → distributed
    assert(atThreshold == scratch)
    assert(below == scratch)
    assert(jobsAt > 0, "positive control: fast path should collect via componentsIncrementalSmall")
    assert(jobsBelow == 0, "no driver collect may fire above the broadcast threshold")
  }

  test("availableNowComponents: stream-maintained labels equal from-scratch components") {
    val rnd = new scala.util.Random(11L)
    val all = (1 to 150).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.distinct
    val edges = all.toDF("u", "v")
    val streamed = Graph.availableNowComponents(spark, edges)
      .as[(Long, Long)].collect().toMap
    val scratch = Graph.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(streamed == scratch)
  }

  test("componentsIncremental edge cases: empty stored table, empty delta") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val none = Graph.connectedComponents(e).limit(0)
    val coldViaInc = Graph.componentsIncremental(none, e)
      .as[(Long, Long)].collect().toMap
    assert(coldViaInc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val labels = Graph.connectedComponents(e)
    val noDelta = Graph.componentsIncremental(labels, e.limit(0))
      .as[(Long, Long)].collect().toMap
    assert(noDelta == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("pageRankScaledWeighted: unit weights reduce exactly to the unweighted ranks") {
    // (rank·c) div (c·deg) == rank div deg as exact rationals, so the
    // weighted form with uniform weights must be bit-identical
    val weighted = fixture.withColumn("w", lit(1L))
    val a = Graph.pageRankScaledWeighted(weighted, iters = 3)
      .as[(Long, Long)].collect().toMap
    val b = Graph.pageRankScaled(fixture, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("pageRankScaledWeighted: weight asymmetry shifts rank toward the heavy edge") {
    // path 1-2-3 with 2's mass split 3:1 toward node 1
    val e = Seq((1L, 2L, 3L), (2L, 3L, 1L)).toDF("u", "v", "w")
    val r = Graph.pageRankScaledWeighted(e, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(r(1L) > r(3L), s"expected heavy-edge endpoint to outrank: $r")
  }

  test("pageRank co-partitioned mode: bit-identical to the broadcast mode") {
    // broadcastBytesLimit = 1 forces the past-the-cliff path on any input;
    // exact integer arithmetic means the two plans must agree exactly
    val bc = Graph.pageRankScaled(fixture, iters = 3)
      .as[(Long, Long)].collect().toMap
    val cp = Graph.pageRankScaled(fixture, iters = 3,
        broadcastBytesLimit = 1L, copartParts = 4)
      .as[(Long, Long)].collect().toMap
    assert(bc == cp)
    val wEdges = fixture.withColumn("w", lit(2L))
    val bcW = Graph.pageRankScaledWeighted(wEdges, iters = 3)
      .as[(Long, Long)].collect().toMap
    val cpW = Graph.pageRankScaledWeighted(wEdges, iters = 3,
        broadcastBytesLimit = 1L, copartParts = 4)
      .as[(Long, Long)].collect().toMap
    assert(bcW == cpW)
  }

  test("pageRank co-partitioned mode: rank joins are exchange-free shuffled-hash; edges never re-shuffle") {
    val df = Graph.pageRankScaled(fixture, iters = 2,
      broadcastBytesLimit = 1L, copartParts = 4)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"copart mode lost SHUFFLE_HASH:\n$p")
    assert(!p.contains("SortMergeJoin"), s"edge partitions being sorted:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"past-the-cliff mode must not assemble a broadcast:\n$p")
    // visible round = contrib join (exchange-free: both sides
    // pre-partitioned) + groupBy(dst) + reinit join (node-sized
    // exchanges only). The edge-side scan must NOT sit under an
    // exchange. Count the AQE FINAL section only (the dump repeats the
    // initial plan below it).
    val finalSection = p.split("== Initial Plan ==").head
    val exchanges = finalSection.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"too many exchanges for one round ($exchanges):\n$p")
  }

  test("pageRankResume: k stored + j resumed rounds == k+j cold rounds, through parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ranks_spec").toString
    val r3 = Graph.pageRankScaled(fixture, iters = 3)
    Graph.writeRanks(r3, tmp)
    val resumed = Graph.pageRankResume(fixture,
        Graph.readRanks(spark, tmp), iters = 2)
      .as[(Long, Long)].collect().toMap
    val cold = Graph.pageRankScaled(fixture, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(resumed == cold)
  }

  test("triangleSample: all 16 buckets reproduce the exact count; fewer buckets stay consistent") {
    val exact = Graph.triangleStats(fixture).collect().head
    val full = Graph.triangleSample(fixture, sampleBuckets = 16).collect().head
    assert(full.getAs[Long]("triangles_sampled") == exact.getAs[Long]("triangles"))
    assert(full.getAs[Long]("wedges_sampled") == exact.getAs[Long]("wedges"))
    assert(full.getAs[Long]("triangles_est") == exact.getAs[Long]("triangles"))
    // a strict sample: counts can only shrink, estimator scales exactly
    val half = Graph.triangleSample(fixture, sampleBuckets = 8).collect().head
    assert(half.getAs[Long]("wedges_sampled") <= full.getAs[Long]("wedges_sampled"))
    assert(half.getAs[Long]("triangles_est") ==
      half.getAs[Long]("triangles_sampled") * 16L / 8L)
  }

  test("coOccurrenceEdgesCapped: hot keys dropped, bounded keys unaffected") {
    // key 10 has 4 items (hot at cap=3); key 20 keeps its pair
    val df = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L), (20L, 2L), (20L, 5L))
      .toDF("k", "i")
    val capped = Graph.coOccurrenceEdgesCapped(df, "k", "i", maxItemsPerKey = 3L)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((2L, 5L)))
    // cap >= max group size: identical to the uncapped operator
    val uncapped = Graph.coOccurrenceEdges(df, "k", "i").as[(Long, Long)].collect().toSet
    val wide = Graph.coOccurrenceEdgesCapped(df, "k", "i", maxItemsPerKey = 10L)
      .as[(Long, Long)].collect().toSet
    assert(wide == uncapped)
  }

  test("kCorePeel: pendant chain peels away, the triangle core survives") {
    // fixture: triangle (1,2,3) + chain 3-4-5. 2-core = the triangle:
    // round 1 drops 5 (deg 1), round 2 drops 4 (its deg fell to 1),
    // round 3 is the fixed point — every survivor at degree 2.
    val got = Graph.kCorePeel(fixture, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))

    // fewer rounds than the peel depth: node 4 still present after 1
    val r1 = Graph.kCorePeel(fixture, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1.keySet == Set(1L, 2L, 3L, 4L))

    // a graph already at the core is a fixed point of more rounds
    val k3 = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("u", "v")
    assert(Graph.kCorePeel(k3, 2, 5).as[(Long, Long)].collect().toMap ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("bfsHops: exact hop distances, round cap, unreached nodes absent") {
    val g = fixture.unionAll(Seq((6L, 7L)).toDF("u", "v")) // 6-7 disconnected
    val seeds = Seq(1L).toDF("n")
    // full depth: 1→0, 2/3→1 (direct), 4→2 (via 3), 5→3 (via 4)
    val full = Graph.bfsHops(g, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(full == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L),
      s"got $full") // 6,7 unreached → absent
    // the cap truncates, it doesn't approximate: rounds=1 settles only
    // the direct neighbors
    val r1 = Graph.bfsHops(g, seeds, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("bfsHops: multi-source takes the min over seeds; duplicate seeds collapse") {
    val seeds = Seq(1L, 5L, 5L).toDF("n")
    val d = Graph.bfsHops(fixture, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    // 4 is adjacent to seed 5 → 1, not 2-via-3
    assert(d == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("ssspRounds: cheap 2-edge path beats the direct heavy edge once enough rounds run") {
    // 1-2 w5, 2-3 w5, 1-3 w20: from seed 1, d(3) is 20 after 1 round
    // (direct edge) and improves to 10 at round 2 via the changed
    // frontier — the improvement-replaces-earlier-value contract
    val g = Seq((1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 20L)).toDF("u", "v", "w")
    val seeds = Seq(1L).toDF("n")
    val r1 = Graph.ssspRounds(g, seeds, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 5L, 3L -> 20L))
    val r2 = Graph.ssspRounds(g, seeds, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
  }

  test("frontier loops early-exit at fixpoint: excess rounds cost no jobs and change nothing") {
    // fixture diameter from seed 1 is 3 — rounds=50 must terminate
    // after the first empty frontier instead of running 47 dead rounds
    // (each dead round = real per-round machinery at 100 TB). Result
    // identity is the oracle contract; the job-count bound is the
    // early-exit pin: without it, jobs grow linearly in `rounds`.
    val seeds = Seq(1L).toDF("n")
    def jobsDuring[A](f: => A): (A, Int) = {
      val tracker = spark.sparkContext.statusTracker
      val before = tracker.getJobIdsForGroup(null).length
      val r = f
      (r, tracker.getJobIdsForGroup(null).length - before)
    }
    // broadcast threshold -1 forces the DISTRIBUTED loop — this test
    // pins ITS early exit; a tiny fixture would otherwise take the
    // broadcast-small driver solve and trivially pass
    withConf(BroadcastThreshold -> "-1") {
      val (bfs50, nBfs) = jobsDuring(
        Graph.bfsHops(fixture, seeds, rounds = 50)
          .as[(Long, Long)].collect().toMap)
      val bfs3 = Graph.bfsHops(fixture, seeds, rounds = 3)
        .as[(Long, Long)].collect().toMap
      assert(bfs50 == bfs3)
      assert(nBfs < 40, s"bfsHops(rounds=50) ran $nBfs jobs — no early exit")

      val unit = fixture.withColumn("w", lit(1L))
      val (sssp50, nSssp) = jobsDuring(
        Graph.ssspRounds(unit, seeds, rounds = 50)
          .as[(Long, Long)].collect().toMap)
      assert(sssp50 == bfs3)
      assert(nSssp < 60, s"ssspRounds(rounds=50) ran $nSssp jobs — no early exit")

      val (core50, nCore) = jobsDuring(
        Graph.kCorePeel(fixture, k = 2, rounds = 50)
          .as[(Long, Long)].collect().toMap)
      assert(core50 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
      assert(nCore < 40, s"kCorePeel(rounds=50) ran $nCore jobs — no early exit")
    }
  }

  test("broadcast-small driver solves are row-identical to the distributed rounds") {
    // randomized differential (fixed seed) over all three fixed-round
    // operators: the r16 driver fast paths must reproduce the loops'
    // exact results — including the round CAP (not the fixpoint) and
    // the weighted min-merge algebra
    val rnd = new scala.util.Random(43)
    val raw = Seq.fill(250)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong,
        (rnd.nextInt(5) + 1).toLong))
      .filter { case (a, b, _) => a != b }
      .map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .distinct
    val g = raw.toDF("u", "v", "w")
    val seeds = raw.map(_._1).distinct.take(5).toDF("n")
    for (r <- Seq(1, 2, 3)) {
      val bfsF = Graph.bfsHops(g, seeds, r).as[(Long, Long)].collect().sorted.toSeq
      val bfsL = withConf(BroadcastThreshold -> "-1")(Graph.bfsHops(g, seeds, r)
        .as[(Long, Long)].collect().sorted.toSeq)
      assert(bfsF == bfsL, s"bfs rounds=$r diverged")
      val ssspF = Graph.ssspRounds(g, seeds, r).as[(Long, Long)].collect().sorted.toSeq
      val ssspL = withConf(BroadcastThreshold -> "-1")(Graph.ssspRounds(g, seeds, r)
        .as[(Long, Long)].collect().sorted.toSeq)
      assert(ssspF == ssspL, s"sssp rounds=$r diverged")
      val coreF = Graph.kCorePeel(g, k = 3, rounds = r)
        .as[(Long, Long)].collect().sorted.toSeq
      val coreL = withConf(BroadcastThreshold -> "-1")(Graph.kCorePeel(g, k = 3, rounds = r)
        .as[(Long, Long)].collect().sorted.toSeq)
      assert(coreF == coreL, s"kcore rounds=$r diverged")
    }
  }

  test("ssspRounds: unit weights reduce exactly to bfsHops") {
    val g = fixture // 1-2 1-3 2-3 3-4 4-5
    val unit = g.withColumn("w", lit(1L))
    val seeds = Seq(1L, 5L).toDF("n")
    val sssp = Graph.ssspRounds(unit, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    val bfs = Graph.bfsHops(g, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(sssp == bfs)
  }

  test("pageRankOnWalkTable: bit-identical to the in-memory loop; edges never exchange") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_walk_spec").toString
    try {
      Graph.writeWalkTable(fixture, "walk_spec", s"$tmp/walk", buckets = 4)
      val stored = Graph.pageRankOnWalkTable(spark, "walk_spec", buckets = 4, iters = 3)
      val inMem = Graph.pageRankScaled(fixture, iters = 3)
      assert(stored.as[(Long, Long)].collect().toMap ==
        inMem.as[(Long, Long)].collect().toMap)
      // layout contract, in two halves: with autoBucketedScan pinned
      // off (as the operator does for its decode) the table scans
      // bucket-aware, hash(src) from disk ...
      val scanPlan =
        withConf("spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")(
          spark.table("walk_spec").queryExecution.executedPlan.toString)
      assert(scanPlan.contains("Bucketed: true"), s"walk scan not bucketed:\n$scanPlan")
      // ... and the refresh never exchanges ON src anywhere — the one
      // edge decode lands in a partitioning-preserving checkpoint, so
      // an Exchange on src means the layout is being re-shuffled
      val plan = stored.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(src"),
        s"stored edges re-shuffled on src:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS walk_spec")
  }

  test("pageRankWeightedOnWalkTable: bit-identical to the in-memory weighted loop") {
    val wg = Seq((1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 2L), (3L, 4L, 5L))
      .toDF("u", "v", "w")
    val tmp = java.nio.file.Files.createTempDirectory("graft_wwalk_spec").toString
    try {
      Graph.writeWalkTableWeighted(wg, "wwalk_spec", s"$tmp/walk", buckets = 4)
      val stored = Graph.pageRankWeightedOnWalkTable(
        spark, "wwalk_spec", buckets = 4, iters = 3)
      val inMem = Graph.pageRankScaledWeighted(wg, iters = 3)
      assert(stored.as[(Long, Long)].collect().toMap ==
        inMem.as[(Long, Long)].collect().toMap)
    } finally spark.sql("DROP TABLE IF EXISTS wwalk_spec")
  }

  test("commonNeighborsTopKCapped: hub dropped as witness, kept as endpoint") {
    // star 1-{2,3,4,5} + edge 2-3; cap 3 excludes node 1 (deg 4) as a
    // witness: the 6 hub-mediated pairs vanish, but (1,2)/(1,3) —
    // witnessed by the bounded-degree nodes 3/2 — survive with the hub
    // as an ENDPOINT
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L)).toDF("u", "v")
    val capped = Graph.commonNeighborsTopKCapped(g, k = 30, maxCenterDeg = 3L)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L, 1L), (1L, 3L, 1L)))
    val uncapped = Graph.commonNeighborsTopK(g, k = 30)
      .as[(Long, Long, Long)].collect().toSet
    assert(uncapped.contains((2L, 3L, 1L)) && uncapped.size == 8)
  }

  test("commonNeighborsTopK: hand-checked counts, deterministic tie-break order") {
    // K4 minus edge (3,4): pair (3,4) has common {1,2}; (1,2) has {3,4};
    // all other adjacent pairs have exactly 1 common neighbor
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("u", "v")
    val top = Graph.commonNeighborsTopK(e, 3).as[(Long, Long, Long)].collect().toSeq
    assert(top.take(2).toSet == Set((1L, 2L, 2L), (3L, 4L, 2L)))
    assert(top(0) == (1L, 2L, 2L)) // ties order by (a, b)
    assert(top(2)._3 == 1L)
  }
}
