package graft.ext

import graft.SparkSuite

class ResolveSpec extends SparkSuite {
  import spark.implicits._

  test("resolveComponents: transitive chains collapse to the component min") {
    // two components: {1-2, 2-3, 3-4} chain (diameter 3) and {10-11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = DedupOps.resolveComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("resolveComponents keeps singletons out (only paired docs appear)") {
    val pairs = Seq((5L, 7L)).toDF("doc_a", "doc_b")
    assert(DedupOps.resolveComponents(pairs).count() == 2)
  }

  test("pointer jumping: a 64-node chain converges in O(log n) rounds, not O(diameter)") {
    // worst case for label propagation: one chain 1-2-…-64 (diameter 63).
    // Plain neighbor-min moves the min one hop per round (63 rounds);
    // with the l(l(v)) shortcut the reach doubles, so ~log2(63)+ε rounds.
    // This is the guard that keeps scale-up runs honest about iteration
    // growth: a super-logarithmic round count here is a regression.
    // broadcast threshold -1: force the DISTRIBUTED loop — these two
    // tests pin ITS round counts; a tiny graph would otherwise take the
    // broadcast-small driver solve (rounds = 0)
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = withConf(BroadcastThreshold -> "-1")(
      DedupOps.resolveComponentsCounted(pairs))
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == 64 && got.forall(_._2 == 1L))
    assert(rounds > 0, "fast path not disabled")
    assert(rounds <= 10, s"diameter-63 chain took $rounds rounds")
  }

  test("round telemetry: star graph converges in 2 rounds (1 step + 1 confirm)") {
    val pairs = (2L to 9L).map(i => (1L, i)).toDF("doc_a", "doc_b")
    val (labels, rounds) = withConf(BroadcastThreshold -> "-1")(
      DedupOps.resolveComponentsCounted(pairs))
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 1L))
    assert(rounds > 0 && rounds <= 2, s"star took $rounds rounds")
  }

  test("broadcast-small driver solve is row-identical to the distributed loop") {
    // randomized differential (fixed seed): the r16 cold-solve fast
    // path must reproduce the loop's exact min-id labeling on every
    // shape the loop handles — chains, merges, singleton pairs
    val rnd = new scala.util.Random(41)
    val pairs = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("doc_a", "doc_b")
    val fast = DedupOps.resolveComponentsCounted(pairs)
    val loop = withConf(BroadcastThreshold -> "-1")(
      DedupOps.resolveComponentsCounted(pairs))
    assert(fast._2 == 0, s"expected the driver solve, rounds=${fast._2}")
    assert(loop._2 > 0)
    assert(fast._1.as[(Long, Long)].collect().sorted.toSeq ==
      loop._1.as[(Long, Long)].collect().sorted.toSeq)
  }
}
