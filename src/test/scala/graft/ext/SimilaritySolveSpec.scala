package graft.ext

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.SparkSuite

/** Differential pins for the r17 broadcast-small DRIVER-SOLVED Lloyd
  * trainers (the GraphSpec fixed-round pattern): the local twin must
  * reproduce the distributed loop's centroids/codebooks bit-for-bit,
  * and every gate-failure shape must fall through to the loop.
  */
class SimilaritySolveSpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(47)

  private def corpus(n: Int, dims: Int, idStep: Int = 1) =
    (0 until n).map { i =>
      (i.toLong * idStep,
        Seq.fill(dims)((rnd.nextDouble() * 1.2 - 0.6).toFloat))
    }.toDF("vec_id", "embedding")

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Int, Seq[Float])] =
    df.as[(Int, Seq[Float])].collect().sortBy(r => (r._1, r._2.mkString(","))).toSeq

  private def pqRowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Seq[Float])] =
    df.as[(Int, Int, Seq[Float])].collect().sortBy(r => (r._1, r._2)).toSeq

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  test("driver-solved ivfCentroids == distributed loop (randomized differential)") {
    for ((n, k, iters) <- Seq((60, 4, 2), (60, 7, 3), (3, 8, 2), (25, 1, 1))) {
      val c = corpus(n, 16)
      val fast = Similarity.ivfCentroids(c, "vec_id", "embedding", k, iters)
      val loop = withConf(BroadcastThreshold -> "-1")(
        Similarity.ivfCentroids(c, "vec_id", "embedding", k, iters))
      assert(isLocal(fast), s"fast path did not engage at n=$n k=$k")
      assert(!isLocal(loop))
      assert(rowsOf(fast) == rowsOf(loop), s"ivf diverged at n=$n k=$k iters=$iters")
    }
  }

  test("driver-solved pqCodebooks == distributed loop (randomized differential)") {
    for ((n, m, subDim, ks, iters) <- Seq((50, 4, 4, 4, 2), (50, 2, 8, 3, 3), (2, 4, 4, 4, 2))) {
      val c = corpus(n, m * subDim)
      val fast = Similarity.pqCodebooks(c, "vec_id", "embedding", m, subDim, ks, iters)
      val loop = withConf(BroadcastThreshold -> "-1")(
        Similarity.pqCodebooks(c, "vec_id", "embedding", m, subDim, ks, iters))
      assert(isLocal(fast), s"fast path did not engage at n=$n m=$m")
      assert(pqRowsOf(fast) == pqRowsOf(loop), s"pq diverged at n=$n m=$m ks=$ks")
    }
  }

  test("gate bails to the distributed loop on shapes the twin does not cover") {
    // duplicate ids: the relational groupBy(id) collapses them — local bails
    val dup = (Seq((1L, Seq.fill(8)(0.1f)), (1L, Seq.fill(8)(0.2f))) ++
      (2 to 10).map(i => (i.toLong, Seq.fill(8)(i / 10.0f)))).toDF("vec_id", "embedding")
    assert(!isLocal(Similarity.ivfCentroids(dup, "vec_id", "embedding", 2, 1)))
    // null vector: the loop's null-dist algebra — local bails
    val withNull = corpus(10, 8).union(
      Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    assert(!isLocal(Similarity.ivfCentroids(withNull, "vec_id", "embedding", 2, 1)))
    // non-uniform dims: ditto
    val ragged = corpus(10, 8).union(Seq((99L, Seq.fill(5)(0.1f))).toDF("vec_id", "embedding"))
    assert(!isLocal(Similarity.ivfCentroids(ragged, "vec_id", "embedding", 2, 1)))
    // pq: length != m*subDim
    assert(!isLocal(Similarity.pqCodebooks(corpus(10, 9), "vec_id", "embedding", 4, 4, 2, 1)))
    // non-long id type
    val strId = (0 until 10).map(i => (s"d$i", Seq.fill(8)(i / 10.0f))).toDF("vec_id", "embedding")
    assert(!isLocal(Similarity.ivfCentroids(strId, "vec_id", "embedding", 2, 1)))
    // broadcast threshold off
    assert(!isLocal(withConf(BroadcastThreshold -> "-1")(
      Similarity.ivfCentroids(corpus(10, 8), "vec_id", "embedding", 2, 1))))
  }

  test("driver twin sums scaled terms in BIGINT, like the loop, past 2^53") {
    // dim 0 terms: 0, ~1e18, 1e6, -~1e18. A double accumulator rounds the
    // 1e6 term away next to ~1e18; the BIGINT sum keeps it exactly.
    val c = Seq((0L, Seq(0f, 0f)), (1L, Seq(1e12f, 1f)), (2L, Seq(1f, 2f)),
      (3L, Seq(-1e12f, 3f))).toDF("vec_id", "embedding")
    val fast = Similarity.ivfCentroids(c, "vec_id", "embedding", 1, 1)
    val loop = withConf(BroadcastThreshold -> "-1")(
      Similarity.ivfCentroids(c, "vec_id", "embedding", 1, 1))
    assert(isLocal(fast) && !isLocal(loop))
    assert(rowsOf(fast) == rowsOf(loop))
    assert(rowsOf(fast) == Seq((0, Seq(0.25f, 1.5f))))
    val pqFast = Similarity.pqCodebooks(c, "vec_id", "embedding", 2, 1, 1, 1)
    assert(isLocal(pqFast))
    assert(pqRowsOf(pqFast) == pqRowsOf(withConf(BroadcastThreshold -> "-1")(
      Similarity.pqCodebooks(c, "vec_id", "embedding", 2, 1, 1, 1))))
  }

  test("empty corpus: both paths yield an empty model") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.ivfCentroids(empty, "vec_id", "embedding", 4, 2).count() == 0)
    assert(withConf(BroadcastThreshold -> "-1")(
      Similarity.ivfCentroids(empty, "vec_id", "embedding", 4, 2)).count() == 0)
  }

  test("literal-centroid assigns == relational assigns (whole-query differential)") {
    // a null-vec row rides along: the trainers bail to the distributed
    // loop on it, and the assigns' null-distance algebra must match
    // between the literal least() chain and the relational min(struct)
    val c = corpus(40, 16).union(
      Seq((990L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val q = corpus(40, 16).filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    def run(): Seq[String] = {
      val ivf = Similarity.ivfTopK(c, q, "vec_id", "embedding", 3, 2, 2, 3)
      val pq = Similarity.pqTopK(c, q, "vec_id", "embedding", 4, 4, 3, 2, 3)
      val ivfpq = Similarity.ivfPqTopK(c, q, "vec_id", "embedding", 3, 2, 4, 4, 3, 2, 2, 3)
      (ivf.collect() ++ pq.collect() ++ ivfpq.collect()).map(_.toString).sorted.toSeq
    }
    val lit = run()
    val rel = withConf(BroadcastThreshold -> "-1")(run())
    assert(lit == rel, "literal-assign diverged from relational assign")
  }

  test("sampled trainers ride the same solve: output unchanged") {
    val c = corpus(300, 16)
    val fast = Similarity.ivfCentroidsSampled(c, "vec_id", "embedding",
      nClusters = 3, iterations = 2, trainPerCluster = 16)
    val viaLoop = withConf(BroadcastThreshold -> "-1")(Similarity.ivfCentroids(
      org.apache.spark.sql.graft.shims.checkpointWithStats(
        c.orderBy(org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("vec_id").cast("string")),
          org.apache.spark.sql.functions.col("vec_id")).limit(48)),
      "vec_id", "embedding", 3, 2))
    assert(rowsOf(fast) == rowsOf(viaLoop))
  }
}
