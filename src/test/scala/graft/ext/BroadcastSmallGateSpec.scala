package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graft.shims

import graft.SparkSuite

/** `shims.broadcastSmall` is the one switch of every driver-side path:
  * the Lloyd trainers' driver solve, the literal-centroid assigns, the
  * resolve cold solve and the fixed-round graph solves all run at the
  * default threshold and none of them runs at
  * `spark.sql.autoBroadcastJoinThreshold = -1`.
  */
class BroadcastSmallGateSpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(53)
  private val corpus = (0 until 40).map { i =>
    (i.toLong, Seq.fill(8)((rnd.nextDouble() - 0.5).toFloat))
  }.toDF("vec_id", "embedding")
  private val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)).toDF("u", "v")
  private val seeds = Seq(1L).toDF("n")

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Which driver-side paths fired, in one fixed order. */
  private def paths(): Seq[Boolean] = {
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 3, 2)
    val assign = Similarity.ivfTopK(corpus, corpus.limit(2), "vec_id", "embedding",
      3, 2, 2, 3).queryExecution.analyzed.toString
    val (_, rounds) = DedupOps.resolveComponentsCounted(
      edges.select($"u".as("doc_a"), $"v".as("doc_b")))
    Seq(isLocal(cents), assign.contains("least("), rounds == 0,
      isLocal(Graph.kCorePeel(edges, k = 2, rounds = 3)),
      isLocal(Graph.bfsHops(edges, seeds, rounds = 3)),
      isLocal(Graph.ssspRounds(edges.withColumn("w", org.apache.spark.sql.functions.lit(1L)),
        seeds, rounds = 3)))
  }

  test("every driver-side path fires at the default threshold and none at -1") {
    assert(paths() == Seq.fill(6)(true), "positive control: default threshold")
    assert(withConf(BroadcastThreshold -> "-1")(paths()) == Seq.fill(6)(false))
  }

  test("a stored model dir passes the gate by its file size, like a broadcast scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_spec").toString
    corpus.limit(4).write.mode("overwrite").parquet(dir)
    val stored = spark.read.schema(corpus.schema).parquet(dir)
    assert(shims.statsSizeInBytes(stored).exists(_ > 0L))
    assert(shims.broadcastSmall(stored))
    assert(!withConf(BroadcastThreshold -> "-1")(shims.broadcastSmall(stored)))
    assert(!withConf(shims.PlanOnlyConf -> "true")(shims.broadcastSmall(stored)))
    // a derived plan's estimate is never read
    assert(shims.statsSizeInBytes(stored.filter($"vec_id" > 0L)).isEmpty)
  }
}
