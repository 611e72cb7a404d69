package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}
import graft.ext.Similarity

/** The t14 contract: a stream-maintained IVF-PQ code table (per-batch
  * residual encode against the standing model into `batch=` shards)
  * probes identically to the from-scratch [[Similarity.writeIvfPqIndex]]
  * build — for any micro-batch split and under replay.
  */
class StreamingIvfPqSpec extends SparkSuite {

  private def emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
  private def queries = emb.filter(col("vec_id") < 10)

  test("drained streaming codes probe equals the batch stored-index search") {
    val drained = Similarity.availableNowIvfPq(spark, sfDir)
      .collect().map(_.toString).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec_batch").toString
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding",
      nCoarse = 4, coarseIters = 2, m = 4, subDim = 16, ks = 4,
      pqIters = 2, path = path)
    val batch = Similarity.ivfPqTopKStored(spark, path, queries,
        "vec_id", "embedding", m = 4, subDim = 16, nProbe = 2, k = 3)
      .collect().map(_.toString).toSeq
    assert(drained == batch && drained.nonEmpty) // ordered top-k: exact list
  }

  test("hand-fed shards: maintained codes == from-scratch build for any split; replay is a no-op") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec").toString
    Similarity.writeIvfPqModel(emb, "vec_id", "embedding", nCoarse = 4,
      coarseIters = 2, m = 4, subDim = 16, ks = 4, pqIters = 2, path = idx)
    val sink = Similarity.ivfPqSink(idx, "vec_id", "embedding", m = 4, subDim = 16) _
    sink(emb.filter(col("vec_id") % 2 === 0).toDF(), 0L)
    sink(emb.filter(col("vec_id") % 2 =!= 0).toDF(), 1L)
    def probe() = Similarity.ivfPqTopKStored(spark, idx, queries,
        "vec_id", "embedding", m = 4, subDim = 16, nProbe = 2, k = 3)
      .collect().map(_.toString).toSeq
    val got = probe()
    // one-shot maintained index over the full corpus — same model, one shard
    val one = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec_one").toString
    Similarity.writeIvfPqModel(emb, "vec_id", "embedding", nCoarse = 4,
      coarseIters = 2, m = 4, subDim = 16, ks = 4, pqIters = 2, path = one)
    Similarity.ivfPqSink(one, "vec_id", "embedding", m = 4, subDim = 16)(emb.toDF(), 0L)
    val want = Similarity.ivfPqTopKStored(spark, one, queries,
        "vec_id", "embedding", m = 4, subDim = 16, nProbe = 2, k = 3)
      .collect().map(_.toString).toSeq
    assert(got == want && want.nonEmpty)
    // replayed batch overwrites its own shard bit-for-bit
    sink(emb.filter(col("vec_id") % 2 =!= 0).toDF(), 1L)
    assert(probe() == want)
  }

  test("streamed probe reads BIGINT ids whatever the query id type") {
    // the t14 chain's index, drained the way availableNowIvfPq drains
    // it, probed with INT query ids: the codes schema is the stored one,
    // not the query frame's
    val work = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec_types").toString
    Similarity.writeIvfPqModel(emb, "vec_id", "embedding", nCoarse = 4,
      coarseIters = 2, m = 4, subDim = 16, ks = 4, pqIters = 2, path = s"$work/index")
    Drain.run(Drain.splitStream(emb, s"$work/vecs"), "append")(
      Similarity.ivfPqSink(s"$work/index", "vec_id", "embedding", m = 4, subDim = 16) _)
    val intQueries = queries.withColumn("vec_id", col("vec_id").cast("int"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.select(df.columns.map(c => col(c).cast("string")).toSeq: _*)
        .collect().map(_.toSeq).toSeq
    val expected = rows(Similarity.availableNowIvfPq(spark, sfDir))
    assert(expected.nonEmpty)
    assert(rows(Similarity.ivfPqTopKStored(spark, s"$work/index", intQueries,
      "vec_id", "embedding", m = 4, subDim = 16, nProbe = 2, k = 3)) == expected)
  }
}
