package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}
import graft.ext.Similarity

class StreamingAnnSpec extends SparkSuite {

  private def emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
  private def queries = emb.filter(col("vec_id") < 10)

  test("drained streaming lists probe equals the batch stored-index search") {
    val drained = Similarity.availableNowIvf(spark, sfDir)
      .collect().map(_.toString).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft_ann_spec_batch").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding",
      nClusters = 4, iterations = 2, path = path)
    val batch = Similarity.ivfTopKStored(spark, path, queries,
        "vec_id", "embedding", nProbe = 2, k = 3)
      .withColumn("cluster_id", col("cluster_id").cast("bigint"))
      .collect().map(_.toString).toSeq
    assert(drained == batch && drained.nonEmpty) // ordered top-k: exact list
  }

  test("hand-fed shards: maintained lists == from-scratch build for any split; replay is a no-op") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_spec").toString
    Similarity.writeIvfModel(emb, "vec_id", "embedding",
      nClusters = 4, iterations = 2, path = idx)
    val sink = Similarity.ivfSink(idx, "vec_id", "embedding") _
    sink(emb.filter(col("vec_id") % 2 === 0).toDF(), 0L)
    sink(emb.filter(col("vec_id") % 2 =!= 0).toDF(), 1L)
    def probe() = Similarity.ivfTopKStored(spark, idx, queries,
        "vec_id", "embedding", nProbe = 2, k = 3)
      .collect().map(_.toString).toSeq
    val got = probe()
    // one-shot maintained index over the full corpus
    val one = java.nio.file.Files.createTempDirectory("graft_ann_spec_one").toString
    Similarity.writeIvfModel(emb, "vec_id", "embedding",
      nClusters = 4, iterations = 2, path = one)
    Similarity.ivfSink(one, "vec_id", "embedding")(emb.toDF(), 0L)
    val want = Similarity.ivfTopKStored(spark, one, queries,
        "vec_id", "embedding", nProbe = 2, k = 3)
      .collect().map(_.toString).toSeq
    assert(got == want && want.nonEmpty)
    // replayed batch overwrites its own shard bit-for-bit — no marker
    // needed because no state is additive
    sink(emb.filter(col("vec_id") % 2 =!= 0).toDF(), 1L)
    assert(probe() == want)
  }

  test("streamed probe reads BIGINT ids whatever the query id type") {
    // the t13 chain's index, drained the way availableNowIvf drains it,
    // probed with INT query ids: the lists schema is the stored one,
    // not the query frame's
    val work = java.nio.file.Files.createTempDirectory("graft_ann_spec_types").toString
    Similarity.writeIvfModel(emb, "vec_id", "embedding",
      nClusters = 4, iterations = 2, path = s"$work/index")
    Drain.run(Drain.splitStream(emb, s"$work/vecs"), "append")(
      Similarity.ivfSink(s"$work/index", "vec_id", "embedding") _)
    val intQueries = queries.withColumn("vec_id", col("vec_id").cast("int"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.select(df.columns.map(c => col(c).cast("string")).toSeq: _*)
        .collect().map(_.toSeq).toSeq
    val expected = rows(Similarity.availableNowIvf(spark, sfDir))
    assert(expected.nonEmpty)
    val probe = Similarity.ivfTopKStored(spark, s"$work/index", intQueries,
      "vec_id", "embedding", nProbe = 2, k = 3)
    assert(rows(probe) == expected)
    // the shard scan still prunes unprobed cells
    assert(probe.queryExecution.executedPlan.toString.contains("dynamicpruning"))
  }

  test("missing lists store probes as typed empty, not an error") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_spec_empty").toString
    Similarity.writeIvfModel(emb, "vec_id", "embedding",
      nClusters = 4, iterations = 2, path = idx)
    val out = Similarity.ivfTopKStored(spark, idx, queries,
      "vec_id", "embedding", nProbe = 2, k = 3)
    assert(out.count() == 0)
    assert(out.columns.toSeq ==
      Seq("query_id", "neighbor_id", "cluster_id", "cos_sim"))
  }
}
