package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}
import graft.ext.Retrieval

class StreamingBm25Spec extends SparkSuite {
  import spark.implicits._

  private val Terms = Seq("vector", "spark", "window")

  test("drained streaming index probe equals the batch bm25TopK") {
    val drained = Retrieval.availableNowBm25(spark, sfDir)
      .collect().map(_.toString).toSeq
    val batch = Retrieval.bm25TopK(Tables.documents(spark, sfDir),
        "doc_id", "text", Terms, k = 20)
      .collect().map(_.toString).toSeq
    assert(drained == batch && drained.nonEmpty) // ordered top-k: exact list
  }

  test("hand-fed shards: maintained index == from-scratch build over the union; replay is a no-op") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val (aDocs, bDocs) =
      (docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0))
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_spec").toString
    val sink = Retrieval.bm25Sink(idx, "doc_id", "text") _
    sink(aDocs.toDF(), 0L)
    sink(bDocs.toDF(), 1L)
    val want = Retrieval.bm25TopK(docs, "doc_id", "text", Terms, k = 20)
      .collect().map(_.toString).toSeq
    def probe() = Retrieval.bm25TopKStored(spark, idx, "doc_id", Terms, k = 20)
      .collect().map(_.toString).toSeq
    assert(probe() == want && want.nonEmpty)
    // replayed batch overwrites its own shard bit-for-bit — no marker
    // needed because no state is additive
    sink(bDocs.toDF(), 1L)
    assert(probe() == want)
  }

  test("probe scan is pruned to the query terms' band partitions") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").limit(50)
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_prune").toString
    Retrieval.bm25Sink(idx, "doc_id", "text")(docs.toDF(), 0L)
    val p = Retrieval.bm25TopKStored(spark, idx, "doc_id", Terms, k = 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("tok_band"),
      s"band pruning lost on the streamed index:\n$p")
  }
}
