package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

/** One shard layout per index: a batch build is shard 0 of the table
  * the streaming sinks append to, so a built index extended by sink
  * shards probes as one index over the union, and a rebuild replaces
  * every shard.
  */
class ShardedIndexSpec extends SparkSuite {

  private val Terms = Seq("vector", "spark", "window")

  private def emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
  private def queries = emb.filter(col("vec_id") < 10)
  private def docs = Tables.documents(spark, sfDir).select("doc_id", "text")
  private def dir(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** The child dirs of a shard table's root. */
  private def shards(root: String): Seq[String] =
    new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq

  test("a built IVF index extended by one ivfSink shard probes as a build over the union") {
    val path = dir("sharded_ivf")
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      nClusters = 4, iterations = 2, path = path)
    Similarity.ivfSink(path, "vec_id", "embedding")(emb.filter(col("vec_id") % 2 =!= 0), 1L)
    assert(shards(s"$path/lists") == Seq("batch=0", "batch=1"))
    val got = rows(Similarity.ivfTopKStored(spark, path, queries, "vec_id", "embedding",
      nProbe = 2, k = 3))
    // the union indexed against the same standing centroids
    val want = rows(Similarity.ivfTopKWithCentroids(emb, queries, "vec_id", "embedding",
      spark.read.parquet(s"$path/centroids"), nProbe = 2, k = 3))
    assert(want.nonEmpty && got == want)
    // the odd half reached the probe only through the sink's shard
    assert(got.exists(_(1).asInstanceOf[Long] % 2 != 0))
  }

  test("a built BM25 index extended by one bm25Sink shard probes as a build over the union") {
    val path = dir("sharded_bm25")
    Retrieval.writePostings(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
    Retrieval.bm25Sink(path, "doc_id", "text")(docs.filter(col("doc_id") % 2 =!= 0), 1L)
    assert(shards(s"$path/postings") == Seq("batch=0", "batch=1"))
    assert(shards(s"$path/doclen") == Seq("batch=0", "batch=1"))
    // ordered top-k: exact list, and the scores carry the union's stats
    val got = Retrieval.bm25TopKStored(spark, path, "doc_id", Terms, k = 20)
      .collect().map(_.toString).toSeq
    val want = Retrieval.bm25TopK(docs, "doc_id", "text", Terms, k = 20)
      .collect().map(_.toString).toSeq
    assert(want.nonEmpty && got == want)
  }

  test("a rebuild over a stale batch=1 shard probes as a fresh build and keeps only shard 0") {
    // the stale shard holds copies of the queries under new ids: had it
    // survived, every query's top neighbor would be its own copy
    val copies = queries.withColumn("vec_id", col("vec_id") + 100000L)
    val (freshIvf, ivf) = (dir("fresh_ivf"), dir("rebuilt_ivf"))
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", nClusters = 4, iterations = 2,
      path = freshIvf)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", nClusters = 4, iterations = 2,
      path = ivf)
    Similarity.ivfSink(ivf, "vec_id", "embedding")(copies, 1L)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", nClusters = 4, iterations = 2,
      path = ivf)
    assert(shards(s"$ivf/lists") == Seq("batch=0"))
    def ivfProbe(p: String) = rows(Similarity.ivfTopKStored(spark, p, queries,
      "vec_id", "embedding", nProbe = 2, k = 3))
    assert(ivfProbe(ivf) == ivfProbe(freshIvf) && ivfProbe(ivf).nonEmpty)

    val (freshPq, pq) = (dir("fresh_ivfpq"), dir("rebuilt_ivfpq"))
    def buildPq(p: String): Unit = Similarity.writeIvfPqIndex(emb, "vec_id", "embedding",
      nCoarse = 4, coarseIters = 2, m = 4, subDim = 16, ks = 4, pqIters = 2, path = p)
    buildPq(freshPq)
    buildPq(pq)
    Similarity.ivfPqSink(pq, "vec_id", "embedding", m = 4, subDim = 16)(copies, 1L)
    buildPq(pq)
    assert(shards(s"$pq/codes") == Seq("batch=0"))
    def pqProbe(p: String) = rows(Similarity.ivfPqTopKStored(spark, p, queries,
      "vec_id", "embedding", m = 4, subDim = 16, nProbe = 2, k = 3))
    assert(pqProbe(pq) == pqProbe(freshPq) && pqProbe(pq).nonEmpty)

    val (freshBm25, bm25) = (dir("fresh_bm25"), dir("rebuilt_bm25"))
    Retrieval.writePostings(docs, "doc_id", "text", freshBm25)
    Retrieval.writePostings(docs, "doc_id", "text", bm25)
    Retrieval.bm25Sink(bm25, "doc_id", "text")(
      docs.withColumn("doc_id", col("doc_id") + 1000000L), 1L)
    Retrieval.writePostings(docs, "doc_id", "text", bm25)
    assert(shards(s"$bm25/postings") == Seq("batch=0"))
    assert(shards(s"$bm25/doclen") == Seq("batch=0"))
    def bm25Probe(p: String) = Retrieval.bm25TopKStored(spark, p, "doc_id", Terms, k = 20)
      .collect().map(_.toString).toSeq
    assert(bm25Probe(bm25) == bm25Probe(freshBm25) && bm25Probe(bm25).nonEmpty)
  }
}
