package graft.ext

import graft.SparkSuite

/** Hand-computed BM25 (rational variant) on an enumerable corpus, plus
  * the posting-semantics and determinism contracts.
  */
class RetrievalSpec extends SparkSuite {
  import spark.implicits._

  // d1="a a b" (dl 3), d2="b c" (dl 2), d3="c c c c" (dl 4)
  // N=3, TL=9; terms {a,b}: tf (d1,a,2) (d1,b,1) (d2,b,1); df a=1 b=2
  // idf_s: a=(2*2+1)*1000//3=1666, b=(2*1+1)*1000//5=600
  // d1: (1666*22*2*9)//(10*9*2+3*9+9*3*3) = 659736//288 = 2290
  //   + (600*22*1*9)//(10*9*1+27+81)      = 118800//198 = 600  -> 2890
  // d2: (600*22*1*9)//(10*9*1+27+9*2*3)   = 118800//171 = 694
  private def corpus = Seq((1L, "a a b"), (2L, "b c"), (3L, "c c c c"))
    .toDF("doc_id", "text")

  test("hand-computed scores, only matching docs returned, order (score desc, id)") {
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text", Seq("a", "b"), k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2890L), (2L, 694L))) // d3 has no query term
  }

  test("k truncates at the (score desc, id) boundary deterministically") {
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text", Seq("a", "b"), k = 1)
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2890L)))
  }

  test("partitioning does not change scores (integer sums are order-free)") {
    val wide = (1L to 200L)
      .map(i => (i, if (i % 3 == 0) "a b c a" else "c d e")).toDF("doc_id", "text")
    val one = Retrieval.bm25TopK(wide.coalesce(1), "doc_id", "text",
      Seq("a", "b"), 50).as[(Long, Long)].collect().toSeq
    val many = Retrieval.bm25TopK(wide.repartition(16), "doc_id", "text",
      Seq("a", "b"), 50).as[(Long, Long)].collect().toSeq
    assert(one == many)
  }

  test("a term absent from the corpus contributes nothing and breaks nothing") {
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq("zzz", "b"), k = 10).as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(1L, 2L))
  }

  test("stored postings: bit-identical to the cold query, probe prunes to the terms' bands") {
    val wide = (1L to 300L)
      .map(i => (i, s"w${i % 7} w${i % 11} a b w${i % 5}")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_postings_spec").toString
    Retrieval.writePostings(wide, "doc_id", "text", path)
    val cold = Retrieval.bm25TopK(wide, "doc_id", "text", Seq("a", "w3"), 25)
      .as[(Long, Long)].collect().toSeq
    val stored = Retrieval.bm25TopKStored(spark, path, "doc_id", Seq("a", "w3"), 25)
    assert(stored.as[(Long, Long)].collect().toSeq == cold)
    // static partition pruning: the postings scan carries a tok_band
    // PartitionFilter, so only the query terms' band dirs are read
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tok_band"),
      s"postings scan is not partition-pruned:\n$plan")
  }

  // d1/d2 identical in rare terms; d3 shares only the capped token;
  // d4 is ONLY the capped token. cap=2: df(x)=df(y)=2 -> idf 1,
  // df(z)=df(w)=1 -> idf 2, df(common)=4 -> capped out.
  private def cosCorpus = Seq(
    (1L, "x y common"), (2L, "x y common"),
    (3L, "z w common"), (4L, "common common common")
  ).toDF("doc_id", "text")

  test("tfidf cosine: rare-term duplicates score 1.0, stopword-only overlap scores nothing") {
    val out = Retrieval.tfidfCosinePairs(cosCorpus, "doc_id", "text",
        threshold = 0.5, maxTokenDf = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // d1-d2: w=(1,1) each side, dot=2, norms 2 -> cos exactly 1.0;
    // every pair through 'common' is capped away
    assert(out == Seq((1L, 2L, 2L, 1.0)))
  }

  test("tfidf cosine: ubiquitous terms get idf 0 and produce no pairs even uncapped") {
    // df(common)=4=N -> idf_s = 1 div 9 = 0 -> zero weights -> d4 has a
    // zero norm; the nullif-guarded cosine comes out NULL and NULL >= t
    // filters false (both engines), so the all-stopword doc drops from
    // every pair while zero-DOT pairs (d1-d3 via 'common') still score 0
    val out = Retrieval.tfidfCosinePairs(cosCorpus, "doc_id", "text",
        threshold = 0.0, maxTokenDf = 1000)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val pairs = out.map(r => (r._1, r._2)).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    val byPair = out.map(r => (r._1, r._2) -> r._4).toMap
    assert(byPair((1L, 2L)) == 1.0 && byPair((1L, 3L)) == 0.0)
  }

  test("stored tfidf index: bit-identical pairs, self-join reads co-located buckets with no shuffle") {
    val wide = (1L to 120L)
      .map(i => (i, s"t${i % 13} t${i % 17} t${i % 13} filler"))
      .toDF("doc_id", "text")
    val cold = Retrieval.tfidfCosinePairs(wide, "doc_id", "text", 0.2, 40)
      .as[(Long, Long, Long, Double)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("tfidf_idx").toString
    Retrieval.writeTfidfIndex(wide, "doc_id", "text", 40, "tfidf_spec_w",
      dir, buckets = 4)
    val probe = Retrieval.tfidfCosinePairsStored(spark, "tfidf_spec_w",
      dir, "doc_id", 0.2)
    assert(probe.as[(Long, Long, Long, Double)].collect().toSet == cold)
    assert(cold.nonEmpty)
    // the amortization claim: past the broadcast threshold (forced here
    // — at spec scale the tiny table would auto-broadcast) the
    // inverted-index self-join consumes the bucketed layout directly:
    // a SortMergeJoin with NO Exchange and NO Sort on either leg
    withConf(BroadcastThreshold -> "-1") {
      val atScale = Retrieval.tfidfCosinePairsStored(spark, "tfidf_spec_w",
        dir, "doc_id", 0.2)
      assert(atScale.as[(Long, Long, Long, Double)].collect().toSet == cold)
      val plan = atScale.queryExecution.executedPlan.toString
      val joinAt = plan.indexOf("SortMergeJoin")
      assert(joinAt >= 0, s"expected SMJ over the bucketed scans:\n$plan")
      assert(!plan.substring(joinAt).contains("Exchange hashpartitioning(token"),
        s"token self-join re-shuffled the bucketed weight table:\n$plan")
    }
    spark.sql("DROP TABLE IF EXISTS tfidf_spec_w")
  }

  test("tfidf cosine: partitioning does not change pairs or scores") {
    val wide = (1L to 120L)
      .map(i => (i, s"t${i % 13} t${i % 17} t${i % 13} filler"))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Retrieval.tfidfCosinePairs(df, "doc_id", "text", 0.2, 40)
        .as[(Long, Long, Long, Double)].collect().toSet
    assert(run(wide.coalesce(1)) == run(wide.repartition(16)))
    assert(run(wide).nonEmpty)
  }
}
