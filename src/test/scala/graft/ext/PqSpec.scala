package graft.ext

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

/** Product-quantization contract: deterministic codebooks at any
  * parallelism, m codes per vector, stored == inline, ADC finds exact
  * duplicates first on a clustered fixture, and the search plan never
  * falls off the broadcast equi-join path.
  */
class PqSpec extends SparkSuite {

  import spark.implicits._

  private val M = 4
  private val SubDim = 16
  private val Dims = M * SubDim

  /** 3 groups x 4 identical 64-dim vectors; ids interleaved so the
    * ks=4 seed picks all three groups (plus one duplicate seed whose
    * cluster empties out after the first assignment — the deterministic
    * empty-cluster path).
    */
  private def clustered = {
    val patterns = Array(
      Array.tabulate(Dims)(i => 0.5f - 0.01f * (i % 8)),
      Array.tabulate(Dims)(i => -0.3f + 0.01f * (i % 5)),
      Array.tabulate(Dims)(i => 0.1f * ((i % 3) - 1)))
    (0 until 12).map(id => (id.toLong, patterns(id % 3).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  test("codebooks are independent of input partitioning") {
    val emb = Tables.embeddings(spark, sfDir)
    val a = Similarity.pqCodebooks(emb.repartition(1), "vec_id", "embedding",
      M, SubDim, ks = 4, iterations = 2).collect().map(_.toSeq).toSet
    val b = Similarity.pqCodebooks(emb.repartition(7), "vec_id", "embedding",
      M, SubDim, ks = 4, iterations = 2).collect().map(_.toSeq).toSet
    assert(a == b, "codebooks differ across partitioning")
    assert(a.nonEmpty)
  }

  test("every vector encodes to exactly m codes, each within [0, ks)") {
    val emb = Tables.embeddings(spark, sfDir)
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      M, SubDim, ks = 4, iterations = 2)
    val codes = Similarity.pqEncode(emb, books, "vec_id", "embedding", M, SubDim)
    val n = emb.count()
    assert(codes.count() == n * M)
    val perVec = codes.groupBy("neighbor_id").agg(
      count(lit(1)).as("c"), countDistinct(col("sub")).as("s"))
    assert(perVec.filter(col("c") =!= M || col("s") =!= M).count() == 0)
    assert(codes.filter(col("code") < 0 || col("code") >= 4).count() == 0)
  }

  test("stored-index search returns exactly the inline pqTopK result") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val path = java.nio.file.Files.createTempDirectory("pq_index").toString
    Similarity.writePqIndex(emb, "vec_id", "embedding",
      M, SubDim, ks = 4, iterations = 2, path = path)
    val stored = Similarity.pqTopKStored(spark, path, queries,
      "vec_id", "embedding", M, SubDim, k = 3)
      .collect().map(_.toSeq).toSet
    val inline = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      M, SubDim, ks = 4, iterations = 2, k = 3)
      .collect().map(_.toSeq).toSet
    assert(stored == inline, s"stored=${stored.size} inline=${inline.size} differ")
    assert(stored.nonEmpty)
  }

  test("ADC ranks exact duplicates first on a clustered corpus") {
    val emb = clustered
    val res = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", M, SubDim, ks = 4, iterations = 2, k = 3)
      .collect()
    // each query's top-3 are exactly its 3 identical group-mates
    (0 until 3).foreach { q =>
      val got = res.filter(_.getLong(0) == q).map(_.getLong(1)).toSet
      val want = (0 until 12).filter(i => i % 3 == q && i != q).map(_.toLong).toSet
      assert(got == want, s"query $q: got $got want $want")
    }
  }

  test("IVF-PQ: stored equals inline; codes laid out per coarse cell and DPP-pruned") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val path = java.nio.file.Files.createTempDirectory("ivfpq_index").toString
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding",
      nCoarse = 4, coarseIters = 2, m = M, subDim = SubDim, ks = 4,
      pqIters = 2, path = path)
    val dirs = new java.io.File(s"$path/codes/batch=0").listFiles()
      .filter(_.getName.startsWith("coarse_id=")).map(_.getName)
    assert(dirs.length == 4, s"expected 4 cell dirs, got ${dirs.mkString(",")}")
    val stored = Similarity.ivfPqTopKStored(spark, path, queries,
      "vec_id", "embedding", M, SubDim, nProbe = 2, k = 3)
    val inline = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      nCoarse = 4, coarseIters = 2, m = M, subDim = SubDim, ks = 4,
      pqIters = 2, nProbe = 2, k = 3)
    assert(stored.collect().map(_.toSeq).toSet ==
      inline.collect().map(_.toSeq).toSet)
    // unprobed coarse cells are pruned at the code scan
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"codes scan is not DPP-pruned:\n$plan")
  }

  test("IVF-PQ: an exact duplicate's ADC distance is the global minimum") {
    // 6 patterns x 2 copies (id, id+6): a duplicate shares its query's
    // cell and codes, and code assignment is the same argmin ADC ranking
    // uses, so adist(dup) = sum of per-sub minima — no candidate can
    // rank strictly better (ties possible, beating it is not)
    val patterns = Array.tabulate(6)(g =>
      Array.tabulate(Dims)(i => 0.1f * ((i + g) % 5) - 0.2f + 0.05f * g))
    val emb = (0 until 12).map(id => (id.toLong, patterns(id % 6).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val res = Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", nCoarse = 3, coarseIters = 2, m = M,
      subDim = SubDim, ks = 4, pqIters = 2, nProbe = 3, k = 11)
      .collect()
    (0 until 3).foreach { q =>
      val rows = res.filter(_.getLong(0) == q)
      val dup = rows.find(_.getLong(1) == q + 6)
      assert(dup.isDefined, s"query $q: duplicate ${q + 6} not in candidates")
      val minD = rows.map(_.getLong(3)).min
      assert(dup.get.getLong(3) == minD,
        s"query $q: dup adist ${dup.get.getLong(3)} != min $minD")
    }
  }

  test("refine re-ranks the ADC shortlist by exact cosine and stays within it") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val shortlist = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        M, SubDim, ks = 4, iterations = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = Similarity.pqRefineTopK(emb, queries, "vec_id", "embedding",
      M, SubDim, ks = 4, iterations = 2, r = 10, k = 3).collect()
    assert(refined.nonEmpty)
    // membership: refine never invents candidates outside the shortlist
    assert(refined.forall(r => shortlist((r.getLong(0), r.getLong(1)))))
    // order: within each query, output is exact-cosine descending
    refined.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cs = rows.sortBy(_.getLong(1)).map(_.getDouble(2))
      assert(rows.map(_.getDouble(2)).sorted.reverse.toSeq ==
        rows.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(_.getDouble(2)).toSeq)
      assert(cs.forall(c => c <= 1.0 && c >= -1.0))
    }
  }

  test("recall responds to the codebook-size dial (ks up => recall up)") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(ks: Int): Double = {
      val adc = Similarity.pqTopK(emb, q, "vec_id", "embedding",
          m = 4, subDim = 16, ks = ks, iterations = 2, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & adc).size.toDouble / exact.size
    }
    val demo = recallAt(4)
    val sized = recallAt(32)
    assert(sized > demo,
      s"recall did not improve with ks: ks=4 -> $demo, ks=32 -> $sized")
    // the substance is monotonicity; the floor only guards against a
    // quantizer that stopped learning at all (~4x over ks=4 here)
    assert(sized >= 0.2, s"ks=32 recall $sized unexpectedly low")
  }

  test("search plan: broadcast equi-join on (sub, code), no cartesian product") {
    val emb = Tables.embeddings(spark, sfDir)
    val plan = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", M, SubDim, ks = 4, iterations = 2, k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }
}
