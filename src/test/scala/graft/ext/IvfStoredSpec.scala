package graft.ext

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

/** The stored-IVF contract: build-once equals build-inline, and the
  * search actually prunes unprobed cluster directories at the parquet
  * scan (the on-disk half of the 100 TB design ivfTopK documents).
  */
class IvfStoredSpec extends SparkSuite {

  test("stored-index search returns exactly the in-memory ivfTopK result; scan is DPP-pruned") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val path = java.nio.file.Files.createTempDirectory("ivf_index").toString

    Similarity.writeIvfIndex(emb, "vec_id", "embedding",
      nClusters = 4, iterations = 2, path = path)
    // the index is a real layout: one directory per cluster
    val dirs = new java.io.File(s"$path/lists/batch=0").listFiles()
      .filter(_.getName.startsWith("cluster_id=")).map(_.getName).sorted
    assert(dirs.length == 4, s"expected 4 cluster dirs, got ${dirs.mkString(",")}")

    val stored = Similarity.ivfTopKStored(spark, path, queries,
      "vec_id", "embedding", nProbe = 2, k = 3)
    val inline = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      nClusters = 4, iterations = 2, nProbe = 2, k = 3)
    val s = stored.collect().map(_.toSeq).toSet
    val i = inline.collect().map(_.toSeq).toSet
    assert(s == i, s"stored=${s.size} inline=${i.size} differ")

    // dynamic partition pruning: the lists scan carries a runtime filter
    // on the partition column fed by the broadcast probe side
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"lists scan is not DPP-pruned:\n$plan")
  }

  test("sampled-training stored builds keep the layout and search contract") {
    // sampledTraining changes WHAT the trainer reads (a bounded
    // md5-bottom-k sample), never the index layout or the search path:
    // the stored search must still DPP-prune and return sane neighbors.
    // (Result parity with full training is a quality question, measured
    // in SCALE.md "Round 15: IVF centroid training sized and sampled" —
    // not an equality contract.)
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val path = java.nio.file.Files.createTempDirectory("ivf_sampled").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding",
      nClusters = 4, iterations = 2, path = path, sampledTraining = Some(true))
    val dirs = new java.io.File(s"$path/lists/batch=0").listFiles()
      .filter(_.getName.startsWith("cluster_id=")).map(_.getName)
    assert(dirs.nonEmpty && dirs.length <= 4)
    val stored = Similarity.ivfTopKStored(spark, path, queries,
      "vec_id", "embedding", nProbe = 2, k = 3)
    val rows = stored.collect()
    assert(rows.nonEmpty)
    assert(stored.queryExecution.executedPlan.toString.contains("dynamicpruning"))

    val pqPath = java.nio.file.Files.createTempDirectory("ivfpq_sampled").toString
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding",
      nCoarse = 4, coarseIters = 2, m = 4, subDim = 16, ks = 4, pqIters = 2,
      path = pqPath, sampledTraining = Some(true))
    val pqStored = Similarity.ivfPqTopKStored(spark, pqPath, queries,
      "vec_id", "embedding", m = 4, subDim = 16, nProbe = 2, k = 3)
    assert(pqStored.collect().nonEmpty)
  }

  test("stored probes read BIGINT ids and ARRAY<FLOAT> vectors whatever the query id type") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val intQueries = queries.withColumn("vec_id", col("vec_id").cast("int"))
    def dir(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (ivf, pq, ivfPq) = (dir("ivf_types"), dir("pq_types"), dir("ivfpq_types"))
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", nClusters = 4, iterations = 2,
      path = ivf)
    Similarity.writePqIndex(emb, "vec_id", "embedding", 4, 16, ks = 4, iterations = 2,
      path = pq)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", nCoarse = 4, coarseIters = 2,
      m = 4, subDim = 16, ks = 4, pqIters = 2, path = ivfPq)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.select(df.columns.map(c => col(c).cast("string")).toSeq: _*)
        .collect().map(_.toSeq).toSet
    for ((name, probe) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "ivf" -> (q => Similarity.ivfTopKStored(spark, ivf, q, "vec_id", "embedding")),
        "pq" -> (q => Similarity.pqTopKStored(spark, pq, q, "vec_id", "embedding", 4, 16)),
        "ivfpq" -> (q => Similarity.ivfPqTopKStored(spark, ivfPq, q, "vec_id", "embedding",
          m = 4, subDim = 16)))) {
      val expected = rows(probe(queries))
      assert(expected.nonEmpty, name)
      assert(rows(probe(intQueries)) == expected, s"$name: INT query ids changed the result")
    }
  }

  test("auto training mode: full below the measured crossover, sampled above (r16)") {
    // the decision rule itself, at the documented boundary
    assert(!Similarity.autoSampledTraining(Similarity.AutoSampledTrainingRows - 1))
    assert(Similarity.autoSampledTraining(Similarity.AutoSampledTrainingRows))
    assert(!Similarity.autoSampledTraining(0L))

    // below the crossover, the default (None = auto) build is
    // BIT-IDENTICAL to a forced full-training build — the property that
    // keeps every demo/oracle spelling unchanged with no caller edits
    val emb = Tables.embeddings(spark, sfDir)
    val auto = java.nio.file.Files.createTempDirectory("ivf_auto").toString
    val full = java.nio.file.Files.createTempDirectory("ivf_full").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding",
      nClusters = 4, iterations = 2, path = auto)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding",
      nClusters = 4, iterations = 2, path = full, sampledTraining = Some(false))
    def cents(p: String) = spark.read.parquet(s"$p/centroids")
      .orderBy("cluster_id").collect().map(_.toSeq).toSeq
    assert(cents(auto) == cents(full),
      "auto mode below the crossover must equal forced full training")

    // ...and differs from a forced SAMPLED build on this corpus (the
    // 64-row sample is a strict subset of the 500-vector fixture), so
    // the equality above is evidence of mode selection, not of the
    // sample being degenerate
    val samp = java.nio.file.Files.createTempDirectory("ivf_samp").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding",
      nClusters = 4, iterations = 2, path = samp, sampledTraining = Some(true))
    assert(cents(samp) != cents(full),
      "forced sampled training should differ from full on this fixture")
  }
}
