package graft.queries

import java.nio.file.Files

import graft.{SparkEntry, SparkSuite}

/** Degenerate-input robustness: EVERY registered query must plan and
  * execute against fully empty tables (schema preserved, zero rows).
  * An empty partition, a fresh day with no data, or a filter that
  * matches nothing produces exactly this shape in production — a query
  * that NPEs or divides by zero on it is a page at 3am. (Found and
  * fixed two this way: stat.bloomFilter's uninitialized buffer on an
  * empty eval split, and 0/0 recall.)
  */
class EmptyInputSpec extends SparkSuite {

  /** A data dir holding every table with its schema and zero rows. */
  private lazy val emptySf: String = {
    val out = Files.createTempDirectory("graft_empty_sf").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings", "events")) {
      spark.read.parquet(s"$sfDir/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    out
  }

  test("every registered query executes on zero-row tables") {
    val out = emptySf
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, out).write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString)
      }
    }
    assert(failures.isEmpty, s"queries failing on empty input:\n${failures.mkString("\n")}")
  }

  test("the streaming index chains drain zero rows to the typed empty top-k") {
    // the stored probes read a shard table that holds no rows as typed
    // empty, so the chains need no guard of their own
    for ((name, ddl) <- Seq(
        "t12_streaming_bm25" -> "doc_id BIGINT, bm25_scaled BIGINT",
        "t13_streaming_ann" ->
          "query_id BIGINT, neighbor_id BIGINT, cluster_id BIGINT, cos_sim DOUBLE",
        "t14_streaming_ivfpq" ->
          "query_id BIGINT, neighbor_id BIGINT, coarse_id BIGINT, adist_s BIGINT")) {
      val out = SparkEntry.queries(name)(spark, emptySf)
      assert(out.count() == 0, name)
      val want = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      assert(out.schema.map(f => f.name -> f.dataType) == want.map(f => f.name -> f.dataType),
        s"$name: ${out.schema.toDDL}")
    }
  }
}
