package graft

import org.apache.spark.sql.functions._

/** Co-located joins via bucketing — the third leg of the join-at-scale
  * strategy (broadcast for small dims, AQE skew handling, BUCKETING for
  * repeated big-big joins): two tables bucketed on the join key join
  * with ZERO exchanges, because bucket layout IS the required hash
  * partitioning. At 100 TB this turns every fact-fact join on a shared
  * key (orders⋈customer, events⋈events) from a full dual shuffle into a
  * local per-bucket merge; the write-side cost is paid once.
  */
class BucketedJoinSpec extends SparkSuite {

  test("tables bucketed on the join key sort-merge-join with zero exchanges") {
    val db = "graft_bucket_spec"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    try {
      Tables(spark, sfDir, "orders")
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(s"$db.b_orders")
      Tables(spark, sfDir, "customer")
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(s"$db.b_customer")

      withConf(BroadcastThreshold -> "-1") { // force SMJ
        val joined = spark.table(s"$db.b_orders")
          .join(spark.table(s"$db.b_customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_name"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle either side:\n$plan")
        assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
          s"scan is not bucket-aware:\n$plan")

        // same result as the plain (shuffling) join
        val plain = Tables(spark, sfDir, "orders")
          .join(Tables(spark, sfDir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_name"))
        assert(joined.count() == plain.count())
        assert(joined.exceptAll(plain).isEmpty && plain.exceptAll(joined).isEmpty)
      }
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("Bucketed operator: external path-based tables, exchange-free join, idempotent rewrite") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed_spec").toString
    try withConf(BroadcastThreshold -> "-1") {
      // coalesce(1): one FILE per bucket, so the reader can trust the
      // per-bucket sort and skip the Sort under the SMJ (with multiple
      // files per bucket Spark keeps the partitioning but re-sorts)
      def writeBoth(): Unit = {
        graft.operators.Bucketed.writeBucketed(
          Tables(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
            .coalesce(1),
          "bs_orders", s"$tmp/orders", "o_custkey", numBuckets = 8)
        graft.operators.Bucketed.writeBucketed(
          Tables(spark, sfDir, "customer").select("c_custkey", "c_mktsegment")
            .coalesce(1),
          "bs_customer", s"$tmp/customer", "c_custkey", numBuckets = 8)
      }
      writeBoth()
      writeBoth() // S12 discipline: re-running the write is a no-op semantically

      val joined = graft.operators.Bucketed.coLocatedJoin(
        spark, "bs_orders", "bs_customer", "o_custkey", "c_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan is not bucket-aware:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // sort elimination is OPT-IN since Spark 3.0 (the reader only
      // trusts per-bucket file sort under the legacy flag, because it
      // requires exactly one file per bucket — which writeBucketed's
      // caller guarantees here via coalesce(1)): with the flag, the SMJ
      // runs with neither Exchange NOR Sort
      withConf("spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
        val sortFree = graft.operators.Bucketed.coLocatedJoin(
          spark, "bs_orders", "bs_customer", "o_custkey", "c_custkey")
        val p2 = sortFree.queryExecution.executedPlan.toString
        assert(p2.contains("SortMergeJoin") && !p2.contains("Exchange") &&
          !p2.contains("Sort ["),
          s"bucketed+sorted scan must not re-sort under the flag:\n$p2")
      }

      val expected = Tables(spark, sfDir, "orders")
        .join(Tables(spark, sfDir, "customer"),
          col("o_custkey") === col("c_custkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bs_orders")
      spark.sql("DROP TABLE IF EXISTS bs_customer")
    }
  }
}
