package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

class SkewAndBucketingSpec extends SparkSuite {
  import spark.implicits._

  test("saltedSumCount equals the direct aggregation (exactness of two-phase)") {
    // heavy skew: 90% of rows share one key
    val rows = (1 to 2000).map(i => (if (i % 10 == 0) s"k${i % 7}" else "hot", i.toDouble))
    val df = rows.toDF("key", "v")
    val direct = df.groupBy($"key")
      .agg(sum($"v").as("sum_v"), count(lit(1)).as("n_rows"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedSumCount(df, Seq("key"), "v", buckets = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("salting works on frames carrying unhashable (map) columns") {
    val df = Seq((1L, 2.0), (1L, 3.0), (2L, 4.0)).toDF("k", "v")
      .withColumn("m", map(lit("a"), $"v"))
    val r = Skew.saltedSumCount(df, Seq("k"), "v", buckets = 4)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getLong(2))).toSet
    assert(r == Set((1L, 5.0, 2L), (2L, 4.0, 1L)))
    val j = Skew.saltedJoin(df, Seq(1L).toDF("k"), Seq("k"), buckets = 4)
    assert(j.count() == 2)
  }

  test("saltedJoin equals the direct join, including rows multiplicity") {
    val left = (1 to 500).map(i => (if (i % 5 == 0) i.toLong else 1L, s"l$i")).toDF("k", "lv")
    val right = Seq((1L, "r1"), (5L, "r5"), (10L, "r10"), (999L, "none")).toDF("k", "rv")
    val direct = left.join(right, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    val salted = Skew.saltedJoin(left, right, Seq("k"), buckets = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    assert(salted == direct)
    assert(salted.nonEmpty)
  }

  test("bucketed tables co-locate the join: no Exchange in the plan") {
    // warehouse.dir is a static conf — tables land in ./spark-warehouse
    // (gitignored) and are dropped in finally
    try withConf(BroadcastThreshold -> "-1") { // force SMJ path
      Tables.lineitem(spark, sfDir)
        .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_bucketed")
      Tables.orders(spark, sfDir)
        .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("o_bucketed")

      val joined = spark.table("li_bucketed").join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, sfDir).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }
}
