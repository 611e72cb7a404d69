package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.SortedIntersectCount.sortedIntersectCount

class SortedIntersectCountSpec extends SparkSuite {
  import spark.implicits._

  private val rows = Seq(
    (1L, Seq(1L, 3L, 5L, 7L), Seq(2L, 3L, 5L, 9L)),       // {3,5} → 2
    (2L, Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),               // disjoint → 0
    (3L, Seq.empty[Long], Seq(1L, 2L)),                    // empty → 0
    (4L, Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),               // identical → 3
    (5L, Seq(1L, 1L, 2L, 2L, 3L), Seq(1L, 2L, 2L, 4L))    // dups → set semantics {1,2} → 2
  ).toDF("id", "a", "b")

  test("exact counts: overlap, disjoint, empty, identical, duplicate set-semantics") {
    val m = rows.select(col("id"), sortedIntersectCount(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 2L, 2L -> 0L, 3L -> 0L, 4L -> 3L, 5L -> 2L))
  }

  test("matches size(array_intersect) on random sorted distinct arrays — codegen and interpreted") {
    // deterministic pseudo-random sorted distinct arrays derived from id
    val df = spark.range(0, 500).select(
      col("id"),
      sort_array(array_distinct(transform(sequence(lit(0), pmod(col("id"), lit(9))),
        i => pmod(col("id") * 31 + i * 17, lit(23))))).as("a"),
      sort_array(array_distinct(transform(sequence(lit(0), pmod(col("id"), lit(7))),
        i => pmod(col("id") * 13 + i * 11, lit(23))))).as("b"))
    val both = df.select(
      sortedIntersectCount(col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
    // whole-stage codegen path
    both.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // interpreted path (codegen disabled) must agree bit-for-bit
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      both.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
    }
  }

  test("non-ARRAY<BIGINT> inputs are rejected at analysis time, not misread at runtime") {
    // getLong over an ARRAY<INT> UnsafeArrayData would stride past the
    // buffer and return garbage counts — the type check must make this
    // an analysis error
    val ints = spark.sql("SELECT array(1, 2, 3) AS a, array(2, 3) AS b")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(sortedIntersectCount(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("ARRAY<BIGINT>"), e.getMessage)
  }

  test("null array propagates null; null elements are skipped") {
    val df = Seq(
      (1L, Option(Seq(1L, 2L)), Option.empty[Seq[Long]]),
      (2L, Option.empty[Seq[Long]], Option(Seq(1L)))
    ).toDF("id", "a", "b")
    val nulls = df.select(sortedIntersectCount(col("a"), col("b"))).collect()
    assert(nulls.forall(_.isNullAt(0)))
    // null elements sort first under sort_array and can never match
    val withNullElems = spark.sql(
      "SELECT array(NULL, 1L, 3L) AS a, array(NULL, NULL, 3L, 4L) AS b")
    val c = withNullElems.select(sortedIntersectCount(col("a"), col("b"))).collect()
    assert(c.head.getLong(0) == 1L)
  }
}
