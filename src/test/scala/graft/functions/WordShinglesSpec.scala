package graft.functions

import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.functions._

import graft.SparkSuite

class WordShinglesSpec extends SparkSuite {
  import spark.implicits._

  /** Independent built-ins-only reference implementation, kept HERE (not
    * in TextOps, which delegates to the native expression — the HOF form
    * is ~25× slower per row, SCALE.md "Two real super-linear findings"):
    * transform over positions,
    * element_at into the split. Exists purely so the native expression
    * is cross-checked against a formulation that shares none of its code.
    */
  private def hofShingles(c: Column, n: Int): Column = {
    val toks = F.split(c, " ")
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k))): _*)))
      .otherwise(array().cast("array<string>"))
  }

  test("native shingles match the HOF formulation on real corpus text") {
    val docs = graft.Tables.documents(spark, sfDir)
    val cmp = docs.select(
      WordShingles.shingles(col("text"), 3).as("native"),
      hofShingles(col("text"), 3).as("hof"),
      WordShingles.shingles(col("text"), 3, distinct = true).as("native_distinct"),
      array_distinct(hofShingles(col("text"), 3)).as("hof_distinct"))
    cmp.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
      assert(r.getSeq[String](2) == r.getSeq[String](3))
    }
  }

  test("multi-byte UTF-8: native byte-level shingling equals the HOF form") {
    // the native expression scans UTF8String BYTES for 0x20 separators —
    // multi-byte code points (é=2B, 日=3B, 🚀=4B surrogate pair) must
    // never be split or mistaken for a space byte
    val docs = Seq(
      "héllo wörld naïve café crème brûlée",
      "日本 語 テキスト の 処理 と 分割",
      "mixed ascii 日本語 et français 🚀 emoji 🎉 tail",
      "héllo héllo héllo héllo" // distinct path over multi-byte dups
    ).toDF("text")
    val cmp = docs.select(
      WordShingles.shingles(col("text"), 3).as("native"),
      hofShingles(col("text"), 3).as("hof"),
      WordShingles.shingles(col("text"), 2, distinct = true).as("nd"),
      array_distinct(hofShingles(col("text"), 2)).as("hd"))
    cmp.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
      assert(r.getSeq[String](2) == r.getSeq[String](3))
    }
    // MinHash over multi-byte shingles: native k-hash pass equals the
    // md5-concat formulation byte-for-byte
    val mh = docs.select(explode(WordShingles.shingles(col("text"), 2)).as("sh"))
      .agg(MinHashAgg.minhashSig(col("sh"), 2).as("sig"),
        min(md5(concat(lit("0|"), col("sh")))).as("mh0"),
        min(md5(concat(lit("1|"), col("sh")))).as("mh1"))
      .collect().head
    assert(mh.getSeq[String](0) == Seq(mh.getString(1), mh.getString(2)))
  }

  test("edge cases: short text, empty tokens, n=2") {
    val r = Seq("a b", "a  b c", "x").toDF("t").select(
      WordShingles.shingles(col("t"), 2).as("s2"),
      WordShingles.shingles(col("t"), 3).as("s3")).collect()
    assert(r(0).getSeq[String](0) == Seq("a b"))
    assert(r(0).getSeq[String](1).isEmpty)
    assert(r(1).getSeq[String](1) == Seq("a  b", " b c")) // empty token preserved
    assert(r(2).getSeq[String](0).isEmpty)
  }
}
