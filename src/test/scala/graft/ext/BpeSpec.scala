package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** BPE trainer semantics on a hand-computable fixture (the classic
  * hug/pug/pun/bun/hugs corpus from the BPE literature), plus the
  * greedy-application edge cases and end-to-end determinism over the
  * real documents table.
  */
class BpeSpec extends SparkSuite {
  import spark.implicits._

  private def fixtureWords = Seq(
    ("hug", 10L), ("pug", 5L), ("pun", 12L), ("bun", 4L), ("hugs", 5L))
    .toDF("word", "freq")

  test("pair counts: weighted adjacent pairs, single-char words excluded") {
    val words = Seq(("ab", 3L), ("a", 7L), ("aab", 2L)).toDF("word", "freq")
    val got = Bpe.pairCounts(words).as[(String, Long)].collect().toMap
    // "ab"×3 → ab:3; "a" → nothing; "aab"×2 → aa:2, ab:2
    assert(got == Map("ab" -> 5L, "aa" -> 2L))
  }

  test("train: the textbook merge sequence on the hug/pug corpus") {
    // round 1 pair counts: ug=20 (hug 10 + pug 5 + hugs 5), pu=17,
    // un=16, hu=15, gs=5, bu=4 → merge (u,g).
    // round 2: un=16 beats h+ug=15, pu=12, p+ug=5, ug+s=5 → merge (u,n).
    // round 3: h+ug=15 → merge (h,ug).
    val merges = Bpe.train(fixtureWords, 3)
    assert(merges == Seq(("u", "g"), ("u", "n"), ("h", "ug")))
  }

  test("train frees every round's checkpoint") {
    val (stored, left) = org.apache.spark.sql.graft.TestBlocks.storedAndLeft(
      spark.sparkContext)(assert(Bpe.train(fixtureWords, 5).length == 5))
    assert(stored > 0, "positive control: the rounds checkpoint")
    assert(left == 0, s"$left blocks of the training checkpoints remain")
  }

  test("train is deterministic across repeated runs") {
    val a = Bpe.train(fixtureWords, 5)
    val b = Bpe.train(fixtureWords, 5)
    assert(a == b && a.length == 5)
  }

  test("tokenize applies merges greedily left-to-right, inert within a round") {
    val merges = Seq(("u", "g"), ("u", "n"), ("h", "ug"))
    val docs = Seq((1L, "hug bun hugs")).toDF("doc_id", "text")
    val toks = Bpe.tokenize(docs, "text", merges)
      .select(col("tokens")).as[Seq[String]].head()
    assert(toks == Seq("hug", "b", "un", "hug", "s"))
  }

  test("overlapping pair fuses non-overlapping left-to-right: aaaa → aa aa") {
    val docs = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val toks = Bpe.tokenize(docs, "text", Seq(("a", "a")))
      .select(col("tokens")).as[Seq[String]].head()
    assert(toks == Seq("aa", "aa", "aa", "a"))
  }

  test("end-to-end on documents: merges are learned and non-trivial") {
    val words = Bpe.wordFrequencies(
      graft.Tables.documents(spark, sfDir), "text")
    val merges = Bpe.train(words, 8)
    assert(merges.length == 8)
    assert(merges.distinct.length == 8, "merge list must not repeat")
    // applying the learned tokenizer shortens token streams vs raw chars
    val tok = Bpe.tokenize(
      graft.Tables.documents(spark, sfDir).limit(50), "text", merges)
    val n = tok.select(
      sum(size(col("tokens"))).as("bpe"),
      sum(length(regexp_replace(col("text"), "\\s+", ""))).as("chars"))
      .head()
    assert(n.getLong(0) < n.getLong(1), "BPE tokens must compress chars")
  }

  test("encode piece counts: the HOF scan equals the nested-replace spelling (the x_bpe_encode oracle form)") {
    // the oracle spells greedy merge application as nested literal
    // replace() over a (c)(h)(a)(r)-wrapped word; both are l-t-r
    // non-overlapping scans, so piece counts must agree word for word
    val words = Seq("the", "there", "data", "code", "thththe", "aaaa",
      "x", "ingesting", "standard", "coordinate", "decode", "datadata")
    def replaceSpelling(w: String): Int = {
      var s = w.flatMap(c => s"($c)")
      for ((a, b) <- Bpe.DemoMerges) s = s.replace(s"($a)($b)", s"($a$b)")
      s.count(_ == '(')
    }
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val hof = Bpe.tokenize(df, "text", Bpe.DemoMerges)
      .select(col("text"), size(col("tokens"))).as[(String, Int)]
      .collect().toMap
    for (w <- words)
      assert(hof(w) == replaceSpelling(w),
        s"'$w': HOF ${hof(w)} != replace ${replaceSpelling(w)}")
    // the registry query's engine-side spelling (Bpe.encodeStats) must
    // count the same pieces as both
    val viaStats = Bpe.encodeStats(df, "doc_id", "text", Bpe.DemoMerges)
      .select(col("doc_id"), col("n_pieces")).as[(Long, Long)]
      .collect().toMap
    for ((w, i) <- words.zipWithIndex)
      assert(viaStats(i.toLong) == replaceSpelling(w).toLong,
        s"'$w': encodeStats ${viaStats(i.toLong)} != ${replaceSpelling(w)}")
  }
}
