package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

/** Byte-pair-encoding tokenizer training as a Spark job.
  *
  * BPE training never needs the corpus after the first pass: the classic
  * algorithm (Sennrich 2016; the shape HuggingFace tokenizers train with)
  * operates on the *word-frequency table*, whose size is bounded by the
  * vocabulary (~1M entries at any corpus scale), not the corpus. So the
  * distributed design is:
  *
  *   1. one corpus-wide aggregation → `word, freq` (the only 100 TB-sized
  *      stage — a single hash shuffle with map-side combine);
  *   2. an iterative merge loop over the bounded table, one merge per
  *      round: weighted adjacent-pair counts → global argmax (a 1-row
  *      `limit(1).collect()` — bounded driver state, the same pattern as
  *      the IVF k-means centroid pull in Similarity.scala) → rewrite the
  *      token arrays with the winning pair fused.
  *
  * The pair-merge rewrite is a left-to-right scan implemented with the
  * `aggregate` higher-order function: merged tokens are inert within the
  * round (a fused "ab" no longer textually equals "a", so a cascade can
  * only re-trigger where greedy left-to-right replacement would fuse the
  * next occurrence anyway — e.g. merge (a,a) over "aaaa" → [aa, aa]).
  * That is exactly the per-merge greedy application HF tokenizers use.
  *
  * Determinism: ties in the argmax break on (count desc, left asc,
  * right asc) — byte-order total order, reproducible on any cluster.
  */
object Bpe {

  /** Corpus → bounded `word, freq` table (whitespace words, lowercased). */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** Round-1 BPE statistics: adjacent character pairs weighted by word
    * frequency. `substr(word, i, 2)` is the pair itself — 1-char symbols
    * at round 1, so the 2-char slice is exact. Single-char words
    * contribute no pairs (Spark's `sequence(1, 0)` counts *down*, so the
    * length guard is semantic, not just an optimization).
    */
  def pairCounts(words: DataFrame): DataFrame =
    words.filter(length(col("word")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"), col("freq"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("pair_count"))

  /** Split a word into its character symbols. */
  private def charTokensOf(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** Greedy left-to-right fuse of adjacent (a, b) → a+b over a token
    * array — the per-merge application step, as an `aggregate` HOF scan.
    */
  private def fusePair(tokens: Column, a: String, b: String): Column =
    aggregate(
      tokens,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Learn `numMerges` merges from a `word, freq` table. Returns the
    * ordered merge list — the trained tokenizer. Driver state is the
    * merge list itself (bounded by numMerges); each round collects
    * exactly one row. A checkpoint per round caps the lineage the
    * iterative rewrite would otherwise stack numMerges HOFs deep; each
    * round frees the previous round's blocks, so storage stays at one
    * token table whatever numMerges is.
    */
  def train(words: DataFrame, numMerges: Int): Seq[(String, String)] = {
    var cur = shims.checkpointEager(words
      .select(charTokensOf(col("word")).as("tokens"), col("freq")))._1
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val best = cur
        .filter(size(col("tokens")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("tokens")) - 1),
          i => struct(
            element_at(col("tokens"), i).as("l"),
            element_at(col("tokens"), i + lit(1)).as("r")))).as("p"),
          col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best.head.getString(0), best.head.getString(1))
        merges += ((a, b))
        val next = shims.checkpointEager(
          cur.withColumn("tokens", fusePair(col("tokens"), a, b)))._1
        shims.unpersistLocalCheckpoint(cur)
        cur = next
        round += 1
      }
    }
    shims.unpersistLocalCheckpoint(cur)
    merges.result()
  }

  /** Apply a trained merge list: corpus → per-doc `tokens` (per-word BPE,
    * flattened in word order). Map-only — each merge is one nested HOF
    * layer, fine for the bounded merge lists BPE uses.
    */
  /** A FIXED merge table for the tokenizer-APPLICATION query
    * (`x_bpe_encode`). At apply time a tokenizer is a FROZEN model
    * artifact (a merges.txt file), not a function of the corpus being
    * encoded — that is what makes the encode step oracle-checkable: the
    * merge list is part of the query text in both engines, the way the
    * IVF demo centroids and the BM25 query terms are. Ordered; later
    * merges build on earlier ones ((t,h) → (th,e) → (the,re)), so the
    * chain exercises real multi-level BPE, not just digraph fusion.
    */
  val DemoMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("in", "g"), ("e", "r"),
    ("a", "n"), ("an", "d"), ("o", "n"), ("r", "e"), ("a", "t"),
    ("e", "n"), ("o", "r"), ("e", "s"), ("s", "t"), ("a", "r"),
    ("o", "u"), ("l", "e"), ("d", "e"), ("c", "o"), ("d", "a"),
    ("t", "a"), ("da", "ta"), ("co", "de"), ("the", "re"))

  def tokenize(docs: DataFrame, textCol: String, merges: Seq[(String, String)]): DataFrame = {
    def perWord(w: Column): Column =
      merges.foldLeft(charTokensOf(w)) { case (toks, (a, b)) => fusePair(toks, a, b) }
    docs.withColumn("tokens",
      flatten(transform(
        filter(split(lower(col(textCol)), "\\s+"), w => w =!= ""),
        w => perWord(w))))
  }

  /** Tokenizer-application ACCOUNTING at corpus scale: per-doc word /
    * BPE-piece / char counts under a fixed merge table, as ONE map-only
    * projection of codegen'd string ops — no arrays, no HOF scans.
    *
    * Spelling: normalize (non-alnum → space), wrap every remaining char
    * as `(c)`, then fold the merge table as literal
    * `replace("(a)(b)" → "(ab)")`. Both engines' replace is a
    * left-to-right NON-OVERLAPPING scan that resumes after each
    * replacement — exactly the greedy per-merge BPE pass ((a,a) over
    * "aaaa" fuses twice, over "aaa" once), and a fused "(ab)" can never
    * re-trigger "(a)(b)" textually, so the fold is round-equivalent to
    * [[tokenize]]'s per-word HOF scan (equivalence pinned in BpeSpec).
    * Spaces stay unwrapped, so no merge pattern can span a word
    * boundary. The piece count is the '(' count of the folded string.
    *
    * Why not count via [[tokenize]]: the HOF scan rebuilds its
    * accumulator array per element (O(len²) per merge layer,
    * interpreted) — measured 25 s at sf0.1 vs sub-second for this
    * spelling. [[tokenize]] remains the API when the piece ARRAYS are
    * needed downstream; for accounting (sizing a training mix) the
    * string fold is the 100 TB shape.
    */
  def encodeStats(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val norm = regexp_replace(lower(col(textCol)), "[^a-z0-9]", " ")
    val wrapped = regexp_replace(norm, "([a-z0-9])", "($1)")
    val enc = merges.foldLeft(wrapped) { case (c, (a, b)) =>
      org.apache.spark.sql.functions.replace(
        c, lit(s"($a)($b)"), lit(s"($a$b)")) }
    docs.select(col(idCol),
      size(filter(split(norm, "\\s+"), w => w =!= ""))
        .cast("long").as("n_words"),
      (length(enc) - length(org.apache.spark.sql.functions.replace(
        enc, lit("("), lit("")))).cast("long").as("n_pieces"),
      length(regexp_replace(norm, "\\s", "")).cast("long").as("n_chars"))
      .withColumn("compression", graft.functions.Numeric.roundBin(
        col("n_chars").cast("double") /
          nullif(col("n_pieces").cast("double"), lit(0.0)), 4))
  }
}
