package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

import graft.functions.Numeric

/** Document-dedup operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: every stage is keyed (doc_id or shingle/band bucket) and
  * shuffles once on that key. The all-pairs Jaccard join is on the
  * *shingle* (inverted-index join) — cost is Σ per-shingle df², not n²
  * over documents; MinHash/LSH replaces it with a band-bucket join whose
  * cost is Σ per-bucket size², the standard way to near-dedup 100 TB.
  * Hashes are md5-derived (lexicographic min over hex strings), identical
  * in any engine — deliberately NOT murmur/xxhash, whose values are
  * engine-specific and would break oracle parity.
  */
object DedupOps {

  /** doc_id + exploded DISTINCT n-gram shingles — the inverted-index base
    * (native [[graft.functions.WordShingles]]; the HOF formulation costs
    * per-element interpreted dispatch).
    */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.WordShingles.shingles(col(textCol), n, distinct = true))
        .as("shingle"))

  /** As [[shingleIndex]] but shingles hashed to int64 (xxhash64) after
    * the explode: the Jaccard self-join shuffles and compares 8-byte
    * keys instead of ~20-char strings — same pair counts (collision odds
    * ~2^-64·|S|², negligible), much cheaper exchange. Use where the
    * shingle VALUE isn't needed downstream.
    */
  def shingleIndexHashed(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    shingleIndex(docs, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))

  /** Exact dedup groups: content hash → group size + representative id. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** All pairs (a < b) with n-gram Jaccard ≥ threshold, via inverted-index
    * self-join on the shingle. `jaccard` is rounded order-independently
    * (integer set sizes, single IEEE division) for cross-engine parity.
    *
    * `maxShingleDf`: optional document-frequency cap — shingles appearing
    * in more than this many documents are excluded from the self-join
    * (NOT from the set sizes). The join's cost is Σ per-shingle df², so a
    * single stopword-like shingle with df = 10⁶ alone costs 10¹² pair
    * rows; capping df bounds every bucket. Standard at corpus scale.
    * Recall impact: a capped shingle no longer counts toward n_common,
    * so `jaccard` is an UNDER-estimate for pairs sharing hot shingles —
    * pairs whose overlap is mostly boilerplate may drop below threshold
    * (usually the desired behavior: boilerplate overlap isn't near-dup
    * evidence). Set sizes stay exact.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.02,
                   maxShingleDf: Option[Long] = None,
                   materialize: Boolean = true): DataFrame = {
    // materialized ONCE: the shingle index feeds the per-doc sizes, the
    // df cap, and BOTH self-join legs — Catalyst does not dedupe common
    // subplans, so un-checkpointed the tokenize→shingle→distinct corpus
    // pass ran ~4x per query (the tfidfCosinePairs/mergeDeltaSmall
    // rationale). Freed once the threshold-filtered pair result is
    // materialized (EAGER contract; planOnly degrades both to no-ops).
    // `materialize = false` keeps the whole derivation lazy: for
    // SAMPLE-sized inputs (the recall gauges) the two checkpoint
    // barriers cost more than the pipeline re-runs they avoid —
    // measured +0.6 s on x_lsh_recall's md5-half corpus at sf0.1.
    val ck: DataFrame => DataFrame =
      if (materialize) shims.checkpointWithStats else identity
    val free: DataFrame => Unit =
      if (materialize) shims.unpersistLocalCheckpoint else _ => ()
    val sh0 = ck(shingleIndexHashed(docs, idCol, textCol, n))
    val sizes = sh0.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val sh = maxShingleDf match {
      case None => sh0
      case Some(cap) =>
        // shingles are DISTINCT per doc, so count = document frequency;
        // one keyed aggregation (map-side combined) + a semi-join
        val rare = sh0.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap).select(col("shingle"))
        sh0.join(rare, Seq("shingle"), "left_semi")
    }
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val scored = pairs
      .join(sizes.select(col(idCol).as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard", Numeric.roundBin(
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
    val out = ck(scored)
    free(sh0)
    out
  }

  /** Typo-level near-duplicate pairs: shingle-index candidates verified
    * by EXACT edit distance. Completes the dedup ladder — token-level
    * (jaccard), bit-level (simhash), embedding-level (cosine) — with the
    * character-level measure that catches single-word edits and OCR
    * noise, which token shingles over-penalize and simhash under-weighs.
    *
    * Scale shape: the O(len·k) banded Levenshtein DP (Spark's
    * threshold form early-exits above `maxDistance`) runs ONLY on the
    * candidate set from the inverted-index join (Σ df², df-cappable) —
    * never all pairs. Texts join back on the id key (co-partitioned
    * shuffles); at 100 TB the candidate set is millions of rows where
    * all-pairs would be quadrillions.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, candidateThreshold: Double = 0.2,
                        maxDistance: Int = 6,
                        maxShingleDf: Option[Long] = None): DataFrame = {
    val cand = jaccardPairs(docs, idCol, textCol, n, candidateThreshold, maxShingleDf)
    val txt = docs.select(col(idCol), col(textCol))
    cand
      .join(txt.select(col(idCol).as("doc_a"), col(textCol).as("__ta")), "doc_a")
      .join(txt.select(col(idCol).as("doc_b"), col(textCol).as("__tb")), "doc_b")
      .withColumn("edit_distance",
        levenshtein(col("__ta"), col("__tb"), maxDistance).cast("bigint"))
      .filter(col("edit_distance") >= 0) // banded DP returns -1 above the bound
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("edit_distance"))
  }

  /** Cross-table record linkage (entity resolution between two
    * DATASETS, vs the same-table near-dup family above): match left
    * records to right records whose name is within `maxDistance`
    * edits, candidates blocked through a char-n-gram inverted index —
    * a candidate pair must share at least one n-gram whose combined
    * document frequency is ≤ `maxNgramDf`. The df cap is the blocking
    * analog of [[jaccardCapped]]'s: ubiquitous n-grams (shared
    * prefixes, zero runs) are dropped as block keys on BOTH sides —
    * they would pair everything with everything and carry no
    * discriminating evidence — so candidate volume is Σ_{df≤cap}
    * df_L·df_R, never |L|·|R|. Recall trade: a true pair ALL of whose
    * shared n-grams are capped away is missed (deterministically, and
    * identically in the oracle) — at warehouse scale that is the
    * standard blocking-key design problem, tuned via `maxNgramDf`.
    * Verification is the banded Levenshtein on candidates only.
    */
  def recordLinkage(left: DataFrame, leftId: String, leftName: String,
                    right: DataFrame, rightId: String, rightName: String,
                    n: Int = 3, maxDistance: Int = 5,
                    maxNgramDf: Long = 120L): DataFrame = {
    import graft.functions.CharNgrams
    val lg = left.select(col(leftId).as("left_id"),
      explode(CharNgrams.charNgrams(col(leftName), n)).as("g")).distinct()
    val rg = right.select(col(rightId).as("right_id"),
      explode(CharNgrams.charNgrams(col(rightName), n)).as("g")).distinct()
    // per-record-distinct rows → count = records containing g, both sides
    val ok = lg.select(col("g")).unionAll(rg.select(col("g")))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxNgramDf).select(col("g"))
    val cand = lg.join(ok, Seq("g"), "left_semi")
      .join(rg, Seq("g"))
      .select(col("left_id"), col("right_id")).distinct()
    cand
      .join(left.select(col(leftId).as("left_id"),
        col(leftName).as("__ln")), "left_id")
      .join(right.select(col(rightId).as("right_id"),
        col(rightName).as("__rn")), "right_id")
      .withColumn("edit_distance",
        levenshtein(col("__ln"), col("__rn"), maxDistance).cast("bigint"))
      .filter(col("edit_distance") >= 0) // banded DP: -1 above the bound
      .select(col("left_id"), col("right_id"), col("edit_distance"))
  }

  /** Containment pairs: |A∩B| / |A| ≥ threshold — the ASYMMETRIC overlap
    * measure. Jaccard misses a small document wholly contained in a much
    * larger one (the union term swamps the intersection); containment is
    * the quote/excerpt/subset-duplication detector. Emitted per directed
    * pair with doc_a as the contained side. Same inverted-index join and
    * cost model as [[jaccardPairs]] (Σ df², cap with `maxShingleDf` at
    * corpus scale); both directions come from the one undirected join.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.5,
                       maxShingleDf: Option[Long] = None,
                       materialize: Boolean = true): DataFrame = {
    // same checkpoint-once discipline (and same sample-scale escape
    // hatch) as jaccardPairs: sizes + df cap + both join legs read the
    // materialized shingle blocks
    val ck: DataFrame => DataFrame =
      if (materialize) shims.checkpointWithStats else identity
    val free: DataFrame => Unit =
      if (materialize) shims.unpersistLocalCheckpoint else _ => ()
    val sh0 = ck(shingleIndexHashed(docs, idCol, textCol, n))
    val sizes = sh0.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val sh = maxShingleDf match {
      case None => sh0
      case Some(cap) =>
        val rare = sh0.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap).select(col("shingle"))
        sh0.join(rare, Seq("shingle"), "left_semi")
    }
    val undirected = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("u"), col(s"b.$idCol").as("v"))
      .agg(count(lit(1)).as("n_common"))
    // both directions from the single undirected pair row
    val directed = undirected
      .select(col("u").as("doc_a"), col("v").as("doc_b"), col("n_common"))
      .union(undirected
        .select(col("v").as("doc_a"), col("u").as("doc_b"), col("n_common")))
    val scored = directed
      .join(sizes.select(col(idCol).as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .withColumn("containment",
        Numeric.roundBin(col("n_common").cast("double") / col("n_a"), 4))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("containment"))
    val out = ck(scored)
    free(sh0)
    out
  }

  /** MinHash signature: k independent hash functions h_i(s) = md5("i|"+s);
    * the signature component is the lexicographic MIN over the document's
    * shingles — a single groupBy with k min-aggregates over the inverted
    * index (map-side combining, one shuffle). The k hashes per shingle
    * come from one native pass ([[graft.functions.MinHashHashes]] —
    * byte-identical to k separate `min(md5(concat(...)))` chains, which
    * each paid a digest + concat + hex allocation per shingle).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, n: Int = 3): DataFrame = {
    val sh = shingleIndex(docs, idCol, textCol, n)
      .select(col(idCol), graft.functions.MinHashHashes.hashes(col("shingle"), k).as("hs"))
    val aggs = (0 until k).map(i => min(element_at(col("hs"), i + 1)).as(s"mh$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Same signature via the single mergeable sketch aggregate
    * ([[graft.functions.MinHashAgg]], TypedImperativeAggregate): one
    * buffer per group instead of k expression aggregates. Byte-identical
    * output (asserted in spec).
    */
  def minhashSignaturesAgg(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 8, n: Int = 3): DataFrame = {
    val sh = shingleIndex(docs, idCol, textCol, n)
    val sig = sh.groupBy(col(idCol))
      .agg(graft.functions.MinHashAgg.minhashSig(col("shingle"), k).as("sig"))
    sig.select(col(idCol) +: (0 until k).map(i => col("sig")(i).as(s"mh$i")): _*)
  }

  /** LSH banding of a k-wide signature into bands of `rowsPerBand`:
    * (doc, band_idx, band_key) rows; docs sharing any (band_idx, band_key)
    * are candidate near-dup pairs.
    */
  def lshBands(sigs: DataFrame, idCol: String, k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val bands = (0 until k / rowsPerBand).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      md5(concat_ws("|", parts: _*))
    }
    sigs.select(col(idCol), posexplode(array(bands: _*)).as(Seq("band_idx", "band_key")))
  }

  /** Distinct candidate pairs (a < b) sharing at least one LSH band.
    * `materialize = false`: the sample-scale escape hatch, as on
    * [[jaccardPairs]].
    */
  def lshCandidates(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, rowsPerBand: Int = 2, n: Int = 3,
                    materialize: Boolean = true): DataFrame = {
    // both self-join legs read the materialized band table instead of
    // each re-running the shingle -> minhash -> band pipeline
    val ck: DataFrame => DataFrame =
      if (materialize) shims.checkpointWithStats else identity
    val free: DataFrame => Unit =
      if (materialize) shims.unpersistLocalCheckpoint else _ => ()
    val bands = ck(
      lshBands(minhashSignatures(docs, idCol, textCol, k, n), idCol, k, rowsPerBand))
    val out = ck(
      bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
        .distinct())
    free(bands)
    out
  }

  /** Duplicated-SPAN extraction — the substring-level dedup primitive
    * (the ExactSubstr idea from Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", at n-gram granularity): find
    * maximal runs of consecutive word positions whose n-gram occurs in
    * ≥ `minDocs` distinct documents. Doc-level dedup misses boilerplate
    * (headers, license blocks, navigation chrome) pasted into otherwise
    * unique documents; span-level finds exactly those regions, and a
    * downstream pass can cut them while keeping the document.
    *
    * Emits (doc_id, span_start, span_end, n_words, n_grams): 0-based
    * inclusive word positions; a run of k consecutive duplicated n-grams
    * covers k + n − 1 words.
    *
    * Scale shape: document frequency is one keyed aggregation over
    * (doc, shingle-hash) with map-side combining; marking is a semi-join
    * on the 8-byte hash (membership only — no df² pair blowup, hot
    * boilerplate shingles cost df rows, not df²); island-merging is a
    * per-document window (documents are bounded, the partition key is
    * doc_id). Three shuffles total, none quadratic in anything.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 3, minDocs: Long = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs.select(col(idCol),
        posexplode(graft.functions.WordShingles.shingles(col(textCol), n))
          .as(Seq("pos", "shingle")))
      .select(col(idCol), col("pos").cast("bigint").as("pos"),
        xxhash64(col("shingle")).as("sh"))
    val dup = pos.select(col(idCol), col("sh")).distinct()
      .groupBy(col("sh")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs).select(col("sh"))
    // pos is unique per doc, so the semi-join output needs no distinct
    val marked = pos.join(dup, Seq("sh"), "left_semi")
    // gaps-and-islands: consecutive positions share (pos − row_number)
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    marked.withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_words"), col("n_grams"))
  }

  /** Substring-level corpus REWRITE — [[dupSpans]] taken to its
    * conclusion: cut duplicated spans out of every document EXCEPT the
    * first occurrence (per duplicated n-gram, the minimum doc_id among
    * its sharers keeps it), and reassemble the surviving words. This is
    * the C4/RefinedWeb-style "remove duplicated substrings, keep one
    * copy" pass: document-level dedup would either keep the boilerplate
    * everywhere or drop whole documents that are mostly unique.
    *
    * Returns every input document as (doc_id, clean_text,
    * n_removed_words); untouched docs pass through with n_removed = 0,
    * fully-duplicated docs come back with clean_text = ''.
    *
    * Scale shape: one aggregation over distinct (doc, shingle) computes
    * df + keeper together; removal marking is the same membership join
    * as [[dupSpans]]; reassembly is a per-document sort of the surviving
    * words (array_sort over a collected struct — bounded by document
    * size, the partition key is doc_id). Deterministic everywhere: no
    * window over floats, no collect_list order dependence (sorted before
    * join).
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, minDocs: Long = 2): DataFrame = {
    val pos = docs.select(col(idCol),
        posexplode(graft.functions.WordShingles.shingles(col(textCol), n))
          .as(Seq("pos", "shingle")))
      .select(col(idCol), col("pos").cast("bigint").as("pos"),
        xxhash64(col("shingle")).as("sh"))
    // df (distinct docs) and keeper (min doc) in ONE keyed aggregation
    val stats = pos.select(col(idCol), col("sh")).distinct()
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("__df"), min(col(idCol)).as("__keeper"))
      .filter(col("__df") >= minDocs)
    val removedPos = pos.join(stats, Seq("sh"))
      .filter(col(idCol) =!= col("__keeper"))
      .select(col(idCol), col("pos"))
    // each removed n-gram start covers its n words
    val covered = removedPos
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (n - 1))).as("wpos"))
      .distinct()
    val words = docs.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("wpos", "word")))
      .select(col(idCol), col("wpos").cast("bigint").as("wpos"), col("word"))
    val kept = words.join(covered, Seq(idCol, "wpos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("wpos"), col("word")))),
          x => x.getField("word")), " ").as("clean_text"),
        count(lit(1)).as("__n_kept"))
    docs.select(col(idCol),
        size(split(col(textCol), " ")).cast("bigint").as("__n_words"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__n_words") - coalesce(col("__n_kept"), lit(0L))).as("n_removed_words"))
  }

  /** INCREMENTAL near-dup candidates: a fresh batch probed against the
    * standing corpus SIGNATURE INDEX — the shape a daily 100 TB pipeline
    * actually runs. The corpus side arrives as stored MinHash signatures
    * ([[minhashSignatures]] output, (id, mh0..mh{k-1})), so the nightly
    * cost is O(|new batch|) shingling + one band equi-join against the
    * index; the corpus text is never re-shingled and corpus×corpus pairs
    * are never re-derived. New-vs-new pairs are deliberately excluded
    * here (run [[lshCandidates]] over the batch for those — it's
    * batch-sized, not corpus-sized).
    *
    * Returns distinct (doc_new, doc_corpus). Caller guarantees the two
    * id spaces are disjoint (they are, in an append-only corpus).
    */
  def lshCandidatesIncremental(corpusSigs: DataFrame, fresh: DataFrame,
                               idCol: String, textCol: String,
                               k: Int = 8, rowsPerBand: Int = 2,
                               n: Int = 3): DataFrame = {
    val freshBands = lshBands(minhashSignatures(fresh, idCol, textCol, k, n),
      idCol, k, rowsPerBand)
    val corpusBands = lshBands(corpusSigs, idCol, k, rowsPerBand)
    freshBands.as("a").join(corpusBands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key"))
      .select(col(s"a.$idCol").as("doc_new"), col(s"b.$idCol").as("doc_corpus"))
      .distinct()
  }

  /** Store the corpus's banded MinHash signature index as a BUCKETED
    * catalog table — the stored-index amortization (BM25 postings /
    * stored IVF / PageRank walk table) applied to the text near-dup
    * family, which iterates more than any other LLM-pipeline workload.
    * Rows are `(idCol, bkey)` with `bkey = band_idx ':' band_key`
    * (fused so the probe is a SINGLE-key equi-join the bucket layout
    * can serve), bucketed AND sorted by bkey.
    *
    * What amortizes: the corpus-side shingling + MinHash + banding AND
    * its join shuffle both move to write time. Every later
    * [[lshCandidatesStored]] probe re-derives only the fresh batch
    * (O(|batch|)) and joins against the bucket layout read straight
    * off disk — zero exchange, zero sort on the corpus side, however
    * large the corpus grows. The same index serves every nightly batch
    * until the corpus itself is rewritten.
    */
  def writeBandIndex(docs: DataFrame, idCol: String, textCol: String,
      name: String, path: String, buckets: Int, k: Int = 8,
      rowsPerBand: Int = 2, n: Int = 3): Unit = {
    val bands = lshBands(minhashSignatures(docs, idCol, textCol, k, n),
        idCol, k, rowsPerBand)
      .select(col(idCol),
        concat_ws(":", col("band_idx"), col("band_key")).as("bkey"))
    graft.operators.Bucketed.writeBucketed(bands, name, path, "bkey", buckets)
  }

  /** [[lshCandidatesIncremental]] against a STORED band index
    * ([[writeBandIndex]]): result-identical by construction (the fused
    * bkey equality is the (band_idx, band_key) equality — band_idx is
    * a single digit and ':' cannot appear in an md5 hex band_key), but
    * the corpus side is a bucketed scan, so the candidate join runs
    * with no corpus-side exchange or sort (pinned in DedupStoredSpec).
    * Returns distinct (doc_new, doc_corpus), new-vs-corpus only — the
    * [[lshCandidatesIncremental]] contract.
    */
  def lshCandidatesStored(spark: SparkSession, name: String, fresh: DataFrame,
      idCol: String, textCol: String, k: Int = 8, rowsPerBand: Int = 2,
      n: Int = 3): DataFrame = {
    val freshBands = lshBands(minhashSignatures(fresh, idCol, textCol, k, n),
        idCol, k, rowsPerBand)
      .select(col(idCol).as("doc_new"),
        concat_ws(":", col("band_idx"), col("band_key")).as("bkey"))
    freshBands.join(spark.table(name), "bkey")
      .select(col("doc_new"), col(idCol).as("doc_corpus"))
      .distinct()
  }

  /** Dedup RESOLUTION: collapse candidate pairs into groups and pick a
    * keeper — connected components by min-label propagation WITH POINTER
    * JUMPING, iterated TO A FIXED POINT. Each round every node first
    * adopts the min label among itself and its neighbors, then shortcuts
    * through its label's own label (l(v) ← l(l(v)), Shiloach–Vishkin
    * style): the min label reaches distance-2^k nodes after ~k rounds, so
    * a chain component converges in O(log diameter) rounds instead of the
    * O(diameter) plain propagation needs — at corpus scale a pathological
    * chained component costs ~40 rounds at n = 10¹², not 10¹². Labels
    * only ever decrease and are bounded below, so the fixed point is
    * guaranteed; `maxIterations` is a runaway backstop, not a correctness
    * parameter. At the fixed point every edge's endpoints carry equal
    * labels (each ≤ the other), i.e. keep_id = component minimum.
    * Returns (doc_id, keep_id) for every doc appearing in a pair.
    *
    * Scale note: each round is two keyed joins + one groupBy on the node
    * id, with the convergence probe a cheap count over the checkpointed
    * round output; at real scale swap localCheckpoint for reliable
    * checkpointing, same loop. Superseded rounds' checkpoint blocks are
    * unpersisted as soon as the next round materializes — otherwise the
    * loop accumulates O(rounds) dead storage blocks that the async
    * ContextCleaner may never collect (large heaps GC rarely), degrading
    * every job that runs after (measured 3–30× on the 10× bench).
    */
  def resolveComponents(pairs: DataFrame, maxIterations: Int = 50): DataFrame =
    resolveComponentsCounted(pairs, maxIterations)._1

  /** Driver union-find over a collected broadcast-small symmetrized
    * edge list — the [[graft.ext.Graph.componentsIncremental]]
    * broadcast-small move (r9 VERDICT #5) applied to the COLD solve
    * (r16): when the measured edge footprint is within the session's
    * broadcast threshold, the distributed fixed point's per-round
    * machinery (2 joins + a checkpoint + ~log(diameter) rounds of jobs)
    * buys nothing — the same bytes a broadcast hash join would collect
    * to the driver solve the labeling in one pass. Min-tracking
    * union-find (always hang the larger root under the smaller)
    * reproduces the loop's exact labeling: component = min node id.
    * Returns (doc_id, label) rows for every node appearing in an edge.
    */
  private def resolveComponentsSmall(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val rows = edges.collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (parent.getOrDefault(c, c) != c) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    val nodes = new java.util.LinkedHashSet[java.lang.Long]()
    rows.foreach { row =>
      val (u, v) = (row.getLong(0), row.getLong(1))
      nodes.add(u); nodes.add(v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv) }
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size)
    nodes.forEach(n => out += ((n.longValue, find(n.longValue))))
    out.toSeq.toDF("doc_id", "label")
  }

  /** [[resolveComponents]] plus the convergence telemetry a scale run
    * needs: returns (labels, rounds actually executed). Rounds should
    * grow ~log(component diameter); a super-logarithmic round count on a
    * scale-up is the early-warning signal (asserted in ResolveSpec,
    * logged by ScaleSmoke). Rounds = 0 signals the broadcast-small
    * driver solve took the query ([[shims.broadcastSmall]]: the
    * session's `spark.sql.autoBroadcastJoinThreshold` is the one switch
    * — ResolveSpec sets it to -1 where it pins the distributed loop's
    * round counts).
    */
  def resolveComponentsCounted(pairs: DataFrame, maxIterations: Int = 50): (DataFrame, Int) = {
    // Per-round checkpoints MUST reinject measured stats, not snapshot
    // the origin plan's estimate: a plain localCheckpoint(eager) copies
    // the SizeInBytesOnly join-PRODUCT estimate into the LogicalRDD, and
    // since every round's plan joins the previous checkpoint against
    // itself, the carried BigInt SQUARES per round — digit count grows
    // 2^rounds, and NESTING component runs (componentsIncremental runs
    // this loop twice, the second seeded by the first's output) left the
    // driver burning >1000 s of CPU in Toom-Cook BigInteger multiplies
    // inside stats estimation at sf0.01 (jstack-verified). Measured
    // stats keep the numbers small AND let AQE broadcast small label
    // sides from real sizes. The EAGER variant runs even in planOnly
    // mode: this loop is inherently eager (per-round convergence
    // probe), and with upstream stats checkpoints degraded to identity
    // there, an origin-stats checkpoint would carry the UNCUT lineage's
    // join-product estimate — the blow-up, squared per round (measured:
    // DumpPlans hung >580 s planning x_components_incremental).
    def ckpt(df: DataFrame): DataFrame = shims.checkpointWithStatsEager(df)
    // materialize the edge list once and truncate label lineage per round —
    // otherwise every iteration's plan re-embeds the full upstream
    // candidate pipeline (~2× per round) and the final plan replays it
    // dozens of times
    val edges = ckpt(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    // BROADCAST-SMALL COLD SOLVE (r16 — see [[resolveComponentsSmall]]):
    // the measured checkpoint footprint is the same number AQE would
    // broadcast on, so "fits a broadcast" ⇒ the driver union-find
    // replaces ~log(diameter) rounds of distributed jobs. Row-identical
    // labeling (ResolveSpec differential); rounds reported as 0.
    val allLong = edges.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (allLong && shims.broadcastSmall(edges)) {
      val solved = resolveComponentsSmall(edges)
      shims.unpersistLocalCheckpoint(edges)
      return (solved.select(col("doc_id"), col("label").as("keep_id")), 0)
    }
    var labels = ckpt(edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id")))
    var converged = false
    var round = 0
    var prevCheckpoint = labels // superseded once the next round materializes
    while (!converged && round < maxIterations) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), Seq("dst"))
        .groupBy(col("src").as("doc_id")).agg(min(col("label")).as("nbr_label"))
      // NOT checkpointed: the jump self-joins stepped against itself, and
      // Spark reuses the identical aggregate subplan across the two sides
      // (ReusedExchange under the same shuffle) — one materialization per
      // round, not two, was measured ~15% faster on the whole family with
      // identical results (ResolveSpec + oracle unchanged)
      val stepped = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("prev_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jump: follow the adopted label to ITS label this round —
      // labels are always node ids, so the lookup is a self-join; the
      // left join + coalesce covers the component-min node, whose label
      // (itself) is its own fixed point.
      // Convergence is OBSERVED during the checkpoint's own
      // materialization (r16): the old `jumped.filter(label <
      // prev_label).isEmpty` was a second action per round over the
      // just-written blocks — the observe fuses that scalar into the
      // materialization job, and prev_label no longer needs to be
      // materialized into the round's blocks at all (the projection
      // above the CollectMetrics drops it).
      val obsName = s"__cc_changed_$round"
      val (jumped, obs) = shims.checkpointWithStatsObservedEager(
        stepped.as("s")
          .join(stepped.select(col("doc_id").as("label"), col("label").as("jmp")).as("j"),
            Seq("label"), "left")
          .select(col("doc_id"), col("prev_label"),
            least(col("label"), coalesce(col("jmp"), col("label"))).as("label"))
          .observe(obsName, sum(when(col("label") < col("prev_label"), 1L)
            .otherwise(0L)).as("changed"))
          .select(col("doc_id"), col("label")))
      converged = obs.get(obsName)
        .forall(r => r.isNullAt(0) || r.getLong(0) == 0L)
      // `jumped` is materialized and lineage-free: the prior round's
      // blocks are now dead
      shims.unpersistLocalCheckpoint(prevCheckpoint)
      prevCheckpoint = jumped
      labels = jumped
      round += 1
    }
    shims.unpersistLocalCheckpoint(edges) // result carries labels only
    (labels.select(col("doc_id"), col("label").as("keep_id")), round)
  }

  /** Resolution with a QUALITY-AWARE keeper: real pipelines don't keep
    * the min-id duplicate, they keep the best one (longest, highest
    * quality score). Reuses [[resolveComponents]]'s min-label component
    * ids, then picks argmax(score, tie → min id) per component with one
    * window — components are tiny (near-dup clusters), so the window
    * never sees more than a cluster. Returns (doc_id, keep_id) where
    * keep_id is the component's best-scoring member.
    */
  def resolveKeepBest(pairs: DataFrame, scores: DataFrame, idCol: String,
                      scoreCol: String, maxIterations: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = resolveComponents(pairs, maxIterations)
      .select(col("doc_id"), col("keep_id").as("__comp"))
    val scored = comp.join(
      scores.select(col(idCol).as("doc_id"), col(scoreCol).as("__q")), Seq("doc_id"))
    val w = Window.partitionBy(col("__comp"))
      .orderBy(col("__q").desc, col("doc_id").asc)
    val best = scored
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("__comp"), col("doc_id").as("keep_id"))
    scored.join(best, Seq("__comp")).select(col("doc_id"), col("keep_id"))
  }

  // ---------------------------------------------------------------- SimHash

  /** 32-bit SimHash per document over n-gram shingles: bit j of the
    * fingerprint is set iff Σ_shingles (2·bit_j(md5(shingle)) − 1) > 0.
    * One shuffle (groupBy doc) carrying 32 small integer sums.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val hh = shingleIndex(docs, idCol, textCol, n)
      .select(col(idCol), substring(md5(col("shingle")), 1, 8).as("h"))
    // precompute the 8 nibble values once per row (8 instr calls), then
    // derive the 32 bits by shifting — not 32 independent instr chains
    val nibbles = hh.select(col(idCol) +: (0 until 8).map(p =>
      expr(s"instr('0123456789abcdef', substr(h, ${p + 1}, 1)) - 1").as(s"n$p")): _*)
    val sums = (0 until 32).map { j =>
      expr(s"sum(2 * (shiftright(n${j / 4}, ${j % 4}) & 1) - 1)").as(s"s$j")
    }
    val combine = (0 until 32)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    nibbles.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol), expr(combine).cast("bigint").as("simhash"))
  }

  /** SimHash near-dup PAIRS within a hamming radius (the Manku et al.
    * 2007 web-dedup scheme): split each 32-bit fingerprint into `nBands`
    * contiguous bands; by pigeonhole, two fingerprints within hamming
    * distance < nBands agree exactly on at least one band, so the
    * band equi-join has EXACT recall for `radius < nBands` — the rare
    * LSH construction with no recall loss at all. Candidates are then
    * verified with `bit_count(xor)`.
    *
    * Complements MinHash: one 8-byte fingerprint per doc (vs k
    * signature columns), radius semantics instead of jaccard-threshold
    * semantics, and all-integer — bit-identical in any engine.
    *
    * Scale shape: band join cost is Σ per-bucket size² over 2^(32/nBands)
    * buckets per band; at 4 bands that's 256 buckets — fine to ~10⁶ docs
    * per partition-sized slice, and the band width/count trade is the
    * standard knob beyond that (64-bit simhash, 6 bands of ~11 bits).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, radius: Int = 3, nBands: Int = 4): DataFrame = {
    require(radius < nBands,
      s"pigeonhole guarantee needs radius < nBands (got $radius >= $nBands)")
    val w = 32 / nBands
    val sh = simhash(docs, idCol, textCol, n)
    val bands = sh.select(col(idCol), col("simhash"),
      posexplode(array((0 until nBands).map(b =>
        shiftright(col("simhash"), b * w).bitwiseAND(lit((1L << w) - 1))): _*))
        .as(Seq("band_idx", "band_key")))
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        expr(s"CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= radius)
  }

  /** DuckDB oracle twin of [[simhash]] (generated, same bit formulas). */
  def simhashOracleSql(table: String, idCol: String, textCol: String): String = {
    val nibbles = (0 until 8)
      .map(p => s"(instr('0123456789abcdef', substr(h, ${p + 1}, 1)) - 1) AS n$p")
      .mkString(",\n    ")
    val sums = (0 until 32)
      .map(j => s"sum(2 * ((n${j / 4} >> ${j % 4}) & 1) - 1) AS s$j").mkString(",\n    ")
    val combine = (0 until 32)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (SELECT $idCol, string_split($textCol, ' ') AS ws FROM $table),
       |sh AS (SELECT DISTINCT $idCol, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
       |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) t),
       |hh AS (SELECT $idCol, substr(md5(shingle), 1, 8) AS h FROM sh),
       |nib AS (SELECT $idCol,
       |    $nibbles
       |  FROM hh),
       |agg AS (SELECT $idCol,
       |    $sums
       |  FROM nib GROUP BY $idCol)
       |SELECT $idCol, CAST($combine AS BIGINT) AS simhash FROM agg""".stripMargin
  }
}
