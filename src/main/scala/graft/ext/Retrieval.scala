package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{shims => graftShims}

/** Lexical retrieval scoring — the BM25 family, spelled so the score is
  * EXACT integer arithmetic end to end (the PageRank discipline: a
  * classically-float algorithm restated with floor division so any
  * engine reproduces it bit for bit).
  *
  * Two deliberate departures from textbook BM25 (Robertson–Spärck
  * Jones), both documented as the engine's contract:
  *  - **rational idf**: the textbook weight is `ln((N−df+0.5)/(df+0.5))`;
  *    this engine uses the RATIO itself, floor-scaled:
  *    `idf_s = ((2(N−df)+1)·scale) div (2df+1)` — a monotone per-term
  *    transform of the same quantity (per-term rankings are identical;
  *    cross-term mixing weights rare terms more aggressively than the
  *    log form). The ln is exactly what the repo's determinism rule
  *    bans from oracle-checked scores: a last-ulp libm difference at a
  *    floor boundary would flip a scaled score (`HllDistinct` carries
  *    a measured-slack proof to keep its single ln; a per-term ln here
  *    would need that proof per corpus).
  *  - **exact-rational tf weight**: with k1 = 6/5 and b = 3/4, the
  *    textbook `tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))` multiplied
  *    through by `10·TL` (TL = total tokens, avgdl = TL/N) is
  *    `22·tf·TL / (10·TL·tf + 3·TL + 9·dl·N)` — integers throughout.
  *
  * Per-term contribution = `(idf_s · 22·tf·TL) div (10·TL·tf + 3·TL +
  * 9·dl·N)`; doc score = Σ contributions (integer sum — order-free).
  * Magnitudes: `idf_s` itself grows with the CORPUS — a df=1 term has
  * `idf_s ≈ (2N−1)·scale/3`, so the numerator is bounded by
  * `≈ 22/3 · scale · N · tf · TL`, and with the default scale=1000 it
  * stays inside a BIGINT only while `N·tf·TL ≲ 1.2×10¹⁵`
  * (N = n_docs, tf = max in-doc term count, TL = total corpus
  * tokens) — e.g. 10⁶ docs × tf 100 × 10⁷ tokens ≈ 10¹⁵, at the
  * boundary. Past that Spark wraps SILENTLY in non-ANSI mode while
  * DuckDB promotes to HUGEINT, breaking bit parity — widen the
  * contribution arithmetic to DECIMAL(38,0) or drop `scale` before
  * the corpus reaches that domain.
  *
  * Scale shape: one token explode (map-only), a terms-filtered
  * aggregation (postings for the QUERY terms only — the explode output
  * is cut to matching tokens before any shuffle), broadcast term
  * stats, one doc-length join, and a TakeOrdered top-k. Only documents
  * containing ≥1 query term are candidates (posting-list semantics);
  * at warehouse scale the token explode amortizes into a STORED
  * postings table partitioned by term bucket (the `x_ann_ivf_stored`
  * pattern) and the probe prunes partitions.
  */
object Retrieval {

  /** Top-k documents by the exact-integer BM25 variant for a fixed
    * query term set. Returns (idCol, bm25_scaled) ordered by
    * (score desc, id) with deterministic ties.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, scale: Long = 1000L): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val id = col(idCol)
    val tok = docs.select(id, explode(TextOps.tokens(col(textCol))).as("token"))
    val dl = tok.groupBy(id).agg(count(lit(1)).as("dl"))
    // corpus stats as a 1-row broadcast scalar bound (A2 pattern)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tl"))
    val tf = tok.filter(col("token").isin(terms: _*))
      .groupBy(id, col("token")).agg(count(lit(1)).as("tf"))
    score(tf, dl, stats, idCol, k, scale)
  }

  /** Shared scoring tail: tf postings (id, token, tf) + doc lengths +
    * 1-row corpus stats → top-k. df is derived from the postings of
    * the PROBED terms only (each term's df needs only its own posting
    * list — why the stored probe can prune to the query's partitions).
    */
  private def score(tf: DataFrame, dl: DataFrame, stats: DataFrame,
      idCol: String, k: Int, scale: Long): DataFrame = {
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfT), "token")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("idf_s",
        expr(s"((2 * (n_docs - df) + 1) * $scale) div (2 * df + 1)"))
      .withColumn("contrib",
        expr("(idf_s * 22 * tf * tl) div (10 * tl * tf + 3 * tl + 9 * dl * n_docs)"))
      .groupBy(col(idCol))
      .agg(sum(col("contrib")).as("bm25_scaled"))
      .orderBy(col("bm25_scaled").desc, col(idCol))
      .limit(k)
  }

  /** md5-derived partition band of a token — computed identically at
    * index-build time (partition column) and probe time (literal
    * partition filter), so the probe statically prunes to the query
    * terms' directories.
    */
  private def tokenBand(token: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(token.getBytes("UTF-8"))
    f"${d(0) & 0xff}%02x".substring(0, 1)
  }

  /** Build the postings index ONCE: full (id, token, tf) postings
    * partitioned by the token's md5 band (16 dirs), plus doc-length
    * and 1-row corpus-stats side tables — the stored-IVF amortization
    * applied to retrieval. The token explode is paid at build time;
    * every later query reads only its terms' partitions.
    */
  def writePostings(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val id = col(idCol)
    val tok = docs.select(id, explode(TextOps.tokens(col(textCol))).as("token"))
    val dl = tok.groupBy(id).agg(count(lit(1)).as("dl"))
    // band via the codegen'd md5 expression — [[tokenBand]] is its
    // driver-side twin for the probe's literal partition filter
    // salted clustering before the partitioned write (r17, guide §6 —
    // [[graft.operators.Bucketed.clusterForPartitionBy]]): bounds files
    // per band dir and keeps a hot band parallel
    graft.operators.Bucketed.clusterForPartitionBy(
        tok.groupBy(id, col("token")).agg(count(lit(1)).as("tf"))
          .withColumn("tok_band", substring(md5(col("token")), 1, 1)),
        "tok_band", idCol)
      .write.mode("overwrite").partitionBy("tok_band")
      .parquet(s"$path/postings")
    dl.write.mode("overwrite").parquet(s"$path/doclen")
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tl"))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Probe the stored index: identical results to [[bm25TopK]] on the
    * indexed corpus (parity pinned in RetrievalSpec), but the scan is
    * statically pruned to the query terms' md5-band partitions —
    * `PartitionFilters` in the plan, ≤ |terms|/16 of the index read.
    * Schemas are DECLARED (ids are BIGINT, the repo-wide id contract),
    * so an empty index — zero docs indexed → zero part files — reads
    * as zero candidates instead of failing schema inference.
    */
  def bm25TopKStored(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, terms: Seq[String], k: Int,
      scale: Long = 1000L): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val bands = terms.map(tokenBand).distinct
    val tf = spark.read
      .schema(s"$idCol BIGINT, token STRING, tf BIGINT, tok_band STRING")
      .parquet(s"$path/postings")
      .filter(col("tok_band").isin(bands: _*))
      .filter(col("token").isin(terms: _*))
      .select(col(idCol), col("token"), col("tf"))
    val dl = spark.read.schema(s"$idCol BIGINT, dl BIGINT")
      .parquet(s"$path/doclen")
    val stats = spark.read.schema("n_docs BIGINT, tl BIGINT")
      .parquet(s"$path/stats")
    score(tf, dl, stats, idCol, k, scale)
  }

  /** STREAMING postings maintenance — IVM for retrieval, completing the
    * batch/streaming symmetry for the BM25 family: each micro-batch of
    * new documents is tokenized ON ARRIVAL and its postings + doc-length
    * rows land as a `batch=<id>` shard (the StreamingIndex posture), so
    * the index is always current at O(batch) cost and the corpus text is
    * never re-read. Every piece of the BM25 state is mergeable across
    * shards by construction — postings and doc lengths are disjoint
    * per-document rows (a doc arrives in exactly one batch), and the
    * corpus stats (N, total length) are derived at probe time from the
    * doclen table the probe joins anyway — so the maintained index is
    * IDENTICAL to a from-scratch [[writePostings]] build over all
    * documents, for any micro-batch split.
    *
    * Replay idempotence needs no marker: a re-delivered batch overwrites
    * its own `batch=<id>` shards bit-for-bit (no additive state
    * anywhere — the reason the stored-stats side table of the batch
    * builder is deliberately NOT maintained here).
    */
  def bm25Sink(indexPath: String, idCol: String, textCol: String)
              (batch: DataFrame, batchId: Long): Unit = {
    val id = col(idCol)
    // checkpoint-once: the token explode feeds both the postings and
    // the doc-length aggregations
    val tok = graftShims.checkpointWithStats(
      batch.select(id, explode(TextOps.tokens(col(textCol))).as("token")))
    // tok_band nested INSIDE the batch shard, so the probe still prunes
    // to the query terms' md5-band directories within every shard
    // not salt-clustered — the ivfSink rationale: shard file counts are
    // delta-bounded, consolidation ([[compactIndex]]) re-clusters
    tok.groupBy(id, col("token")).agg(count(lit(1)).as("tf"))
      .withColumn("tok_band", substring(md5(col("token")), 1, 1))
      .write.mode("overwrite").partitionBy("tok_band")
      .parquet(s"$indexPath/postings/batch=$batchId")
    tok.groupBy(id).agg(count(lit(1)).as("dl"))
      .write.mode("overwrite").parquet(s"$indexPath/doclen/batch=$batchId")
    graftShims.unpersistLocalCheckpoint(tok)
  }

  /** Offline maintenance for the stream-maintained index: consolidate
    * the postings and doclen `batch=` shard tables into one shard each
    * via [[graft.operators.Compact.compactShards]]. Probe-side pruning
    * is preserved — `tok_band` stays a partition column inside the
    * consolidated postings shard — and the probe result is unchanged
    * (CompactSpec pins hash parity; SCALE.md "Round 11: `batch=` shard
    * compaction" measures the probe-latency curve vs shard count that
    * motivates running this).
    *
    * SAFETY: consolidate only batches beyond replay — after an
    * AvailableNow drain terminates, or `upTo` = the owning stream's
    * committed watermark. [[bm25Sink]]'s replay idempotence is a
    * re-delivered batch overwriting its own shard; on a consolidated
    * shard that overwrite would drop the other batches' rows.
    *
    * `minor`/`maxRuns` run the tiered LSM schedule; `maxRuns` defaults
    * to the measured probe-latency knee (8 — SCALE.md "Round 14:
    * read-side pricing of stacked runs": flat through 8 stacked runs,
    * 2–3× worse by 32).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, targetBytes: Long = 128L << 20,
      upTo: Long = Long.MaxValue,
      graceMs: Long = 0L,
      minor: Boolean = false,
      maxRuns: Int = graft.operators.Compact.DefaultMaxRuns): Seq[graft.operators.Compact.Report] = Seq(
    graft.operators.Compact.compactShards(spark, s"$indexPath/postings",
      targetBytes, nested = Seq("tok_band"), upTo = upTo, graceMs = graceMs,
      minor = minor, maxRuns = maxRuns),
    graft.operators.Compact.compactShards(spark, s"$indexPath/doclen",
      targetBytes, upTo = upTo, graceMs = graceMs, minor = minor,
      maxRuns = maxRuns))

  /** Probe the stream-maintained index: identical results to
    * [[bm25TopK]] over every document any shard has indexed (parity
    * pinned in StreamingBm25Spec and the `t12_streaming_bm25` oracle).
    * Same band pruning as [[bm25TopKStored]] — `tok_band` is a
    * discovered partition column inside each batch shard. Corpus stats
    * aggregate from the doclen table (one tiny agg over a table the
    * scoring tail joins anyway).
    */
  def bm25TopKStreamed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, idCol: String, terms: Seq[String], k: Int,
      scale: Long = 1000L): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val bands = terms.map(tokenBand).distinct
    // schemas DECLARED, same as [[bm25TopKStored]]: an index whose
    // shards hold zero part files reads as zero candidates instead of
    // failing schema inference, and genuine schema drift fails loudly
    // at analysis instead of being paper-overable by a broad catch.
    // `batch` is the shard partition column, declared LONG (foreachBatch
    // batchIds are longs; directory values parse either way). The reads
    // go through ShardStore so a compacted index (manifest + live dir)
    // probes identically — including mid-crash states of the compactor.
    val tf = graft.operators.ShardStore.read(spark, s"$indexPath/postings",
        org.apache.spark.sql.types.StructType.fromDDL(
          s"$idCol BIGINT, token STRING, tf BIGINT, tok_band STRING, batch BIGINT"))
      .filter(col("tok_band").isin(bands: _*))
      .filter(col("token").isin(terms: _*))
      .select(col(idCol), col("token"), col("tf"))
    val dl = graft.operators.ShardStore.read(spark, s"$indexPath/doclen",
        org.apache.spark.sql.types.StructType.fromDDL(
          s"$idCol BIGINT, dl BIGINT, batch BIGINT"))
      .select(col(idCol), col("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tl"))
    score(tf, dl, stats, idCol, k, scale)
  }

  /** The whole chain drained end-to-end (the `t12_streaming_bm25`
    * driver query): documents file-stream (3 arbitrary splits) →
    * per-batch postings shards → stream-index probe. Equals the batch
    * [[bm25TopK]] / stored-index probe for any split (oracle-pinned).
    * With `compact=true` the drain tail consolidates the postings and
    * doclen shards before probing — safe because AvailableNow commits
    * every batch before terminating, so all shard ids are beyond
    * replay; result-identical (StreamingBm25Spec pins parity).
    */
  def availableNowBm25(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, compact: Boolean = false): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val work = graft.streaming.DrainWork.tempDir("graft_stream_bm25")
    val src = s"$work/docs"
    val idx = s"$work/index"
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    docs.repartition(3).write.parquet(src)
    // the stream reads back what was just written from `docs` — its
    // schema is known (top-level nullability matches a parquet
    // read-back), no re-inference needed
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        docs.schema.fields.map(_.copy(nullable = true))))
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
    graft.streaming.DrainWidth.clamped(spark) {
      val q = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$work/checkpoint")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(bm25Sink(idx, "doc_id", "text") _)
        .start()
      q.awaitTermination()
    }
    // zero-doc drains write no shard dirs at all — tested by EXPLICIT
    // path existence (EmptyInputSpec wants the typed empty top-k), not
    // by catching AnalysisException, which would also swallow genuine
    // analysis errors (schema drift, renamed column) and report them as
    // an empty — and suspiciously fast — result. Shards that exist but
    // hold zero part files are covered by the declared read schemas in
    // [[bm25TopKStreamed]].
    val postings = new org.apache.hadoop.fs.Path(s"$idx/postings")
    val fs = postings.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(postings)) {
      if (compact) compactIndex(spark, idx)
      bm25TopKStreamed(spark, idx, "doc_id",
        Seq("vector", "spark", "window"), k = 20)
    }
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, bm25_scaled BIGINT"))
  }

  /** Sparse tf-idf cosine near-dup pairs: all document pairs sharing a
    * non-ubiquitous token, scored by the cosine of their tf-idf weight
    * vectors — the WEIGHTED complement to the Jaccard family (catches
    * high-overlap pairs whose shared terms are rare, which set-based
    * jaccard under-weighs, and ignores stopword overlap, which it
    * over-counts).
    *
    * Weights are exact integers: `w = tf · idf_s` with the rational
    * `idf_s = (2(N−df)+1) div (2df+1)` (the object-doc idf at scale=1),
    * dot products and squared norms are int64 sums, and only the final
    * cosine touches doubles (divide + correctly-rounded sqrt, rounded
    * order-independently to 6 decimals) — hash-identical cross-engine.
    * MAGNITUDE BOUND: `w ≤ 2N·tf`, so norms need `Σ_d (2N·tf)² < 2⁶³`,
    * i.e. `N·tf·√T_d ≲ 2×10⁹` (T_d = distinct capped terms per doc).
    * Past that, widen the weight arithmetic to DECIMAL(38,0).
    *
    * Scale shape: the pair join is the inverted-index equi-join on the
    * token with `maxTokenDf` capping document frequency — candidate
    * volume Σ_{df≤cap} df² ≤ cap·Σdf, never |D|² (the x_jaccard_capped
    * knob). Capped (ubiquitous) tokens drop out of BOTH the dots and
    * the norms, so the cosine is computed consistently inside the
    * capped vocabulary — replicated exactly by the oracle's HAVING.
    */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, maxTokenDf: Long): DataFrame = {
    // materialized ONCE: `w` feeds the norms plus BOTH sides of the
    // dots self-join, and Catalyst does not dedupe common subplans —
    // un-checkpointed, the tokenize→tf→df pipeline over the corpus
    // would run ~3× per query (the mergeDeltaSmall rationale). Freed
    // below once the (small) result is materialized.
    val w = graftShims.checkpointWithStats(tfidfWeights(docs, idCol, textCol, maxTokenDf))
    val norms = w.groupBy(col(idCol)).agg(sum(col("w") * col("w")).as("n2"))
    // EAGER contract (the graph-family posture): the pair result is
    // tiny (threshold-filtered), so materialize it and free the
    // corpus-sized weight blocks instead of leaking them behind a lazy
    // frame. planOnly mode degrades both checkpoints to no-ops.
    val out = graftShims.checkpointWithStats(
      tfidfCosineTail(w, norms, idCol, threshold))
    graftShims.unpersistLocalCheckpoint(w)
    out
  }

  /** The capped exact-integer tf-idf weight table `(id, token, w)` —
    * the derivation shared by the inline pair query and the stored
    * index build.
    */
  private def tfidfWeights(docs: DataFrame, idCol: String, textCol: String,
      maxTokenDf: Long): DataFrame = {
    val tok = docs.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
    val tf = tok.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    // 1-row corpus count, broadcast back (the A2 no-collect pattern)
    val stats = docs.agg(count(lit(1)).as("n_docs"))
    val dft = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxTokenDf)
    tf.join(dft, "token")
      .crossJoin(broadcast(stats))
      .withColumn("w", col("tf") * expr("(2 * (n_docs - df) + 1) div (2 * df + 1)"))
      .select(col(idCol), col("token"), col("w"))
  }

  /** Scoring tail shared by [[tfidfCosinePairs]] and the stored-index
    * probe: inverted-index self-join on the token, integer dots, then
    * the rounded cosine against the norms.
    */
  private def tfidfCosineTail(w: DataFrame, norms: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val dots = w.as("a").join(w.as("b"),
        col("a.token") === col("b.token") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dot_s"))
    dots
      .join(norms.select(col(idCol).as("doc_a"), col("n2").as("na")), "doc_a")
      .join(norms.select(col(idCol).as("doc_b"), col("n2").as("nb")), "doc_b")
      // nullif guards the zero-norm case (every-token-capped doc): the
      // cosine comes out NULL, the threshold filter drops it — same
      // nullif in the oracle, so both engines exclude identically
      // (ANSI mode would otherwise error the division)
      .withColumn("cos_sim", graft.functions.Numeric.roundBin(
        col("dot_s").cast("double") / nullif(
          sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")),
          lit(0.0)), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("dot_s"), col("cos_sim"))
  }

  /** Build the tf-idf weight index ONCE: the capped weight table
    * `(id, token, w)` as a BUCKETED catalog table (bucketBy/sortBy
    * token) plus a norms side table — the stored-index amortization
    * ([[writePostings]], `Similarity.writeIvfIndex`,
    * `DedupOps.writeBandIndex`) applied to the WEIGHTED near-dup
    * family. The tokenize→tf→df derivation (the dominant cost of
    * [[tfidfCosinePairs]]) is paid once at write time; every later
    * pair scan runs the inverted-index self-join on CO-LOCATED,
    * pre-sorted buckets — zero Exchange and zero Sort under the join
    * (RetrievalSpec pins the plan), which is the posture a nightly
    * near-dup sweep over a standing corpus wants.
    */
  def writeTfidfIndex(docs: DataFrame, idCol: String, textCol: String,
      maxTokenDf: Long, name: String, path: String, buckets: Int): Unit = {
    val w = graftShims.checkpointWithStats(
      tfidfWeights(docs, idCol, textCol, maxTokenDf))
    graft.operators.Bucketed.writeBucketed(w, name, s"$path/weights",
      "token", buckets)
    w.groupBy(col(idCol)).agg(sum(col("w") * col("w")).as("n2"))
      .write.mode("overwrite").parquet(s"$path/norms")
    // both tables are on disk: the build checkpoint is dead
    graftShims.unpersistLocalCheckpoint(w)
  }

  /** Probe the stored weight index: identical pairs to
    * [[tfidfCosinePairs]] on the indexed corpus (parity pinned in
    * RetrievalSpec). The self-join reads the bucketed layout straight
    * off disk; norms come from the side table instead of a re-agg of
    * the corpus.
    */
  def tfidfCosinePairsStored(spark: org.apache.spark.sql.SparkSession,
      name: String, path: String, idCol: String,
      threshold: Double): DataFrame = {
    val w = spark.table(name)
    val norms = spark.read.schema(s"$idCol BIGINT, n2 BIGINT")
      .parquet(s"$path/norms")
    tfidfCosineTail(w, norms, idCol, threshold)
  }
}
