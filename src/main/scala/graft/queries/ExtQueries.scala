package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Corpus, DedupOps, Similarity, TextOps}
import graft.functions.{MisraGries, Numeric}

/** Training-data-pipeline operators (beyond the reference): text
  * analysis, document dedup (exact / n-gram Jaccard / MinHash+LSH /
  * SimHash), embedding similarity search. Each has a DuckDB oracle.
  */
object ExtQueries {

  private val Stopwords = Seq("the", "a", "of", "and", "is", "in", "to")
  private val AnnScale = Similarity.Scale

  // capped-Jaccard parameters (shared by Spark query and oracle): the df
  // cap is the 100 TB knob — sized so it actually excludes shingles on
  // every testdata sf (max df is 7 at sf0.01, 25 at sf0.1)
  private val JaccardDfCap = 5L
  private val JaccardCappedThreshold = 0.05

  // tf-idf cosine pair parameters (shared by Spark query and oracle):
  // the TOKEN df cap — tokens are far more repeated than shingles, so
  // the cap excludes function words on every testdata sf while keeping
  // enough mid-frequency vocabulary that pairs survive at sf0.1 (cap 50
  // produced 0 rows there — a weaker oracle than a populated result)
  private[queries] val TfidfCosDfCap = 400L
  private[queries] val TfidfCosThreshold = 0.3

  // embedding near-dup parameters (shared by Spark query and oracle)
  // domain-mixture quotas: named sources oversampled, the long tail at 2
  private val MixQuotas = Map("src0" -> 15, "src1" -> 10, "src2" -> 5)
  private val MixDefaultQuota = 2
  private val NearDupTau = 0.4
  private val NearDupPlanes = 16
  private val NearDupRowsPerBand = 4
  private val EmbDims = 64

  /** Bucket target for `x_embed_neardup_sized`: 8, not the API default
    * 64, so [[Similarity.sizedRowsPerBand]] leaves its lower clamp even
    * at the 500-vector verify corpus (r = 6 there; a 64-row bucket
    * would clamp to the demo r = 4 and the sized path would be
    * degenerate-equal to the demo banding).
    */
  private val SizedNearDupBucketRows = 8L
  // centroid-outlier threshold: flags vectors not positively aligned
  // with their label centroid (~10% of the synthetic corpus)
  private val OutlierTau = 0.0

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- text quality / token statistics
    "x_text_stats" -> ((s, d) => {
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).cast("bigint").as("n_tokens"),
        size(array_distinct(toks)).cast("bigint").as("n_distinct_tokens"),
        length(col("text")).cast("bigint").as("n_chars"),
        TextOps.bpeTokenCount(col("text")).as("bpe_tokens"),
        Numeric.roundBin(
          TextOps.markerCount(col("text"), Stopwords).cast("double") / size(toks), 4)
          .as("stop_ratio"),
        Numeric.roundBin(
          TextOps.tokenCharSum(col("text")).cast("double") / size(toks), 4)
          .as("avg_token_len"))
    }),

    // ---- language-ID heuristic (marker-word argmax)
    "x_lang_id" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"), TextOps.langId(col("text")).as("lang_pred"))
    }),

    // ---- bag-of-words document fingerprint
    "x_fingerprint" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
    }),

    // ---- exact dedup groups by content hash
    "x_dedup_exact" -> ((s, d) =>
      DedupOps.exactGroups(Tables.documents(s, d), "doc_id", "text")),

    // ---- n-gram Jaccard near-dup pairs (inverted-index join)
    "x_jaccard_pairs" -> ((s, d) =>
      DedupOps.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.1)),

    // ---- Jaccard with the hot-shingle df cap — the variant you'd run at
    //      100 TB (join cost is Σ df², so one stopword-like shingle with
    //      df=10⁶ alone costs 10¹² pair rows; the cap bounds every bucket).
    //      Capped shingles don't count toward n_common → jaccard is an
    //      under-estimate for boilerplate-heavy pairs, replicated exactly
    //      in the oracle's HAVING df <= cap semi-join.
    "x_jaccard_capped" -> ((s, d) =>
      DedupOps.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = JaccardCappedThreshold,
        maxShingleDf = Some(JaccardDfCap))),

    // ---- containment (asymmetric jaccard): |A∩B|/|A| — catches a small
    //      doc wholly quoted inside a large one, which jaccard's union
    //      term swamps; doc_a is the contained side
    "x_containment_pairs" -> ((s, d) =>
      DedupOps.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.5)),

    // ---- typo-level near-dup: shingle candidates + banded Levenshtein
    //      verification (O(len·k) per candidate pair, never all-pairs)
    "x_edit_distance_pairs" -> ((s, d) =>
      DedupOps.editDistancePairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, candidateThreshold = 0.2, maxDistance = 6)),

    // ---- MinHash signatures (8 hashes over 3-shingles)
    "x_minhash_sig" -> ((s, d) =>
      DedupOps.minhashSignatures(Tables.documents(s, d), "doc_id", "text")),

    // ---- LSH candidate pairs (4 bands × 2 rows)
    "x_lsh_candidates" -> ((s, d) =>
      DedupOps.lshCandidates(Tables.documents(s, d), "doc_id", "text")),

    // ---- the SAME candidate pairs computed as documents STREAM in:
    //      map-only per-doc signatures + band-keyed flatMapGroupsWithState
    //      (streaming/StreamingNearDup), drained AvailableNow — pinned to
    //      the batch lshCandidates oracle
    "t8_streaming_neardup" -> ((s, d) =>
      graft.streaming.StreamingNearDup.availableNowCandidates(s, d)),

    // ---- LSH recall report: what fraction of TRUE near-dup pairs
    //      (jaccard >= 0.1) the banding surfaces — the number that says
    //      whether the band sizing is safe to ship. One row.
    //      SAMPLED: exact-jaccard truth runs on a deterministic
    //      md5-bucket half of the corpus (first hex digit < '8'), so the
    //      dominant Σdf² cost drops 4× (pairs scale with fraction²)
    //      while the estimate stays unbiased — band co-membership of a
    //      pair depends only on that pair's signatures, so
    //      sample-restricted candidates = full candidates ∩ sample².
    //      At corpus scale the same estimator runs at fraction ~1e-3.
    "x_lsh_recall" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < lit("8"))
      // materialize = false: on the gauge's md5-half SAMPLE the
      // checkpoint barriers cost more than the pipeline reuse they buy
      // (BenchRegressionSpec caught +0.6 s; production-sized corpora
      // keep the default eager materialization)
      val truth = DedupOps.jaccardPairs(docs, "doc_id", "text", n = 3,
          threshold = 0.1, materialize = false)
        .select(col("doc_a"), col("doc_b"))
      // single pass: a left join with a match flag references the truth
      // subplan ONCE — the semi-join + separate-count formulation would
      // evaluate the exact-jaccard computation twice (Catalyst doesn't
      // dedupe common subplans), doubling the dominant cost at scale
      val flagged = truth.join(
        DedupOps.lshCandidates(docs, "doc_id", "text", materialize = false)
          .withColumn("__hit", lit(1)),
        Seq("doc_a", "doc_b"), "left")
      flagged.agg(count(lit(1)).as("n_true"), count(col("__hit")).as("n_hit"))
        .select(col("n_true"), col("n_hit"),
          // NULL recall on an empty truth set (0/0), matching SQL division
          when(col("n_true") === 0, lit(null).cast("double"))
            .otherwise(Numeric.roundBin(
              col("n_hit").cast("double") / col("n_true"), 4)).as("recall"))
    }),

    // ---- 32-bit SimHash fingerprints
    "x_simhash" -> ((s, d) =>
      DedupOps.simhash(Tables.documents(s, d), "doc_id", "text")),

    // ---- simhash hamming-radius pairs: band join with EXACT recall for
    //      radius < nBands (pigeonhole), integer verify
    "x_simhash_pairs" -> ((s, d) =>
      DedupOps.simhashPairs(Tables.documents(s, d), "doc_id", "text")),

    // ---- sparse tf-idf cosine near-dup pairs: the WEIGHTED complement
    //      to the jaccard family (rare-term overlap counts, stopword
    //      overlap doesn't). Exact-integer weights/dots/norms; df-capped
    //      inverted-index join (candidates Σ_{df≤cap} df², never |D|²)
    "x_tfidf_cosine_pairs" -> ((s, d) =>
      graft.ext.Retrieval.tfidfCosinePairs(Tables.documents(s, d),
        "doc_id", "text", threshold = TfidfCosThreshold,
        maxTokenDf = TfidfCosDfCap)),

    // ---- the STORED twin: weight table written once as a bucketed
    //      catalog table (bucketBy token), probe self-joins the
    //      co-located pre-sorted buckets with zero exchange/sort under
    //      the join and reads norms from the side table — the
    //      stored-index amortization extended to the weighted near-dup
    //      family. Bit-identical pairs, same oracle.
    "x_tfidf_cosine_stored" -> ((s, d) => {
      val tmp = graft.streaming.DrainWork.stableDir("graft_tfidf_index")
      graft.ext.Retrieval.writeTfidfIndex(Tables.documents(s, d),
        "doc_id", "text", TfidfCosDfCap, "graft_tfidf_w", tmp, buckets = 16)
      graft.ext.Retrieval.tfidfCosinePairsStored(s, "graft_tfidf_w", tmp,
        "doc_id", TfidfCosThreshold)
    }),

    // ---- brute-force cosine top-5 (queries: vec_id < 10)
    "x_ann_cosine" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),

    // ---- REAL learned IVF: deterministic fixed-iteration k-means
    //      (order-independent scaled-integer numerics make the LEARNED
    //      index itself oracle-checkable), then nProbe-cell search. The
    //      label-bucketed variant below is the precomputed-partition
    //      shape; this one builds its own cells.
    // ---- the BUILD-ONCE index path: same learned IVF, but centroids +
    //      inverted lists are materialized partitionBy(cluster_id) and
    //      the search reads them back with dynamic partition pruning at
    //      the scan (same result as x_ann_ivf ⇒ same oracle; the
    //      pruning itself is pinned in IvfStoredSpec)
    "x_ann_ivf_stored" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = graft.streaming.DrainWork.tempDir("graft_ivf_idx")
      Similarity.writeIvfIndex(emb, "vec_id", "embedding",
        nClusters = 4, iterations = 2, path = path)
      Similarity.ivfTopKStored(s, path, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", nProbe = 2, k = 3)
        .withColumn("cluster_id", col("cluster_id").cast("bigint"))
    }),

    "x_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
          "embedding", nClusters = 4, iterations = 2, nProbe = 2, k = 3)
        .withColumn("cluster_id", col("cluster_id").cast("bigint"))
    }),

    // ---- product-quantization ANN (ADC): m=4 sub-codebooks trained with
    //      the same deterministic Lloyd as the IVF cells, corpus encoded
    //      to 4 codes/vector (~64x smaller than raw float32 — the scan
    //      ADC pays), ranked by exact scaled-integer asymmetric distance.
    //      The learned codebooks, the codes, and the distances are all
    //      oracle-checkable (fixed iterations, order-independent sums).
    "x_ann_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", m = 4, subDim = 16, ks = 4, iterations = 2, k = 3)
    }),

    // ---- the BUILD-ONCE PQ path: codebooks + code table materialized,
    //      search reads the compressed index back (same result as
    //      x_ann_pq => same oracle; amortization measured in the
    //      stored_splits bench sidecar)
    "x_ann_pq_stored" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = graft.streaming.DrainWork.tempDir("graft_pq_idx")
      Similarity.writePqIndex(emb, "vec_id", "embedding",
        m = 4, subDim = 16, ks = 4, iterations = 2, path = path)
      Similarity.pqTopKStored(s, path, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", m = 4, subDim = 16, k = 3)
    }),

    // ---- PQ quality gauge: what fraction of the EXACT cosine top-3 the
    //      ADC top-3 recovers — the number that says whether m/ks are
    //      sized right before anyone serves off the codes (the
    //      x_lsh_recall pattern: the quality dial is itself a measured,
    //      oracle-checked query). Single pass: a left join with a match
    //      flag references each subplan once. The (m=4, ks=4) defaults
    //      are DEMO-sized for oracle tractability (the SQL twin unrolls
    //      every Lloyd round) and score low on this synthetic corpus by
    //      design — PqSpec proves recall climbs with ks, and the
    //      production serving path is x_ann_pq_refined (shortlist +
    //      exact re-rank), whose output order is exact-metric.
    "x_pq_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val adc = Similarity.pqTopK(emb, q, "vec_id", "embedding",
          m = 4, subDim = 16, ks = 4, iterations = 2, k = 3)
        .select(col("query_id"), col("neighbor_id")).withColumn("__hit", lit(1))
      exact.join(adc, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_true"), count(col("__hit")).as("n_hit"))
        .select(col("n_true"), col("n_hit"),
          when(col("n_true") === 0, lit(null).cast("double"))
            .otherwise(Numeric.roundBin(
              col("n_hit").cast("double") / col("n_true"), 4)).as("recall"))
    }),

    // ---- the two-stage PQ serving path: ADC shortlists r=10 off the
    //      compressed codes, exact cosine re-ranks ONLY the shortlist —
    //      the refine step that recovers exact-metric order while the
    //      corpus scan stays on the code table
    "x_ann_pq_refined" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqRefineTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", m = 4, subDim = 16, ks = 4, iterations = 2, r = 10, k = 3)
    }),

    // ---- IVF-PQ (the Faiss IVFADC layout as relations): coarse cells
    //      prune the candidate set, PQ codes over the RESIDUAL against
    //      the assigned centroid shrink what a probe scans (~64x), and
    //      the whole learned index — coarse k-means, residuals, sub-
    //      codebooks, codes, ADC distances — is deterministic enough to
    //      hash-match a DuckDB re-derivation
    "x_ann_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", nCoarse = 4, coarseIters = 2, m = 4, subDim = 16,
        ks = 4, pqIters = 2, nProbe = 2, k = 3)
    }),

    // ---- the BUILD-ONCE IVF-PQ path: model tables + codes partitioned
    //      by coarse cell; the probe prunes unprobed cell directories
    //      and scans only compressed codes (same result => same oracle)
    "x_ann_ivfpq_stored" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = graft.streaming.DrainWork.tempDir("graft_ivfpq_idx")
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding",
        nCoarse = 4, coarseIters = 2, m = 4, subDim = 16, ks = 4,
        pqIters = 2, path = path)
      Similarity.ivfPqTopKStored(s, path, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", m = 4, subDim = 16, nProbe = 2, k = 3)
    }),

    // ---- the r15 corpus-scale trainers, oracle-checked (r15 VERDICT
    //      #2): centroids/codebooks fit on the bounded md5-bottom-k
    //      sample (deterministic + engine-neutral, so the LEARNED
    //      sampled model hash-matches a DuckDB re-derivation), the full
    //      corpus pays only the one assignment/encode pass.
    //      trainPerCluster/trainPerCode are 16 → the 64-row sample is a
    //      STRICT subset of even the 500-vector verify corpus — the
    //      sampled path is genuinely exercised, not degenerate-equal to
    //      full training.
    "x_ann_ivf_sampled" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.ivfCentroidsSampled(emb, "vec_id", "embedding",
        nClusters = 4, iterations = 2, trainPerCluster = 16)
      Similarity.ivfTopKWithCentroids(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", cents, nProbe = 2, k = 3)
        .withColumn("cluster_id", col("cluster_id").cast("bigint"))
    }),

    "x_ann_pq_sampled" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val books = Similarity.pqCodebooksSampled(emb, "vec_id", "embedding",
        m = 4, subDim = 16, ks = 4, iterations = 2, trainPerCode = 16)
      Similarity.pqTopKWithCodebooks(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", books, m = 4, subDim = 16, k = 3)
    }),

    // ---- bucket-pruned cosine top-3 within the query's label bucket
    "x_ann_bucketed" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bucketedTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", k = 3)
    }),

    // ---- dedup resolution: connected components over LSH candidates →
    //      (doc, keep) assignment
    "x_dedup_resolution" -> ((s, d) => {
      DedupOps.resolveComponents(
        DedupOps.lshCandidates(Tables.documents(s, d), "doc_id", "text"))
    }),

    // ---- dedup resolution with a quality-aware keeper (longest doc wins)
    "x_dedup_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.resolveKeepBest(
        DedupOps.lshCandidates(docs, "doc_id", "text"),
        docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("bigint").as("n_tokens")),
        "doc_id", "n_tokens")
    }),

    // ---- embedding-cosine near-dup: exact baseline, SAMPLED — the
    //      all-pairs spelling runs on a deterministic md5-bucket half of
    //      the vectors (the x_lsh_recall move), so its cost is bounded by
    //      the fraction dial (fraction² pairs; ~1e-3 at corpus scale) and
    //      no registered query is quadratic in the full corpus. It exists
    //      to ground the LSH recall contract; the production path is
    //      x_embed_neardup_lsh. The unsampled equivalence lives in
    //      SimilaritySpec/ExtSpec on the tiny fixtures only.
    "x_embed_neardup" -> ((s, d) =>
      Similarity.cosineNearDupExact(
        Tables.embeddings(s, d).filter(
          substring(md5(col("vec_id").cast("string")), 1, 1) < lit("8")),
        "vec_id", "embedding", NearDupTau)),

    // ---- embedding-cosine near-dup via sign-bit LSH bands: candidates
    //      from a band equi-join, exact-verified (⊆ the exact result).
    //      THE SHORT NAME IS THE PRODUCTION SIZING (64 planes, 16-bit
    //      bands — SEMANTICS.md's sizing rule for real corpora); recall
    //      on tiny fixtures is low by design (16 matching sign bits per
    //      band) — that's the quadratic-vs-recall dial.
    "x_embed_neardup_lsh" -> ((s, d) =>
      Similarity.cosineNearDupLsh(Tables.embeddings(s, d), "vec_id",
        "embedding", NearDupTau, nPlanes = 64, rowsPerBand = 16, dims = EmbDims)),

    // ---- the DEMO banding (16 planes, 4-bit bands): high recall on the
    //      small fixtures, but candidate count degenerates toward n²/16
    //      past ~10k vectors (measured, SCALE.md) — kept under an
    //      explicit _demo suffix so nobody benchmarks it as the scale
    //      path, and SAMPLED (same md5 half-bucket as x_embed_neardup)
    //      so even the demo's degenerate band join is bounded by the
    //      fraction dial rather than the corpus size
    "x_embed_neardup_lsh_demo" -> ((s, d) =>
      Similarity.cosineNearDupLsh(
        Tables.embeddings(s, d).filter(
          substring(md5(col("vec_id").cast("string")), 1, 1) < lit("8")),
        "vec_id", "embedding", NearDupTau, NearDupPlanes, NearDupRowsPerBand, EmbDims)),

    // ---- the corpus-SIZED banding (r15's sizedRowsPerBand rule as a
    //      first-class oracle-checked query, r15 VERDICT #2): r follows
    //      the corpus row count — a metadata-only parquet count — so
    //      candidate volume stays ~b·n·bucket/2 (linear) at any scale;
    //      bucket target 8 keeps the rule off its clamp at the verify
    //      corpus (see [[SizedNearDupBucketRows]])
    "x_embed_neardup_sized" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.cosineNearDupLshSized(emb, "vec_id", "embedding", NearDupTau,
        corpusRows = emb.count(), nBands = 4, dims = EmbDims,
        targetBucketRows = SizedNearDupBucketRows)
    }),

    // ---- REAL image decode, oracle-checked end-to-end: synthesize
    //      PNGs from closed-form parameters (Multimodal.synthImage),
    //      run the actual ImageIO decode, and let the oracle compute
    //      the same features straight from the parameters — a decode
    //      path that mangled dims/bands/pixels would hash-mismatch
    "x_image_features" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") < 200).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val png = graft.ext.Multimodal.synthImage(id)
            graft.ext.Multimodal.MediaFile(id, "image", png,
              graft.ext.Multimodal.MediaMeta(s"img_$id.png", "image/png", png.length.toLong))
          }
        }
      graft.ext.Multimodal.imageFeatures(media).toDF()
        .select(col("media_id"), col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          col("channels").cast("bigint").as("channels"), col("mean_intensity"))
    }),

    // ---- perceptual image hash (aHash) through the REAL decode path:
    //      same synth-PNG round trip as x_image_features; the oracle
    //      recomputes the 8x8 lattice bits closed-form. Equal hashes
    //      collapse brightness-shifted duplicates (the base term
    //      cancels in the mean threshold) — perceptual dedup, not
    //      byte dedup.
    "x_image_phash" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") < 200).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val png = graft.ext.Multimodal.synthImage(id)
            graft.ext.Multimodal.MediaFile(id, "image", png,
              graft.ext.Multimodal.MediaMeta(s"img_$id.png", "image/png", png.length.toLong))
          }
        }
      graft.ext.Multimodal.imageAHash(media).toDF()
    }),

    // ---- perceptual dedup GROUPS: images whose aHash collides are
    //      visual duplicates (here: same gradient shape at different
    //      brightness — the base term cancels in the threshold), keyed
    //      by hash with the smallest media_id as keeper (A4 first-wins)
    "x_phash_groups" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") < 200).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val png = graft.ext.Multimodal.synthImage(id)
            graft.ext.Multimodal.MediaFile(id, "image", png,
              graft.ext.Multimodal.MediaMeta(s"img_$id.png", "image/png", png.length.toLong))
          }
        }
      graft.ext.Multimodal.imageAHash(media).toDF()
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_images"), min(col("media_id")).as("keeper_id"))
        .filter(col("n_images") > 1)
    }),

    // ---- REAL WAV decode, same oracle-checked round-trip shape
    "x_audio_features" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") < 200).as[Long]
        .mapPartitions(_.map { id =>
          val wav = graft.ext.Multimodal.synthWav(id)
          graft.ext.Multimodal.MediaFile(id, "audio", wav,
            graft.ext.Multimodal.MediaMeta(s"a_$id.wav", "audio/wav", wav.length.toLong))
        })
      graft.ext.Multimodal.audioFeatures(media).toDF()
        .select(col("media_id"), col("sample_rate").cast("bigint").as("sample_rate"),
          col("channels").cast("bigint").as("channels"), col("n_frames"),
          col("duration_sec"), col("mean_abs_amplitude"),
          col("zero_crossings"), col("energy"))
    }),

    // ---- REAL nearest-neighbor resize → decode → features: the mapping
    //      out(x,y)=in(⌊x·sw/8⌋,⌊y·sh/8⌋) is exact integer arithmetic,
    //      so the resized mean intensity is closed-form in the oracle
    "x_image_resize" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") < 200).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val png = graft.ext.Multimodal.synthImage(id)
            graft.ext.Multimodal.MediaFile(id, "image", png,
              graft.ext.Multimodal.MediaMeta(s"img_$id.png", "image/png", png.length.toLong))
          }
        }
      graft.ext.Multimodal.imageFeatures(
          graft.ext.Multimodal.resizeImages(media, 8, 8)).toDF()
        .select(col("media_id"), col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          col("channels").cast("bigint").as("channels"), col("mean_intensity"))
    }),

    // ---- REAL ISO-BMFF container parse (in-house muxer → real box
    //      walker), same oracle-checked round-trip shape as image/audio
    "x_video_meta" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") < 200).as[Long]
        .mapPartitions(_.map { id =>
          val mp4 = graft.ext.Multimodal.synthMp4(id)
          graft.ext.Multimodal.MediaFile(id, "video", mp4,
            graft.ext.Multimodal.MediaMeta(s"v_$id.mp4", "video/mp4", mp4.length.toLong))
        })
      graft.ext.Multimodal.videoMeta(media).toDF()
        .select(col("media_id"), col("brand"), col("duration_sec"),
          col("timescale"), col("n_tracks").cast("bigint").as("n_tracks"),
          col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"))
    }),

    // ---- REAL MJPEG-AVI frame extraction (in-house muxer → real RIFF
    //      chunk walk → real ImageIO pixel decode of every frame): the
    //      oracle checks the fields that survive the lossy JPEG round
    //      trip EXACTLY — frame index, width, height ((frame_idx,
    //      media_id) keys also pin the stride/ordering contract). Pixel
    //      values are asserted (±DC-quantization) in MultimodalSpec.
    "x_avi_frames" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") < 100).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val avi = graft.ext.Multimodal.synthMjpegAvi(id)
            graft.ext.Multimodal.MediaFile(id, "video", avi,
              graft.ext.Multimodal.MediaMeta(s"v_$id.avi", "video/x-msvideo",
                avi.length.toLong))
          }
        }
      graft.ext.Multimodal.sampleFrames(media, frameSize = 1024, stride = 1).toDF()
        .select(col("media_id"), col("frame_idx").cast("bigint").as("frame_idx"),
          col("frame_bytes"))
        .as[(Long, Long, Array[Byte])]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, idx, png) =>
            val (w, h, _, _) = graft.ext.Multimodal.decodeImage(png)
            (id, idx, w.toLong, h.toLong)
          }
        }
        .toDF("media_id", "frame_idx", "width", "height")
    }),

    // ---- deterministic 80/10/10 train/val/test split by md5 bucket
    "x_train_split" -> ((s, d) =>
      Corpus.assignSplit(Tables.documents(s, d).select(col("doc_id")), "doc_id")),

    // ---- top-50 vocabulary by document frequency
    "x_vocab_topk" -> ((s, d) =>
      Corpus.vocabulary(Tables.documents(s, d), "doc_id", "text", 50)),

    // ---- per-doc top-3 distinctive terms (tf/df weighting)
    "x_tfidf_top" -> ((s, d) =>
      Corpus.tfidfTop(Tables.documents(s, d), "doc_id", "text", 3)),

    // ---- cross-table record linkage: customers matched to suppliers
    //      by name within 5 edits, blocked through a df-capped char-
    //      trigram inverted index (shared prefixes and zero-runs are
    //      dropped as block keys — they pair everything and prove
    //      nothing); banded Levenshtein verifies candidates only
    "x_record_linkage" -> ((s, d) =>
      graft.ext.DedupOps.recordLinkage(
        Tables.customer(s, d), "c_custkey", "c_name",
        Tables.supplier(s, d), "s_suppkey", "s_name",
        n = 3, maxDistance = 5, maxNgramDf = 120L)),

    // ---- BM25 retrieval (exact-integer rational variant, see
    //      Retrieval scaladoc): top-20 docs for a 3-term query; only
    //      docs holding >= 1 term are candidates (posting semantics)
    "x_bm25_topk" -> ((s, d) =>
      graft.ext.Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        Seq("vector", "spark", "window"), k = 20)),

    // ---- same query against the STORED postings index: build once
    //      (token explode paid at build), probe reads only the query
    //      terms' md5-band partitions — identical results by contract
    "x_bm25_stored" -> ((s, d) => {
      val path = graft.streaming.DrainWork.stableDir("graft_postings")
      graft.ext.Retrieval.writePostings(
        Tables.documents(s, d), "doc_id", "text", path)
      graft.ext.Retrieval.bm25TopKStored(s, path, "doc_id",
        Seq("vector", "spark", "window"), k = 20)
    }),

    // ---- STREAMING twin of x_bm25_stored: documents drained in 3
    //      arbitrary micro-batches, postings/doclen landing as
    //      overwrite-idempotent batch shards (IVM for retrieval — all
    //      BM25 state is mergeable across shards by construction);
    //      probe equals the batch build for any split, same oracle
    "t12_streaming_bm25" -> ((s, d) =>
      graft.ext.Retrieval.availableNowBm25(s, d)),

    // ---- STREAMING twin of x_ann_ivf_stored (IVM for ANN — the last
    //      streaming-index asymmetry): standing centroid model trained
    //      once, embeddings drained in 3 arbitrary micro-batches into
    //      cluster_id-partitioned batch= inverted-list shards, probe
    //      over the shard union. Assignment is a pure per-vector
    //      function of the standing model, so the maintained index
    //      equals the batch build for any split — same oracle
    "t13_streaming_ann" -> ((s, d) => Similarity.availableNowIvf(s, d)),

    // ---- STREAMING twin of x_ann_ivfpq_stored: the same IVM move at
    //      the COMPRESSED layout — standing coarse+codebook model
    //      trained once, embeddings drained in 3 arbitrary micro-
    //      batches into coarse_id-partitioned batch= code shards, ADC
    //      probe over the shard union. A vector's codes are a pure
    //      function of (vector, standing model), so the maintained
    //      code table equals the batch build for any split — same
    //      oracle as x_ann_ivfpq
    "t14_streaming_ivfpq" -> ((s, d) => Similarity.availableNowIvfPq(s, d)),

    // ---- composite quality gate: token band + stopword floor + language
    "x_quality_filter" -> ((s, d) =>
      Corpus.qualityFilter(Tables.documents(s, d), "doc_id", "text",
        Stopwords, 20, 80, 0.02, "en")),

    // ---- deterministic stratified sample: 20 docs per language
    "x_stratified_sample" -> ((s, d) =>
      Corpus.stratifiedSample(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "lang", "doc_id", 20)),

    // ---- weighted sample: 50 docs, win probability ∝ n_chars
    //      (Efraimidis–Spirakis exponential race on a deterministic key)
    "x_weighted_sample" -> ((s, d) =>
      Corpus.weightedSample(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", 50)),

    // ---- domain-mixture sampling: per-source quotas, growth-stable draw
    "x_mixture_sample" -> ((s, d) =>
      Corpus.mixtureSample(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        "source", "doc_id", MixQuotas, defaultQuota = MixDefaultQuota)),

    // ---- intra-doc repetition signals (Gopher-style quality pass):
    //      duplicate-token and duplicate-3-gram fractions, map-only
    "x_repetition" -> ((s, d) => {
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, d).select(col("doc_id"),
          size(toks).cast("bigint").as("n_tokens"),
          TextOps.dupRatio(toks).as("dup_token_ratio"),
          TextOps.dupRatio(TextOps.shingles(col("text"), 3)).as("dup_3gram_ratio"))
        .filter(col("n_tokens") >= 3)
    }),

    // ---- text normalization (C4-style cleanup): the corpus is already
    //      clean, so deterministic mess (case flips, tabs, runs of
    //      spaces) is injected first — both engines inject and then
    //      normalize identically; map-only
    "x_normalize_text" -> ((s, d) => {
      val messy = concat(
        when(col("doc_id") % 2 === 0, upper(col("text"))).otherwise(col("text")),
        lit("\t extra   run\t\t of  spaces  "))
      Tables.documents(s, d).select(col("doc_id"),
        TextOps.normalize(messy).as("clean_text"),
        length(TextOps.normalize(messy)).cast("bigint").as("n_chars_clean"))
    }),

    // ---- data-card report: per (split, lang) composition — the summary
    //      table every corpus release ships; one keyed aggregation
    "x_split_report" -> ((s, d) =>
      Corpus.assignSplit(Tables.documents(s, d), "doc_id")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text"))).cast("bigint")).as("n_tokens"),
          countDistinct(col("source")).as("n_sources"))),

    // ---- collocations: top-30 bigrams by lift (log-free PMI ranking)
    "x_collocations" -> ((s, d) =>
      Corpus.collocations(Tables.documents(s, d), "doc_id", "text",
        minCount = 20, k = 30)),

    // ---- mean token rarity: inverse-unigram-frequency quality score
    //      (the log-free surprisal proxy; see Corpus.rarityScore)
    "x_token_rarity" -> ((s, d) =>
      Corpus.rarityScore(Tables.documents(s, d), "doc_id", "text")),

    // ---- heavy hitters: tokens above the 1/64 frequency threshold via
    //      a Misra–Gries sketch. The sketch caps aggregation state at
    //      `capacity` counters per partial no matter how many distinct
    //      tokens stream through — at 100 TB the shuffle carries one
    //      ≤256-entry map per partition instead of the token stream an
    //      exact GROUP BY would move. capacity (256) ≥ the corpus
    //      vocabulary here, so counts are exact and oracle-checkable;
    //      the approximate regime's N/(k+1) error bound is spec-tested.
    "x_heavy_hitters" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
      tok.agg(MisraGries.misraGries(col("token"), 256).as("mg"),
          count(lit(1)).as("total"))
        .select(explode(col("mg")).as(Seq("token", "cnt")), col("total"))
        .filter(col("cnt") * 64 > col("total"))
        .select(col("token"), col("cnt"))
    }),

    // ---- PII redaction: emails / phones / IPv4 → placeholder tokens,
    //      with per-kind counts measured pass-by-pass. The corpus is
    //      synthetic word salad, so a deterministic contact line derived
    //      from doc_id is appended first — every row then exercises all
    //      three patterns, and the oracle appends the same line. Pure
    //      map-only projection (regexp_replace is codegen'd): the 100 TB
    //      cost is one scan, zero shuffles.
    "x_pii_redact" -> ((s, d) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.org or +1 555-123-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.2."), (col("doc_id") % 256).cast("string"), lit(".9"))
      val (counts, redacted) = TextOps.piiCounts(aug)
      Tables.documents(s, d).select(
        col("doc_id") +:
          counts.map { case (kind, c) => c.as(s"n_$kind") } :+
          redacted.as("clean_text"): _*)
    }),

    // ---- train/test decontamination: eval docs sharing 5-grams with train
    "x_decontaminate" -> ((s, d) => {
      val withB = Corpus.assignSplit(Tables.documents(s, d), "doc_id")
      Corpus.contamination(
        withB.filter(col("bucket") < 204),
        withB.filter(col("bucket") >= 230), "doc_id", "text", n = 5)
    }),

    // ---- contaminated TRAIN docs via Bloom-prefiltered membership —
    //      the direction a pipeline actually drops; exact results, the
    //      bloom only prunes the big-side scan before the confirm join
    "x_contaminated_train" -> ((s, d) => {
      val withB = Corpus.assignSplit(Tables.documents(s, d), "doc_id")
      Corpus.contaminatedTrainDocs(
        withB.filter(col("bucket") < 204),
        withB.filter(col("bucket") >= 230), "doc_id", "text", n = 5)
    }),

    // ---- duplicated-span extraction: maximal runs of cross-doc 3-grams
    //      (substring-level dedup primitive, Lee et al. 2022 shape)
    "x_dup_spans" -> ((s, d) =>
      DedupOps.dupSpans(Tables.documents(s, d), "doc_id", "text", n = 3)),

    // ---- substring-level rewrite: cut duplicated spans, keep the first
    //      occurrence, reassemble the corpus
    "x_span_dedup" -> ((s, d) =>
      DedupOps.removeDupSpans(Tables.documents(s, d), "doc_id", "text", n = 3)),

    // ---- incremental dedup: fresh batch vs the standing signature index
    //      (corpus text never re-shingled, corpus pairs never re-derived)
    "x_incremental_dedup" -> ((s, d) => {
      val withB = Corpus.assignSplit(Tables.documents(s, d), "doc_id")
      val corpusSigs = DedupOps.minhashSignatures(
        withB.filter(col("bucket") < 204), "doc_id", "text")
      DedupOps.lshCandidatesIncremental(corpusSigs,
        withB.filter(col("bucket") >= 204), "doc_id", "text")
    }),

    // ---- the STORED twin of x_incremental_dedup: the corpus's banded
    //      signatures live in a bucketed catalog table (written here so
    //      the oracle contract is self-contained; Bench's stored_splits
    //      pass measures build and probe separately), and the probe
    //      joins the fresh batch against the bucket layout with zero
    //      corpus-side exchange — completing the stored-index family
    //      (BM25 postings, IVF, PageRank walks) for text dedup.
    //      Result-identical to the in-memory incremental probe, so the
    //      oracle is the same band-join SQL.
    "x_lsh_stored" -> ((s, d) => {
      val withB = Corpus.assignSplit(Tables.documents(s, d), "doc_id")
      val tmp = graft.streaming.DrainWork.stableDir("graft_band_index")
      DedupOps.writeBandIndex(withB.filter(col("bucket") < 204),
        "doc_id", "text", "graft_bands", s"$tmp/bands", buckets = 16)
      DedupOps.lshCandidatesStored(s, "graft_bands",
        withB.filter(col("bucket") >= 204), "doc_id", "text")
    }),

    // ---- sequence packing: per-language 512-token training bins
    "x_pack_sequences" -> ((s, d) =>
      Corpus.packSequences(Tables.documents(s, d), "doc_id", "text",
        "lang", capacity = 512)),

    // ---- overlapping token chunks (embedding/RAG splitter): 32-token
    //      windows advancing by 24, map-only generate-and-explode
    "x_chunk_docs" -> ((s, d) =>
      Corpus.chunkDocs(Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 32, overlap = 8)),

    // ---- pack assembly: the packing plan materialized into shards —
    //      each 512-token bin's docs concatenated in doc-id order
    "x_pack_assemble" -> ((s, d) =>
      Corpus.assemblePacks(Tables.documents(s, d), "doc_id", "text",
        "lang", capacity = 512)),

    // ---- ANN over the int8-quantized index (the consumer side of
    //      x_embed_quantize): dequantized brute-force top-3
    "x_ann_quantized" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3)
    }),

    // ---- int8 symmetric quantization (vector-index compression): pure
    //      scan rewrite, zero shuffles
    "x_embed_quantize" -> ((s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")),

    // ---- dedup summary report: cluster count/size stats over the
    //      LSH → connected-components output (the "what did dedup buy us"
    //      number every corpus run reports)
    "x_dedup_report" -> ((s, d) => {
      val comp = DedupOps.resolveComponents(
        DedupOps.lshCandidates(Tables.documents(s, d), "doc_id", "text"))
      comp.groupBy(col("keep_id")).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs_in_clusters"),
          max(col("sz")).as("max_cluster"),
          (sum(col("sz")) - count(lit(1))).as("n_removable"))
    }),

    // ---- SEMANTIC dedup (SemDeDup shape): embedding-LSH near-dup pairs
    //      → connected components → one keeper per semantic cluster. The
    //      text-dedup resolution machinery applied in embedding space —
    //      pairs from sign-bit bands, min-label propagation for the
    //      keeper assignment. The fixed demo band width here is the
    //      ORACLE spelling (the band CTEs embed r literally); at corpus
    //      scale callers size the bands to n via
    //      Similarity.cosineNearDupLshSized (candidates drop from
    //      n²/2^r to ~linear — SCALE.md "Round 15: registry-wide sf1
    //      scaling sweep").
    "x_semantic_dedup" -> ((s, d) => {
      val pairs = Similarity.cosineNearDupLsh(Tables.embeddings(s, d),
          "vec_id", "embedding", NearDupTau, NearDupPlanes,
          NearDupRowsPerBand, EmbDims)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      DedupOps.resolveComponents(pairs)
        .select(col("doc_id").as("vec_id"), col("keep_id"))
    }),

    // ---- embedding-space outliers: cosine-to-label-centroid below τ —
    //      the mislabeled/contaminated-cluster curation pass (see
    //      Similarity.centroidOutliers for the plan shape)
    "x_embed_outliers" -> ((s, d) =>
      Similarity.centroidOutliers(Tables.embeddings(s, d), "vec_id",
        "embedding", "label", OutlierTau)),

    // ---- the CURATION PIPELINE end-to-end, as one declarative plan:
    //      quality gate → PII redaction → exact dedup (first wins) →
    //      train/val/test split → sequence packing. This is the "a user
    //      runs their whole corpus job on this engine" flagship — every
    //      stage is the library operator, fused by Catalyst into
    //      scan-side projections plus exactly TWO hash shuffles (the
    //      dedup-hash aggregate and the per-split packing window); the
    //      quality-gate and keeper id-sets ride semi-joins — broadcast
    //      at bench scale, AQE-shuffled once the sets outgrow the
    //      threshold at corpus scale.
    "x_corpus_e2e" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val passing = Corpus.qualityFilter(docs, "doc_id", "text",
        Stopwords, 20, 80, 0.02, "en").select(col("doc_id"))
      val kept = docs.join(passing, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), TextOps.redactPii(col("text")).as("clean"))
      val keepIds = kept.groupBy(md5(col("clean")).as("__h"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val deduped = kept.join(keepIds, Seq("doc_id"), "left_semi")
      val withSplit = Corpus.assignSplit(deduped, "doc_id")
        .select(col("doc_id"), col("clean"), col("split"))
      Corpus.packSequences(withSplit, "doc_id", "clean", "split", capacity = 512)
    }),

    // ---- per-label centroids (tall form: label × dim → exact scaled
    //      mean). The k-means-update / class-prototype aggregation shape;
    //      posexplode keeps it one shuffle on (label, dim).
    "x_centroids" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("label").cast("bigint").as("label"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), (col("dim") + 1).cast("bigint").as("dim"))
        .agg(Numeric.scaledAvg(col("v").cast("double"), 6).as("centroid_v"),
          count(lit(1)).as("n_vecs"))
    })
  )

  // ------------------------------------------------------------ oracles

  private def stopFilterSql(listExpr: String, words: Seq[String]): String =
    s"len(list_filter($listExpr, x -> ${words.map(w => s"x = '$w'").mkString(" OR ")}))"

  // language-ID fragments shared by the x_lang_id / x_quality_filter oracles
  private def langCountColsSql: String = TextOps.LangMarkers.map { case (lang, set) =>
    s"${stopFilterSql("string_split(text, ' ')", set)} AS c_$lang"
  }.mkString(",\n  ")

  private def langCaseSql: String = {
    val langs = TextOps.LangMarkers.map(_._1)
    val chain = langs.map { l =>
      val geAll = langs.map(o => s"c_$l >= c_$o").mkString(" AND ")
      s"WHEN c_$l > 0 AND $geAll THEN '$l'"
    }.mkString("\n    ")
    s"CASE $chain\n    ELSE 'unknown' END"
  }

  private val shingleCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) t)""".stripMargin

  private val minhashSigCte = {
    val aggs = (0 until 8).map(i => s"min(md5('$i|' || shingle)) AS mh$i").mkString(", ")
    s"""$shingleCte,
       |sig AS (SELECT doc_id, $aggs FROM sh GROUP BY doc_id)""".stripMargin
  }

  /** The MinHash→LSH→connected-components chain as DuckDB CTEs ending in
    * `lab(doc_id, label)` — the recursive label closure equal to Spark's
    * fixed-point min propagation. Shared by the resolution oracles.
    */
  private def resolutionLabCtesSql: String = {
    val bandSelects = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band_idx, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""$minhashSigCte,
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
       |          UNION ALL SELECT doc_b, doc_a FROM cand),
       |lab(doc_id, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, l.label FROM edges e JOIN lab l ON l.doc_id = e.dst)""".stripMargin
  }

  private def annNormCteFrom(src: String) =
    s"""nrm AS (
       |  SELECT vec_id, embedding, label,
       |    sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)) AS n2
       |  FROM $src, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t
       |  GROUP BY vec_id, embedding, label)""".stripMargin

  private val annNormCte = annNormCteFrom("embeddings")

  /** Pairwise scaled-cosine over a candidate CTE `cand(vec_a, vec_b)`:
    * joins both sides to `nrm`, computes the exact scaled dot, rounds —
    * the oracle twin of [[Similarity]]'s scoredPairs/exact paths.
    */
  private def pairCosineCtes(candFrom: String): String =
    s"""scored AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    sum(CAST(floor(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)) AS dot_s,
       |    max(a.n2) AS a_n2, max(b.n2) AS b_n2
       |  FROM $candFrom,
       |    LATERAL (SELECT unnest(generate_series(1, len(a.embedding))) AS i) t
       |  GROUP BY ALL),
       |cos AS (
       |  SELECT vec_a, vec_b,
       |    ${Numeric.roundBinSql(
            s"(CAST(dot_s AS DOUBLE) / $AnnScale) / " +
            s"(sqrt(CAST(a_n2 AS DOUBLE) / $AnnScale) * sqrt(CAST(b_n2 AS DOUBLE) / $AnnScale))", 6)} AS cos_sim
       |  FROM scored)""".stripMargin

  private def pairCosineSql(candFrom: String): String =
    s"""${pairCosineCtes(candFrom)}
       |SELECT vec_a, vec_b, cos_sim FROM cos WHERE cos_sim >= $NearDupTau""".stripMargin

  /** Sign-bit LSH banding as DuckDB CTEs — the hyperplanes are the same
    * MD5-parity literals [[Similarity.hyperplanes]] builds (embedded
    * verbatim), so bucketing is bit-identical cross-engine. Parameterized
    * by (nPlanes, rowsPerBand): the demo config (16, 4) and the scale
    * config (64, 16) share this one generator.
    */
  private def signBitBandCtesSql: String =
    signBitBandCtesSqlFor(NearDupPlanes, NearDupRowsPerBand)

  private def signBitBandCtesSqlFor(nPlanes: Int, rowsPerBand: Int): String = {
    val planes = Similarity.hyperplanes(nPlanes, EmbDims)
    // the same per-term formula DotProductScaled generates:
    // floor((x · ±1) · BitScale + 0.5) summed as int64
    val bitExprs = planes.zipWithIndex.map { case (p, j) =>
      val lst = p.mkString("[", ",", "]")
      s"CASE WHEN list_sum(list_transform(generate_series(1, $EmbDims), " +
        s"i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * (($lst)[i]) * ${Similarity.BitScale}.0 + 0.5) AS BIGINT))) >= 0 " +
        s"THEN '1' ELSE '0' END AS b$j"
    }.mkString(",\n    ")
    val bandSelects = (0 until nPlanes / rowsPerBand).map { bi =>
      val ks = (0 until rowsPerBand)
        .map(r => s"b${bi * rowsPerBand + r}").mkString(" || ")
      s"SELECT vec_id, $bi AS band_idx, $ks AS band_key FROM bits"
    }.mkString("\n  UNION ALL ")
    s"""bits AS (SELECT vec_id,
       |    $bitExprs
       |  FROM embeddings),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.vec_id < b.vec_id)""".stripMargin
  }

  /** Corpus-SIZED sign-bit banding as DuckDB CTEs — the oracle twin of
    * [[Similarity.cosineNearDupLshSized]], sf-GENERIC like the Spark
    * side: `r` is computed from the table's own row count inside the
    * SQL (same floor-division + ceil-log2 + [4,24] clamp as
    * [[Similarity.sizedRowsPerBand]]), the full `nBands·24` plane
    * prefix is embedded (plane j's literal depends only on j, so the
    * hyperplane matrix for ANY r is a prefix of the max-r matrix), and
    * band j's key is `substr` j·r+1..j·r+r of the full bit string —
    * exactly the planes Spark's `hyperplanes(nBands·r, dims)` gives
    * band j. ceil-log2 via floor(log2(n−1))+1: exact for our
    * magnitudes (log2 of exact powers is exact IEEE; the nearest
    * non-power is > 2⁻²⁰ away at n ≤ 2²⁰).
    */
  private def sizedBandCtesSql(nBands: Int, targetBucketRows: Long): String = {
    val maxR = 24 // sizedRowsPerBand's upper clamp
    val planes = Similarity.hyperplanes(nBands * maxR, EmbDims)
    val bitStr = planes.map { p =>
      val lst = p.mkString("[", ",", "]")
      s"CASE WHEN list_sum(list_transform(generate_series(1, $EmbDims), " +
        s"i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * (($lst)[i]) * ${Similarity.BitScale}.0 + 0.5) AS BIGINT))) >= 0 " +
        "THEN '1' ELSE '0' END"
    }.mkString(" ||\n    ")
    s"""p AS (
       |  SELECT CAST(least(24, greatest(4,
       |      CASE WHEN n <= 1 THEN 0
       |           ELSE CAST(floor(log2(CAST(n - 1 AS DOUBLE))) AS INTEGER) + 1 END
       |    )) AS INTEGER) AS r
       |  FROM (SELECT greatest(1, count(*) // $targetBucketRows) AS n FROM embeddings)),
       |bits AS (SELECT vec_id,
       |    $bitStr AS bs
       |  FROM embeddings),
       |bands AS (
       |  SELECT b.vec_id, g.band_idx, substr(b.bs, g.band_idx * p.r + 1, p.r) AS band_key
       |  FROM bits b, p, (SELECT unnest(generate_series(0, ${nBands - 1})) AS band_idx) g),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.vec_id < b.vec_id)""".stripMargin
  }

  /** The LEARNED-IVF chain as DuckDB CTEs: fixed-iteration Lloyd k-means
    * (seed = vectors of the k smallest ids; scaled-integer distances and
    * scaled-average centroid updates — every step order-independent, so
    * a learned index is hash-comparable cross-engine), then nProbe-cell
    * search. Iterations are UNROLLED (c0 → asg1 → c1 → asg2 → c2): a
    * fixed count is part of the operator's determinism contract.
    */
  /** `trainFrom` (r16, the sampled-trainer oracles): the relation the
    * Lloyd rounds READ — seed + per-iteration assignments. The final
    * list assignment (`ld`), the probe (`qd`), and the centroid-average
    * update all stay on the FULL corpus / key-joined `embeddings`, so
    * `trainFrom = "train"` reproduces [[Similarity.ivfCentroidsSampled]]
    * + [[Similarity.ivfTopKWithCentroids]] exactly: training bounded by
    * the sample, the corpus paying only the one assignment pass.
    */
  private def ivfCtesSql(nClusters: Int, iterations: Int, nProbe: Int, topK: Int,
                         trainFrom: String = "embeddings"): String = {
    val f = math.pow(10, Similarity.IvfScale.toDouble).toLong
    // dist_s(e, c) = Σ floor(c_i²·S + .5) − 2·Σ floor(e_i·c_i·S + .5)
    def distCte(name: String, fromCents: String, vecs: String, vecFilter: String) =
      s"""$name AS (
         |  SELECT e.vec_id, c.cluster_id,
         |    sum(CAST(floor(CAST(c.cvec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)
         |      - 2 * CAST(floor(CAST(e.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)) AS dist_s
         |  FROM $vecs e, $fromCents c,
         |    LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) t
         |  $vecFilter
         |  GROUP BY e.vec_id, c.cluster_id)""".stripMargin
    def asgCte(name: String, dist: String) =
      s"""$name AS (SELECT vec_id, cluster_id FROM $dist
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist_s, cluster_id) = 1)""".stripMargin
    def updCte(name: String, asg: String) =
      s"""$name AS (
         |  SELECT cluster_id, list(CAST(cv AS REAL) ORDER BY dim) AS cvec FROM (
         |    SELECT a.cluster_id, i AS dim,
         |      floor(CAST(sum(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * $f + 0.5) AS BIGINT)) AS DOUBLE)
         |        / count(*) + 0.5) / $f AS cv
         |    FROM $asg a JOIN embeddings e USING (vec_id),
         |      LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) t
         |    GROUP BY a.cluster_id, i)
         |  GROUP BY cluster_id)""".stripMargin
    val iterCtes = (1 to iterations).map { it =>
      s"""${distCte(s"d$it", s"c${it - 1}", trainFrom, "")},
         |${asgCte(s"asg$it", s"d$it")},
         |${updCte(s"c$it", s"asg$it")}""".stripMargin
    }.mkString(",\n")
    val fin = s"c$iterations"
    s"""c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id, embedding AS cvec
       |  FROM $trainFrom ORDER BY vec_id LIMIT $nClusters),
       |$iterCtes,
       |${distCte("qd", fin, "embeddings", "WHERE e.vec_id < 10")},
       |probe AS (SELECT vec_id AS query_id, cluster_id FROM qd
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist_s, cluster_id) <= $nProbe),
       |${distCte("ld", fin, "embeddings", "")},
       |${asgCte("lists", "ld")},
       |cand AS (
       |  SELECT p.query_id, l.vec_id AS neighbor_id, CAST(l.cluster_id AS BIGINT) AS cluster_id
       |  FROM probe p JOIN lists l ON l.cluster_id = p.cluster_id AND l.vec_id <> p.query_id)""".stripMargin
  }

  /** The PQ/ADC chain as DuckDB CTEs, mirroring [[ivfCtesSql]]'s
    * discipline with the subspace id as an extra group key: subvector
    * explode, per-subspace fixed-iteration Lloyd (seed = subvectors of
    * the ks smallest ids), corpus encode, per-query (sub, code) distance
    * table, ADC sum over the code equi-join. Every step is scaled-integer
    * or an order-free scaled average, so codebooks, codes, and distances
    * are bit-identical cross-engine.
    */
  private def pqOracleSql(m: Int, subDim: Int, ks: Int, iterations: Int,
                          topK: Int, trainSv: String = "sv",
                          preCtes: String = ""): String =
    s"""${pqChainSql(m, subDim, ks, iterations, trainSv, preCtes)}
       |SELECT query_id, neighbor_id, adist_s FROM scored
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist_s, neighbor_id) <= $topK""".stripMargin

  /** ADC shortlist (top `r` by PQ distance) re-ranked by the EXACT
    * scaled cosine — the oracle twin of [[Similarity.pqRefineTopK]].
    */
  private def pqRefineOracleSql(m: Int, subDim: Int, ks: Int,
                                iterations: Int, r: Int, topK: Int): String =
    s"""${pqChainSql(m, subDim, ks, iterations)},
       |adc AS (SELECT query_id, neighbor_id FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist_s, neighbor_id) <= $r),
       |${annNormCte},
       |ex AS (
       |  SELECT a.query_id, a.neighbor_id,
       |    sum(CAST(floor(CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)) AS dot_s,
       |    max(q.n2) AS q_n2, max(n.n2) AS c_n2
       |  FROM adc a JOIN nrm q ON q.vec_id = a.query_id
       |    JOIN nrm n ON n.vec_id = a.neighbor_id,
       |    LATERAL (SELECT unnest(generate_series(1, len(q.embedding))) AS i) t
       |  GROUP BY 1, 2),
       |cosx AS (SELECT query_id, neighbor_id,
       |    ${Numeric.roundBinSql(
            s"(CAST(dot_s AS DOUBLE) / $AnnScale) / " +
            s"(sqrt(CAST(q_n2 AS DOUBLE) / $AnnScale) * sqrt(CAST(c_n2 AS DOUBLE) / $AnnScale))", 6)} AS cos_sim
       |  FROM ex)
       |SELECT query_id, neighbor_id, cos_sim FROM cosx
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= $topK""".stripMargin

  /** The PQ chain ending at `scored(query_id, neighbor_id, adist_s)` —
    * shared by the plain ADC oracle and the refine oracle.
    */
  /** `trainSv`/`preCtes` (r16, the sampled-trainer oracle): the
    * subvector relation the per-subspace Lloyd rounds read (seed +
    * iteration assignments). Encode (`cd`) and query (`qd`) stay on the
    * full `sv`, and the codebook-average update key-joins `sv`, so
    * `trainSv = "tsv"` (sample subvectors) reproduces
    * [[Similarity.pqCodebooksSampled]] + [[Similarity.pqTopKWithCodebooks]]:
    * training bounded by the sample, the corpus paying only the encode.
    */
  private def pqChainSql(m: Int, subDim: Int, ks: Int, iterations: Int,
                         trainSv: String = "sv", preCtes: String = ""): String = {
    val f = math.pow(10, Similarity.IvfScale.toDouble).toLong
    def distCte(name: String, books: String, vecFilter: String, src: String = "sv") =
      s"""$name AS (
         |  SELECT v.vec_id, v.sub, c.cluster_id,
         |    sum(CAST(floor(CAST(c.cvec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)
         |      - 2 * CAST(floor(CAST(v.svec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)) AS dist_s
         |  FROM $src v JOIN $books c ON c.sub = v.sub,
         |    LATERAL (SELECT unnest(generate_series(1, $subDim)) AS i) t
         |  $vecFilter
         |  GROUP BY v.vec_id, v.sub, c.cluster_id)""".stripMargin
    def asgCte(name: String, dist: String) =
      s"""$name AS (SELECT vec_id, sub, cluster_id FROM $dist
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist_s, cluster_id) = 1)""".stripMargin
    def updCte(name: String, asg: String) =
      s"""$name AS (
         |  SELECT sub, cluster_id, list(CAST(cv AS REAL) ORDER BY dim) AS cvec FROM (
         |    SELECT a.sub, a.cluster_id, i AS dim,
         |      floor(CAST(sum(CAST(floor(CAST(v.svec[i] AS DOUBLE) * $f + 0.5) AS BIGINT)) AS DOUBLE)
         |        / count(*) + 0.5) / $f AS cv
         |    FROM $asg a JOIN sv v ON v.vec_id = a.vec_id AND v.sub = a.sub,
         |      LATERAL (SELECT unnest(generate_series(1, $subDim)) AS i) t
         |    GROUP BY a.sub, a.cluster_id, i)
         |  GROUP BY sub, cluster_id)""".stripMargin
    val iterCtes = (1 to iterations).map { it =>
      s"""${distCte(s"d$it", s"c${it - 1}", "", trainSv)},
         |${asgCte(s"asg$it", s"d$it")},
         |${updCte(s"c$it", s"asg$it")}""".stripMargin
    }.mkString(",\n")
    val fin = s"c$iterations"
    s"""WITH sv AS (
       |  SELECT e.vec_id, s.sub,
       |    e.embedding[(s.sub * $subDim + 1):(s.sub * $subDim + $subDim)] AS svec
       |  FROM embeddings e, (SELECT unnest(generate_series(0, ${m - 1})) AS sub) s),
       |${preCtes}c0 AS (
       |  SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS cluster_id,
       |    svec AS cvec
       |  FROM $trainSv QUALIFY row_number() OVER (PARTITION BY sub ORDER BY vec_id) <= $ks),
       |$iterCtes,
       |${distCte("cd", fin, "")},
       |${asgCte("codes", "cd")},
       |${distCte("qd", fin, "WHERE v.vec_id < 10")},
       |scored AS (
       |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
       |    CAST(sum(q.dist_s) AS BIGINT) AS adist_s
       |  FROM codes a JOIN qd q ON q.sub = a.sub AND q.cluster_id = a.cluster_id
       |  WHERE a.vec_id <> q.vec_id
       |  GROUP BY q.vec_id, a.vec_id)""".stripMargin
  }

  private lazy val annPqOracleSql: String = pqOracleSql(4, 16, 4, 2, 3)

  /** `x_ann_pq_sampled`: sub-codebooks fit on the subvectors of the
    * 64-row md5-bottom-k sample (ks 4 × trainPerCode 16), encode and
    * ADC over the full corpus — the oracle twin of
    * [[Similarity.pqCodebooksSampled]] (r15 VERDICT #2). `tsv` is the
    * sample's subvector slice of `sv` (a key join — identical rows to
    * exploding the sample directly).
    */
  private lazy val annPqSampledOracleSql: String = pqOracleSql(4, 16, 4, 2, 3,
    trainSv = "tsv",
    preCtes = sampledTrainCte(64) +
      ",\ntsv AS (SELECT v.* FROM sv v JOIN train t USING (vec_id)),\n")
  private lazy val annPqRefineOracleSql: String =
    pqRefineOracleSql(4, 16, 4, 2, 10, 3)

  /** Recall of the ADC top-k against the exact cosine top-k: the PQ
    * chain and the brute-force chain composed into one report row.
    */
  private lazy val annPqRecallOracleSql: String =
    s"""${pqChainSql(4, 16, 4, 2)},
       |adctop AS (SELECT query_id, neighbor_id, 1 AS hit FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist_s, neighbor_id) <= 3),
       |${annNormCte},
       |sx AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    sum(CAST(floor(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)) AS dot_s,
       |    max(q.n2) AS q_n2, max(c.n2) AS c_n2
       |  FROM nrm q, nrm c, LATERAL (SELECT unnest(generate_series(1, len(q.embedding))) AS i) t
       |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
       |  GROUP BY ALL),
       |cx AS (SELECT query_id, neighbor_id,
       |    ${Numeric.roundBinSql(
            s"(CAST(dot_s AS DOUBLE) / $AnnScale) / " +
            s"(sqrt(CAST(q_n2 AS DOUBLE) / $AnnScale) * sqrt(CAST(c_n2 AS DOUBLE) / $AnnScale))", 6)} AS cos_sim
       |  FROM sx),
       |extop AS (SELECT query_id, neighbor_id FROM cx
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= 3)
       |SELECT count(*) AS n_true, count(a.hit) AS n_hit,
       |  CASE WHEN count(*) = 0 THEN NULL
       |       ELSE ${Numeric.roundBinSql("CAST(count(a.hit) AS DOUBLE) / count(*)", 4)} END AS recall
       |FROM extop e LEFT JOIN adctop a USING (query_id, neighbor_id)""".stripMargin

  /** The IVF-PQ/ADC chain as DuckDB CTEs: the coarse Lloyd rounds
    * ([[ivfCtesSql]]'s discipline), residual subvectors against the
    * assigned coarse centroid (float32 subtraction — a single IEEE op
    * per element, so `rv` matches Spark's `zip_with` bit-for-bit), the
    * per-subspace PQ Lloyd rounds over residuals ([[pqOracleSql]]'s
    * discipline, sourced from `rv`), then nProbe-cell probing with
    * per-cell query residuals and the ADC sum over the
    * (coarse cell, sub, code) equi-join.
    */
  private def ivfPqOracleSql(nCoarse: Int, coarseIters: Int, m: Int,
                             subDim: Int, ks: Int, pqIters: Int,
                             nProbe: Int, topK: Int): String = {
    val f = math.pow(10, Similarity.IvfScale.toDouble).toLong
    // dist of full vectors in `vecs` (cols vec_id, vcol) vs centroids
    def fullDistCte(name: String, cents: String, vecs: String, vcol: String,
                    vecFilter: String) =
      s"""$name AS (
         |  SELECT e.vec_id, c.cluster_id,
         |    sum(CAST(floor(CAST(c.cvec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)
         |      - 2 * CAST(floor(CAST(e.$vcol[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)) AS dist_s
         |  FROM $vecs e, $cents c,
         |    LATERAL (SELECT unnest(generate_series(1, len(e.$vcol))) AS i) t
         |  $vecFilter
         |  GROUP BY e.vec_id, c.cluster_id)""".stripMargin
    def fullAsgCte(name: String, dist: String) =
      s"""$name AS (SELECT vec_id, cluster_id FROM $dist
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist_s, cluster_id) = 1)""".stripMargin
    def fullUpdCte(name: String, asg: String) =
      s"""$name AS (
         |  SELECT cluster_id, list(CAST(cv AS REAL) ORDER BY dim) AS cvec FROM (
         |    SELECT a.cluster_id, i AS dim,
         |      floor(CAST(sum(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * $f + 0.5) AS BIGINT)) AS DOUBLE)
         |        / count(*) + 0.5) / $f AS cv
         |    FROM $asg a JOIN embeddings e USING (vec_id),
         |      LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) t
         |    GROUP BY a.cluster_id, i)
         |  GROUP BY cluster_id)""".stripMargin
    val coarseIterCtes = (1 to coarseIters).map { it =>
      s"""${fullDistCte(s"cd$it", s"cc${it - 1}", "embeddings", "embedding", "")},
         |${fullAsgCte(s"casg$it", s"cd$it")},
         |${fullUpdCte(s"cc$it", s"casg$it")}""".stripMargin
    }.mkString(",\n")
    val ccF = s"cc$coarseIters"
    // PQ chain over residual subvectors `rv(vec_id, sub, svec, coarse_id)`
    def subDistCte(name: String, books: String, vecFilter: String) =
      s"""$name AS (
         |  SELECT v.vec_id, v.sub, c.cluster_id,
         |    sum(CAST(floor(CAST(c.cvec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)
         |      - 2 * CAST(floor(CAST(v.svec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)) AS dist_s
         |  FROM rv v JOIN $books c ON c.sub = v.sub,
         |    LATERAL (SELECT unnest(generate_series(1, $subDim)) AS i) t
         |  $vecFilter
         |  GROUP BY v.vec_id, v.sub, c.cluster_id)""".stripMargin
    def subAsgCte(name: String, dist: String) =
      s"""$name AS (SELECT vec_id, sub, cluster_id FROM $dist
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist_s, cluster_id) = 1)""".stripMargin
    def subUpdCte(name: String, asg: String) =
      s"""$name AS (
         |  SELECT sub, cluster_id, list(CAST(cv AS REAL) ORDER BY dim) AS cvec FROM (
         |    SELECT a.sub, a.cluster_id, i AS dim,
         |      floor(CAST(sum(CAST(floor(CAST(v.svec[i] AS DOUBLE) * $f + 0.5) AS BIGINT)) AS DOUBLE)
         |        / count(*) + 0.5) / $f AS cv
         |    FROM $asg a JOIN rv v ON v.vec_id = a.vec_id AND v.sub = a.sub,
         |      LATERAL (SELECT unnest(generate_series(1, $subDim)) AS i) t
         |    GROUP BY a.sub, a.cluster_id, i)
         |  GROUP BY sub, cluster_id)""".stripMargin
    val pqIterCtes = (1 to pqIters).map { it =>
      s"""${subDistCte(s"pd$it", s"pc${it - 1}", "")},
         |${subAsgCte(s"pasg$it", s"pd$it")},
         |${subUpdCte(s"pc$it", s"pasg$it")}""".stripMargin
    }.mkString(",\n")
    val pcF = s"pc$pqIters"
    s"""WITH cc0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id, embedding AS cvec
       |  FROM embeddings ORDER BY vec_id LIMIT $nCoarse),
       |$coarseIterCtes,
       |${fullDistCte("cda", ccF, "embeddings", "embedding", "")},
       |${fullAsgCte("casg", "cda")},
       |rv AS (
       |  SELECT a.vec_id, s.sub,
       |    list_transform(generate_series(1, $subDim), i ->
       |      CAST(e.embedding[s.sub * $subDim + i] - c.cvec[s.sub * $subDim + i] AS REAL)) AS svec,
       |    a.cluster_id AS coarse_id
       |  FROM casg a JOIN embeddings e USING (vec_id)
       |    JOIN $ccF c USING (cluster_id),
       |    (SELECT unnest(generate_series(0, ${m - 1})) AS sub) s),
       |pc0 AS (
       |  SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS cluster_id,
       |    svec AS cvec
       |  FROM rv QUALIFY row_number() OVER (PARTITION BY sub ORDER BY vec_id) <= $ks),
       |$pqIterCtes,
       |${subDistCte("pcd", pcF, "")},
       |${subAsgCte("codes", "pcd")},
       |${fullDistCte("qcd", ccF, "embeddings", "embedding", "WHERE e.vec_id < 10")},
       |probe AS (SELECT vec_id, cluster_id FROM qcd
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist_s, cluster_id) <= $nProbe),
       |qrv AS (
       |  SELECT p.vec_id, p.cluster_id AS coarse_id, s.sub,
       |    list_transform(generate_series(1, $subDim), i ->
       |      CAST(e.embedding[s.sub * $subDim + i] - c.cvec[s.sub * $subDim + i] AS REAL)) AS svec
       |  FROM probe p JOIN embeddings e USING (vec_id)
       |    JOIN $ccF c USING (cluster_id),
       |    (SELECT unnest(generate_series(0, ${m - 1})) AS sub) s),
       |qtab AS (
       |  SELECT q.vec_id AS query_id, q.coarse_id, q.sub, c.cluster_id AS code,
       |    sum(CAST(floor(CAST(q.svec[i] AS DOUBLE) * CAST(q.svec[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)
       |      + CAST(floor(CAST(c.cvec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)
       |      - 2 * CAST(floor(CAST(q.svec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)) AS d_s
       |  FROM qrv q JOIN $pcF c ON c.sub = q.sub,
       |    LATERAL (SELECT unnest(generate_series(1, $subDim)) AS i) t
       |  GROUP BY q.vec_id, q.coarse_id, q.sub, c.cluster_id),
       |cellof AS (SELECT DISTINCT vec_id, coarse_id FROM rv),
       |scored AS (
       |  SELECT t.query_id, k.vec_id AS neighbor_id,
       |    CAST(o.coarse_id AS BIGINT) AS coarse_id,
       |    CAST(sum(t.d_s) AS BIGINT) AS adist_s
       |  FROM codes k JOIN cellof o USING (vec_id)
       |    JOIN qtab t ON t.coarse_id = o.coarse_id AND t.sub = k.sub
       |      AND t.code = k.cluster_id
       |  WHERE k.vec_id <> t.query_id
       |  GROUP BY t.query_id, k.vec_id, o.coarse_id)
       |SELECT query_id, neighbor_id, coarse_id, adist_s FROM scored
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist_s, neighbor_id) <= $topK""".stripMargin
  }

  private lazy val annIvfPqOracleSql: String =
    ivfPqOracleSql(4, 2, 4, 16, 4, 2, 2, 3)

  /** The learned-IVF oracle (shared by `x_ann_ivf` and
    * `x_ann_ivf_stored` — the stored-index search is result-identical
    * to the inline build by construction).
    */
  /** Shared by `x_incremental_dedup` and its stored twin
    * `x_lsh_stored` — both compute the same fresh-vs-corpus band-join
    * candidates (the stored path differs only in WHERE the corpus
    * bands live and how the join partitions).
    */
  private def incrementalDedupOracleSql: String = {
    val aggs = (0 until 8).map(i => s"min(md5('$i|' || shingle)) AS mh$i").mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      s"SELECT doc_id, bucket, $b AS band_idx, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH b AS (SELECT doc_id, text, ${Corpus.splitBucketSql("doc_id")} AS bucket
       |           FROM documents),
       |toks AS (SELECT doc_id, bucket, string_split(text, ' ') AS ws FROM b),
       |sh AS (SELECT DISTINCT doc_id, bucket,
       |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
       |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) t),
       |sig AS (SELECT doc_id, bucket, $aggs FROM sh GROUP BY doc_id, bucket),
       |bands AS (
       |  $bandSelects)
       |SELECT DISTINCT a.doc_id AS doc_new, c.doc_id AS doc_corpus
       |FROM bands a JOIN bands c
       |  ON a.band_idx = c.band_idx AND a.band_key = c.band_key
       |WHERE a.bucket >= 204 AND c.bucket < 204""".stripMargin
  }

  /** The bounded deterministic training sample the corpus-scale
    * trainers read ([[Similarity.ivfCentroidsSampled]] /
    * [[Similarity.pqCodebooksSampled]]): md5-bottom-k over the id —
    * Spark's `md5(CAST(... AS STRING))` and DuckDB's render identical
    * lowercase hex, and the id tie-break makes the LIMIT a pure
    * function of the data (the x_stratified_sample precedent).
    */
  private def sampledTrainCte(sampleN: Int): String =
    s"""train AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $sampleN)""".stripMargin

  private def annIvfOracleSql: String = annIvfOracleSqlFrom("", "embeddings")

  /** `x_ann_ivf_sampled`: centroids fit on the 64-row md5-bottom-k
    * sample (4 clusters × trainPerCluster 16), lists/probe over the
    * full corpus — the oracle twin of the r15 corpus-scale trainer
    * that previously had only spec+probe evidence (r15 VERDICT #2).
    */
  private lazy val annIvfSampledOracleSql: String =
    annIvfOracleSqlFrom(sampledTrainCte(64) + ",\n", "train")

  private def annIvfOracleSqlFrom(preCtes: String, trainFrom: String): String =
    s"""WITH $preCtes$annNormCte,
       |${ivfCtesSql(4, 2, 2, 3, trainFrom)},
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id, c.cluster_id,
       |    sum(CAST(floor(CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)) AS dot_s,
       |    max(q.n2) AS q_n2, max(n.n2) AS c_n2
       |  FROM cand c JOIN nrm q ON q.vec_id = c.query_id
       |    JOIN nrm n ON n.vec_id = c.neighbor_id,
       |    LATERAL (SELECT unnest(generate_series(1, len(q.embedding))) AS i) t
       |  GROUP BY ALL),
       |cos AS (SELECT query_id, neighbor_id, cluster_id,
       |    ${Numeric.roundBinSql(
            s"(CAST(dot_s AS DOUBLE) / $AnnScale) / " +
            s"(sqrt(CAST(q_n2 AS DOUBLE) / $AnnScale) * sqrt(CAST(c_n2 AS DOUBLE) / $AnnScale))", 6)} AS cos_sim
       |  FROM scored)
       |SELECT query_id, neighbor_id, cluster_id, cos_sim FROM cos
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= 3""".stripMargin

  private def annCosSql(extraJoin: String, extraCol: String, k: Int): String =
    s"""WITH $annNormCte,
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id$extraCol,
       |    sum(CAST(floor(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)) AS dot_s,
       |    max(q.n2) AS q_n2, max(c.n2) AS c_n2
       |  FROM nrm q, nrm c, LATERAL (SELECT unnest(generate_series(1, len(q.embedding))) AS i) t
       |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id$extraJoin
       |  GROUP BY ALL),
       |cos AS (
       |  SELECT * EXCLUDE (dot_s, q_n2, c_n2),
       |    ${Numeric.roundBinSql(
              s"(CAST(dot_s AS DOUBLE) / $AnnScale) / " +
              s"(sqrt(CAST(q_n2 AS DOUBLE) / $AnnScale) * sqrt(CAST(c_n2 AS DOUBLE) / $AnnScale))", 6)} AS cos_sim
       |  FROM scored)
       |SELECT * FROM cos
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= $k""".stripMargin

  /** Twin of [[graft.ext.Retrieval.tfidfCosinePairs]]: same rational
    * idf at scale=1, integer dots/norms, capped tokens excluded from
    * both, cosine rounded order-independently at the end.
    */
  private lazy val tfidfCosineOracleSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |stats AS (SELECT count(*) AS n_docs FROM documents),
       |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token
       |        HAVING count(*) <= $TfidfCosDfCap),
       |w AS (SELECT tf.doc_id, tf.token,
       |        tf.tf * ((2 * (s.n_docs - dft.df) + 1) // (2 * dft.df + 1)) AS w
       |      FROM tf JOIN dft USING (token) CROSS JOIN stats s),
       |nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w GROUP BY doc_id),
       |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |           CAST(sum(a.w * b.w) AS BIGINT) AS dot_s
       |         FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2),
       |c AS (SELECT doc_a, doc_b, dot_s,
       |        ${Numeric.roundBinSql(
                  "CAST(dot_s AS DOUBLE) / nullif(sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)), 0.0)", 6)} AS cos_sim
       |      FROM dots JOIN nrm na ON na.doc_id = dots.doc_a
       |        JOIN nrm nb ON nb.doc_id = dots.doc_b)
       |SELECT doc_a, doc_b, dot_s, cos_sim FROM c WHERE cos_sim >= $TfidfCosThreshold""".stripMargin

  /** Shared by `x_bm25_topk` and `x_bm25_stored`: the stored probe's
    * contract is bit-identical answers off the indexed layout.
    */
  private val Bm25OracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n_docs, sum(dl) AS tl FROM dl),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
      |       WHERE token IN ('vector', 'spark', 'window') GROUP BY 1, 2),
      |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |c AS (
      |  SELECT tf.doc_id, tf.tf, dl.dl, s.n_docs, s.tl,
      |    ((2 * (s.n_docs - dft.df) + 1) * 1000) // (2 * dft.df + 1) AS idf_s
      |  FROM tf JOIN dft USING (token) JOIN dl USING (doc_id) CROSS JOIN stats s)
      |SELECT doc_id,
      |  CAST(sum((idf_s * 22 * tf * tl)
      |           // (10 * tl * tf + 3 * tl + 9 * dl * n_docs)) AS BIGINT)
      |    AS bm25_scaled
      |FROM c GROUP BY doc_id
      |ORDER BY bm25_scaled DESC, doc_id LIMIT 20""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "x_text_stats" ->
      s"""SELECT doc_id,
         | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
         | CAST(length(text) AS BIGINT) AS n_chars,
         | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
         | ${Numeric.roundBinSql(
              s"CAST(${stopFilterSql("string_split(text, ' ')", Stopwords)} AS DOUBLE) / len(string_split(text, ' '))", 4)} AS stop_ratio,
         | ${Numeric.roundBinSql(
              "CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE) / len(string_split(text, ' '))", 4)} AS avg_token_len
         |FROM documents""".stripMargin,

    "x_lang_id" ->
      s"""WITH c AS (SELECT doc_id, lang,
         |  $langCountColsSql
         |FROM documents)
         |SELECT doc_id, lang,
         |  $langCaseSql AS lang_pred
         |FROM c""".stripMargin,

    "x_train_split" ->
      s"""SELECT doc_id, bucket,
         |  CASE WHEN bucket < 204 THEN 'train'
         |       WHEN bucket < 230 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${Corpus.splitBucketSql("doc_id")} AS bucket
         |      FROM documents)""".stripMargin,

    "x_pack_sequences" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (SELECT doc_id, lang, n_tokens,
        |    coalesce(sum(n_tokens) OVER (
        |      PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |  FROM t)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(floor(CAST(prev AS DOUBLE) / 512) AS BIGINT) AS pack_id
        |FROM p""".stripMargin,

    // chunk i = tokens[i*24+1 .. i*24+32] (1-based list_slice, clamped);
    // starts from generate_series with the same step
    "x_chunk_docs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, ws, i AS chunk_idx, i * 24 AS s
        |      FROM t, LATERAL (SELECT unnest(generate_series(0,
        |        CAST(floor(CAST(greatest(len(ws) - 1, 0) AS DOUBLE) / 24) AS BIGINT))) AS i) g)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  array_to_string(list_slice(ws, s + 1, least(s + 32, len(ws))), ' ') AS chunk_text,
        |  CAST(least(len(ws) - s, 32) AS BIGINT) AS n_tokens
        |FROM c""".stripMargin,

    "x_pack_assemble" ->
      """WITH t AS (SELECT doc_id, lang, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (SELECT doc_id, lang, text, n_tokens,
        |    coalesce(sum(n_tokens) OVER (
        |      PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |  FROM t),
        |b AS (SELECT doc_id, lang, text, n_tokens,
        |    CAST(floor(CAST(prev AS DOUBLE) / 512) AS BIGINT) AS pack_id
        |  FROM p)
        |SELECT lang, pack_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
        |  string_agg(text, ' ' ORDER BY doc_id) AS pack_text
        |FROM b GROUP BY lang, pack_id""".stripMargin,

    "x_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (
        |  PARTITION BY lang
        |  ORDER BY md5(CAST(doc_id AS STRING)), doc_id) <= 20""".stripMargin,

    // esKeySql emits IDENTICAL text for both engines — the oracle and the
    // Spark expression are one definition by construction
    "x_weighted_sample" ->
      s"""SELECT doc_id, n_chars, ${Corpus.esKeySql("doc_id", "n_chars")} AS es_key
         |FROM documents WHERE n_chars > 0
         |ORDER BY es_key ASC, doc_id ASC LIMIT 50""".stripMargin,

    // the CASE chain is generated from the same MixQuotas map the Spark
    // query passes to mixtureSample — one quota definition
    "x_mixture_sample" -> {
      val cases = MixQuotas.toSeq.sortBy(_._1)
        .map { case (s, q) => s"WHEN '$s' THEN $q" }.mkString(" ")
      s"""SELECT doc_id, source FROM documents
         |QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY md5(CAST(doc_id AS STRING)), doc_id)
         |  <= CASE source $cases ELSE $MixDefaultQuota END""".stripMargin
    },

    "x_repetition" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |s AS (SELECT doc_id, ws,
         |  list_transform(generate_series(1, len(ws) - 2),
         |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
         |  FROM t)
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |  ${Numeric.roundBinSql("1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE)", 6)} AS dup_token_ratio,
         |  ${Numeric.roundBinSql("1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / CAST(len(sh) AS DOUBLE)", 6)} AS dup_3gram_ratio
         |FROM s WHERE len(ws) >= 3""".stripMargin,

    // tall scaled-integer formulation, mirroring centroidOutliers
    // term-for-term (scaledAvg centroid, int64 dot/norm sums, one IEEE
    // division + sqrt — both correctly rounded, so identical cross-engine)
    "x_embed_outliers" ->
      s"""WITH tall AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label, i AS dim,
         |         CAST(embedding[i] AS DOUBLE) AS v
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t),
         |cent AS (SELECT label, dim, ${Numeric.scaledAvgSql("v", 6)} AS c
         |         FROM tall GROUP BY label, dim),
         |c2 AS (SELECT label,
         |         sum(CAST(floor(c * c * $AnnScale + 0.5) AS BIGINT)) AS c2_s
         |       FROM cent GROUP BY label),
         |d AS (SELECT t.vec_id, t.label,
         |        sum(CAST(floor(t.v * c.c * $AnnScale + 0.5) AS BIGINT)) AS dot_s,
         |        sum(CAST(floor(t.v * t.v * $AnnScale + 0.5) AS BIGINT)) AS v2_s
         |      FROM tall t JOIN cent c ON t.label = c.label AND t.dim = c.dim
         |      GROUP BY t.vec_id, t.label)
         |SELECT vec_id, label, cos_c FROM (
         |  SELECT d.vec_id, d.label,
         |    ${Numeric.roundBinSql(
              s"(CAST(dot_s AS DOUBLE) / $AnnScale) / " +
              s"(sqrt(CAST(v2_s AS DOUBLE) / $AnnScale) * sqrt(CAST(c2_s AS DOUBLE) / $AnnScale))", 6)} AS cos_c
         |  FROM d JOIN c2 USING (label))
         |WHERE cos_c < $OutlierTau""".stripMargin,

    // chr(9) = tab: identical injected mess, identical normalization
    "x_normalize_text" ->
      """WITH m AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN upper(text) ELSE text END)
        |      || chr(9) || ' extra   run' || chr(9) || chr(9) || ' of  spaces  ' AS t
        |  FROM documents),
        |n AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(t), '[\x00-\x1f]', ' ', 'g'),
        |                        ' +', ' ', 'g')) AS clean_text
        |  FROM m)
        |SELECT doc_id, clean_text,
        |  CAST(length(clean_text) AS BIGINT) AS n_chars_clean
        |FROM n""".stripMargin,

    "x_split_report" ->
      s"""WITH b AS (SELECT *, ${Corpus.splitBucketSql("doc_id")} AS bucket FROM documents)
         |SELECT CASE WHEN bucket < 204 THEN 'train'
         |            WHEN bucket < 230 THEN 'val'
         |            ELSE 'test' END AS split,
         |  lang, count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         |  count(DISTINCT source) AS n_sources
         |FROM b GROUP BY 1, 2""".stripMargin,

    "x_collocations" ->
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |uni AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
         |n AS (SELECT sum(c) AS n_total FROM uni),
         |tws AS (SELECT string_split(text, ' ') AS ws FROM documents),
         |bi AS (SELECT ws[i] || ' ' || ws[i+1] AS bigram
         |       FROM tws, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) t),
         |bc AS (SELECT bigram, count(*) AS c_ab FROM bi GROUP BY bigram
         |       HAVING count(*) >= 20)
         |SELECT bigram, c_ab, a.c AS c_a, b.c AS c_b,
         |  ${Numeric.roundBinSql(
              "(CAST(c_ab AS DOUBLE) * n_total) / (CAST(a.c AS DOUBLE) * b.c)", 6)} AS lift
         |FROM bc JOIN uni a ON a.token = string_split(bigram, ' ')[1]
         |        JOIN uni b ON b.token = string_split(bigram, ' ')[2], n
         |ORDER BY lift DESC, bigram ASC LIMIT 30""".stripMargin,

    "x_token_rarity" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |              FROM documents),
         |freq AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
         |tot AS (SELECT sum(cnt) AS n_total FROM freq)
         |SELECT doc_id, count(*) AS n_tokens,
         |  ${Numeric.scaledAvgSql("CAST(n_total AS DOUBLE) / cnt", 4)} AS mean_rarity
         |FROM toks JOIN freq USING (token), tot
         |GROUP BY doc_id""".stripMargin,

    // exact counts (capacity ≥ vocabulary, see the query comment), so the
    // oracle is the plain exact GROUP BY with the same 1/64 threshold
    "x_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |            FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token)
        |SELECT token, cnt FROM c
        |WHERE cnt * 64 > (SELECT count(*) FROM tok)""".stripMargin,

    // the pattern text is TextOps.PiiPatterns verbatim (RE2 ∩ Java-regex
    // subset); counts are pass-by-pass, mirroring piiCounts
    "x_pii_redact" -> {
      val Seq((k0, p0, r0), (k1, p1, r1), (k2, p2, r2)) = TextOps.PiiPatterns
      s"""WITH aug AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@mail.example.org or +1 555-123-'
         |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    || ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.9' AS t0
         |  FROM documents),
         |r AS (SELECT doc_id, t0,
         |    regexp_replace(t0, '$p0', '$r0', 'g') AS t1,
         |    regexp_replace(regexp_replace(t0, '$p0', '$r0', 'g'),
         |                   '$p1', '$r1', 'g') AS t2
         |  FROM aug)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t0, '$p0')) AS BIGINT) AS n_$k0,
         |  CAST(len(regexp_extract_all(t1, '$p1')) AS BIGINT) AS n_$k1,
         |  CAST(len(regexp_extract_all(t2, '$p2')) AS BIGINT) AS n_$k2,
         |  regexp_replace(t2, '$p2', '$r2', 'g') AS clean_text
         |FROM r""".stripMargin
    },

    "x_decontaminate" -> {
      val cat = (0 until 5).map(k => s"ws[i+$k]").mkString(" || ' ' || ")
      s"""WITH b AS (SELECT doc_id, text, ${Corpus.splitBucketSql("doc_id")} AS bucket
         |           FROM documents),
         |toks AS (SELECT doc_id, bucket, string_split(text, ' ') AS ws FROM b),
         |sh5 AS (SELECT DISTINCT doc_id, bucket, $cat AS shingle
         |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i) t),
         |tv AS (SELECT DISTINCT shingle FROM sh5 WHERE bucket < 204)
         |SELECT doc_id, count(*) AS n_contaminated
         |FROM sh5 JOIN tv USING (shingle)
         |WHERE bucket >= 230
         |GROUP BY doc_id""".stripMargin
    },

    // mirror of x_decontaminate with the splits swapped — the bloom is
    // invisible to the oracle because it only ever prunes
    "x_contaminated_train" -> {
      val cat = (0 until 5).map(k => s"ws[i+$k]").mkString(" || ' ' || ")
      s"""WITH b AS (SELECT doc_id, text, ${Corpus.splitBucketSql("doc_id")} AS bucket
         |           FROM documents),
         |toks AS (SELECT doc_id, bucket, string_split(text, ' ') AS ws FROM b),
         |sh5 AS (SELECT DISTINCT doc_id, bucket, $cat AS shingle
         |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i) t),
         |ev AS (SELECT DISTINCT shingle FROM sh5 WHERE bucket >= 230)
         |SELECT doc_id, count(*) AS n_contaminated
         |FROM sh5 JOIN ev USING (shingle)
         |WHERE bucket < 204
         |GROUP BY doc_id""".stripMargin
    },

    "x_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pos AS (SELECT doc_id, i - 1 AS pos,
        |          ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) t),
        |dup AS (SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM pos)
        |        GROUP BY shingle HAVING count(*) >= 2),
        |d AS (SELECT doc_id, pos FROM pos JOIN dup USING (shingle)),
        |g AS (SELECT doc_id, pos,
        |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM d)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 2 AS span_end,
        |  max(pos) + 2 - min(pos) + 1 AS n_words, count(*) AS n_grams
        |FROM g GROUP BY doc_id, grp""".stripMargin,

    "x_span_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pos AS (SELECT doc_id, i - 1 AS pos,
        |          ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) t),
        |stats AS (SELECT shingle, count(DISTINCT doc_id) AS df, min(doc_id) AS keeper
        |          FROM pos GROUP BY shingle),
        |rem AS (SELECT doc_id, pos FROM pos JOIN stats USING (shingle)
        |        WHERE df >= 2 AND doc_id <> keeper),
        |cov AS (SELECT DISTINCT doc_id, pos + j AS wpos
        |        FROM rem, LATERAL (SELECT unnest(generate_series(0, 2)) AS j) t),
        |words AS (SELECT doc_id, i - 1 AS wpos, ws[i] AS word
        |          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) t),
        |kept AS (SELECT w.doc_id, w.wpos, w.word FROM words w
        |         ANTI JOIN cov c ON w.doc_id = c.doc_id AND w.wpos = c.wpos),
        |agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY wpos) AS clean_text,
        |          count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  CAST(len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0) AS BIGINT)
        |    AS n_removed_words
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    // band join constrained to (fresh x corpus) — the incremental probe;
    // signature CTEs are split-tagged so both sides share one definition
    "x_incremental_dedup" -> incrementalDedupOracleSql,

    // the stored probe is result-identical to the in-memory incremental
    // probe by construction (fused bkey equality = (band_idx, band_key)
    // equality), so it shares the oracle — the x_ann_ivf_stored pattern
    "x_lsh_stored" -> incrementalDedupOracleSql,

    "x_vocab_topk" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents))
        |SELECT token, count(*) AS df FROM tok
        |GROUP BY token ORDER BY df DESC, token LIMIT 50""".stripMargin,

    "x_tfidf_top" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
         |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |s AS (SELECT doc_id, token, tf, df,
         |        ${Numeric.roundBinSql("CAST(tf AS DOUBLE) / df", 6)} AS score
         |      FROM tf JOIN dfq USING (token))
         |SELECT doc_id, token, tf, df, score FROM s
         |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) <= 3""".stripMargin,

    // same trigram blocking (substr spelling), same df cap replicated
    // on the union of both sides, plain levenshtein with the <= filter
    // standing in for the engine's banded -1 convention
    "x_record_linkage" ->
      """WITH ln AS (SELECT c_custkey AS left_id, c_name AS lname FROM customer),
        |rn AS (SELECT s_suppkey AS right_id, s_name AS rname FROM supplier),
        |lg AS (
        |  SELECT DISTINCT left_id, substr(lname, CAST(i AS INTEGER), 3) AS g
        |  FROM ln, LATERAL (SELECT unnest(generate_series(1, len(lname) - 2)) AS i) u),
        |rg AS (
        |  SELECT DISTINCT right_id, substr(rname, CAST(i AS INTEGER), 3) AS g
        |  FROM rn, LATERAL (SELECT unnest(generate_series(1, len(rname) - 2)) AS i) u),
        |ok AS (
        |  SELECT g FROM (
        |    SELECT g FROM lg UNION ALL SELECT g FROM rg)
        |  GROUP BY g HAVING count(*) <= 120),
        |cand AS (
        |  SELECT DISTINCT lg.left_id, rg.right_id
        |  FROM lg JOIN ok USING (g) JOIN rg USING (g))
        |SELECT c.left_id, c.right_id,
        |  CAST(levenshtein(ln.lname, rn.rname) AS BIGINT) AS edit_distance
        |FROM cand c JOIN ln USING (left_id) JOIN rn USING (right_id)
        |WHERE levenshtein(ln.lname, rn.rname) <= 5""".stripMargin,

    // identical floor-division spelling of the rational BM25: the
    // score itself (not a tolerance band) hash-matches
    "x_bm25_topk" -> Bm25OracleSql,

    // the stored index is a LAYOUT; the answer contract is "identical
    // to the cold query" — same oracle by definition
    "x_bm25_stored" -> Bm25OracleSql,
    "t12_streaming_bm25" -> Bm25OracleSql,
    // the maintained IVF index ≡ the from-scratch build for any split
    // (assignment is a pure function of the standing centroids) — the
    // streaming probe shares the learned-IVF oracle
    "t13_streaming_ann" -> annIvfOracleSql,
    "t14_streaming_ivfpq" -> annIvfPqOracleSql,

    "x_quality_filter" ->
      s"""WITH c AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  ${Numeric.roundBinSql(
              s"CAST(${stopFilterSql("string_split(text, ' ')", Stopwords)} AS DOUBLE) / len(string_split(text, ' '))", 4)} AS stop_ratio,
         |  $langCountColsSql
         |FROM documents)
         |SELECT doc_id, n_tokens, stop_ratio, lang_pred FROM (
         |  SELECT doc_id, n_tokens, stop_ratio, $langCaseSql AS lang_pred FROM c)
         |WHERE n_tokens BETWEEN 20 AND 80 AND stop_ratio >= 0.02 AND lang_pred = 'en'""".stripMargin,

    // every stage reuses the per-operator oracle fragments verbatim, so
    // the chain is the composition of already-verified pieces
    "x_corpus_e2e" -> {
      val Seq((_, p0, r0), (_, p1, r1), (_, p2, r2)) = TextOps.PiiPatterns
      s"""WITH c AS (SELECT doc_id, text,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  ${Numeric.roundBinSql(
              s"CAST(${stopFilterSql("string_split(text, ' ')", Stopwords)} AS DOUBLE) / len(string_split(text, ' '))", 4)} AS stop_ratio,
         |  $langCountColsSql
         |FROM documents),
         |q AS (SELECT doc_id, text FROM (
         |    SELECT doc_id, text, n_tokens, stop_ratio, $langCaseSql AS lang_pred FROM c)
         |  WHERE n_tokens BETWEEN 20 AND 80 AND stop_ratio >= 0.02 AND lang_pred = 'en'),
         |r AS (SELECT doc_id,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '$p0', '$r0', 'g'), '$p1', '$r1', 'g'), '$p2', '$r2', 'g') AS clean
         |  FROM q),
         |k AS (SELECT min(doc_id) AS doc_id FROM r GROUP BY md5(clean)),
         |dd AS (SELECT r.doc_id, r.clean FROM r JOIN k USING (doc_id)),
         |s AS (SELECT doc_id, clean,
         |    CASE WHEN bucket < 204 THEN 'train'
         |         WHEN bucket < 230 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, clean, ${Corpus.splitBucketSql("doc_id")} AS bucket FROM dd)),
         |t AS (SELECT doc_id, split,
         |    CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_tokens
         |  FROM s),
         |p AS (SELECT doc_id, split, n_tokens,
         |    coalesce(sum(n_tokens) OVER (
         |      PARTITION BY split ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
         |  FROM t)
         |SELECT doc_id, split, n_tokens,
         |  CAST(floor(CAST(prev AS DOUBLE) / 512) AS BIGINT) AS pack_id
         |FROM p""".stripMargin
    },

    "x_fingerprint" ->
      """SELECT doc_id,
        | md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        |FROM documents""".stripMargin,

    "x_dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "x_jaccard_pairs" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b, n_common,
         |        ${Numeric.roundBinSql("CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)", 4)} AS jaccard
         |      FROM pairs
         |      JOIN sizes sa ON sa.doc_id = doc_a
         |      JOIN sizes sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, n_common, jaccard FROM j WHERE jaccard >= 0.1""".stripMargin,

    // DuckDB's levenshtein is the same unit-cost DP; the banded Spark
    // form returns identical distances for every row that survives ≤ k
    "x_edit_distance_pairs" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b,
         |        ${Numeric.roundBinSql("CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)", 4)} AS jaccard
         |      FROM pairs
         |      JOIN sizes sa ON sa.doc_id = doc_a
         |      JOIN sizes sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jaccard,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance
         |FROM j
         |JOIN documents da ON da.doc_id = doc_a
         |JOIN documents db ON db.doc_id = doc_b
         |WHERE jaccard >= 0.2 AND levenshtein(da.text, db.text) <= 6""".stripMargin,

    "x_containment_pairs" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS n_common
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |directed AS (SELECT u AS doc_a, v AS doc_b, n_common FROM pairs
         |             UNION ALL SELECT v, u, n_common FROM pairs),
         |c AS (SELECT doc_a, doc_b, n_common,
         |        ${Numeric.roundBinSql("CAST(n_common AS DOUBLE) / sa.n_sh", 4)} AS containment
         |      FROM directed JOIN sizes sa ON sa.doc_id = doc_a)
         |SELECT doc_a, doc_b, n_common, containment FROM c
         |WHERE containment >= 0.5""".stripMargin,

    "x_jaccard_capped" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |rare AS (SELECT shingle FROM sh GROUP BY shingle
         |         HAVING count(*) <= $JaccardDfCap),
         |shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b, n_common,
         |        ${Numeric.roundBinSql("CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)", 4)} AS jaccard
         |      FROM pairs
         |      JOIN sizes sa ON sa.doc_id = doc_a
         |      JOIN sizes sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, n_common, jaccard FROM j
         |WHERE jaccard >= $JaccardCappedThreshold""".stripMargin,

    "x_minhash_sig" ->
      s"""WITH $minhashSigCte
         |SELECT * FROM sig""".stripMargin,

    "x_lsh_candidates" -> {
      val bandSelects = (0 until 4).map { b =>
        s"SELECT doc_id, $b AS band_idx, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS band_key FROM sig"
      }.mkString("\n  UNION ALL ")
      s"""WITH $minhashSigCte,
         |bands AS (
         |  $bandSelects)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id""".stripMargin
    },

    // the streaming drain must land on the batch candidate set exactly
    "t8_streaming_neardup" -> {
      val bandSelects = (0 until 4).map { b =>
        s"SELECT doc_id, $b AS band_idx, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS band_key FROM sig"
      }.mkString("\n  UNION ALL ")
      s"""WITH $minhashSigCte,
         |bands AS (
         |  $bandSelects)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id""".stripMargin
    },

    // truth = the x_jaccard_pairs oracle restricted to the deterministic
    // md5-bucket half-sample; candidates = the x_lsh_candidates oracle on
    // the same sample; recall = semi-join count ratio
    "x_lsh_recall" -> {
      val aggs = (0 until 8).map(i => s"min(md5('$i|' || shingle)) AS mh$i").mkString(", ")
      val bandSelects = (0 until 4).map { b =>
        s"SELECT doc_id, $b AS band_idx, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS band_key FROM sig"
      }.mkString("\n  UNION ALL ")
      val sampledShingleCte =
        """docs_s AS (SELECT doc_id, text FROM documents
          |           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'),
          |toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM docs_s),
          |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
          |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) t)""".stripMargin
      s"""WITH $sampledShingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b FROM (
         |  SELECT doc_a, doc_b,
         |    ${Numeric.roundBinSql("CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)", 4)} AS jaccard
         |  FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
         |             JOIN sizes sb ON sb.doc_id = doc_b)
         |  WHERE jaccard >= 0.1),
         |sig AS (SELECT doc_id, $aggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandSelects),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |              AND a.doc_id < b.doc_id),
         |hit AS (SELECT t.doc_a, t.doc_b FROM truth t
         |        SEMI JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
         |SELECT (SELECT count(*) FROM truth) AS n_true,
         |  (SELECT count(*) FROM hit) AS n_hit,
         |  CASE WHEN (SELECT count(*) FROM truth) = 0 THEN NULL
         |       ELSE ${Numeric.roundBinSql(
              "CAST((SELECT count(*) FROM hit) AS DOUBLE) / (SELECT count(*) FROM truth)", 4)}
         |  END AS recall""".stripMargin
    },

    // closed-form twins of the synthetic-media parameters; the Spark
    // side earns these numbers through a real encode→decode round trip
    "x_image_features" ->
      """WITH p AS (
        |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h,
        |         doc_id % 200 AS base
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, CAST(1 AS BIGINT) AS channels,
        |  CAST(w * h * base + h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2) AS DOUBLE)
        |    / (w * h) AS mean_intensity
        |FROM p""".stripMargin,

    // closed-form lattice twin of the aHash: cell value is
    // base + (x·w)//8 + (y·h)//8, and 64·cell >= Σcells iff
    // 64·(sx+sy) >= Σ(sx+sy) — the base term cancels, so the oracle
    // drops it (that cancellation IS the brightness invariance the
    // Spark side earns through the real decode)
    "x_image_phash" ->
      """WITH p AS (
        |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h
        |  FROM documents WHERE doc_id < 200),
        |g AS (SELECT unnest(generate_series(0, 7)) AS v),
        |cells AS (
        |  SELECT p.doc_id, gy.v * 8 + gx.v AS idx,
        |    (gx.v * w) // 8 + (gy.v * h) // 8 AS cell
        |  FROM p, g gy, g gx),
        |tot AS (SELECT doc_id, sum(cell) AS total FROM cells GROUP BY doc_id)
        |SELECT c.doc_id AS media_id,
        |  string_agg(CASE WHEN 64 * c.cell >= t.total THEN '1' ELSE '0' END,
        |             '' ORDER BY c.idx) AS phash
        |FROM cells c JOIN tot t USING (doc_id)
        |GROUP BY c.doc_id""".stripMargin,

    // same lattice twin, grouped: hash collisions ARE the duplicate
    // groups (different base, same (w,h) gradient → same bits)
    "x_phash_groups" ->
      """WITH p AS (
        |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h
        |  FROM documents WHERE doc_id < 200),
        |g AS (SELECT unnest(generate_series(0, 7)) AS v),
        |cells AS (
        |  SELECT p.doc_id, gy.v * 8 + gx.v AS idx,
        |    (gx.v * w) // 8 + (gy.v * h) // 8 AS cell
        |  FROM p, g gy, g gx),
        |tot AS (SELECT doc_id, sum(cell) AS total FROM cells GROUP BY doc_id),
        |hashes AS (
        |  SELECT c.doc_id,
        |    string_agg(CASE WHEN 64 * c.cell >= t.total THEN '1' ELSE '0' END,
        |               '' ORDER BY c.idx) AS phash
        |  FROM cells c JOIN tot t USING (doc_id) GROUP BY c.doc_id)
        |SELECT phash, CAST(count(*) AS BIGINT) AS n_images,
        |  min(doc_id) AS keeper_id
        |FROM hashes GROUP BY phash HAVING count(*) > 1""".stripMargin,

    // the synth wave is ±amp square with 25-frame half-periods, so the
    // sample-level stats are closed-form: sign flips at every 25-frame
    // boundary → (frames-1)//25 crossings; every sample contributes
    // amp² → energy = frames·amp². A decode that mangles ANY sample
    // breaks one of these, not just the mean.
    "x_audio_features" ->
      """SELECT doc_id AS media_id,
        |  CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
        |  CAST(100 + (doc_id % 50) * 10 AS BIGINT) AS n_frames,
        |  CAST(100 + (doc_id % 50) * 10 AS DOUBLE) / 8000.0 AS duration_sec,
        |  CAST(100 + doc_id % 900 AS DOUBLE) AS mean_abs_amplitude,
        |  CAST((100 + (doc_id % 50) * 10 - 1) // 25 AS BIGINT) AS zero_crossings,
        |  CAST((100 + (doc_id % 50) * 10)
        |    * (100 + doc_id % 900) * (100 + doc_id % 900) AS BIGINT) AS energy
        |FROM documents WHERE doc_id < 200""".stripMargin,

    // resized pixel (x,y) = base + ⌊x·w/8⌋ + ⌊y·h/8⌋; the mean over the
    // 8×8 grid separates into row/column floor sums — exact integers,
    // one final IEEE division, mirroring decodeImage's sum/(w·h)
    "x_image_resize" ->
      """WITH p AS (
        |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h,
        |         doc_id % 200 AS base
        |  FROM documents WHERE doc_id < 200),
        |s AS (
        |  SELECT doc_id, base,
        |    (SELECT sum((k * w) // 8)
        |     FROM (SELECT unnest(generate_series(0, 7)) AS k)) AS sx,
        |    (SELECT sum((k * h) // 8)
        |     FROM (SELECT unnest(generate_series(0, 7)) AS k)) AS sy
        |  FROM p)
        |SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS width,
        |  CAST(8 AS BIGINT) AS height, CAST(1 AS BIGINT) AS channels,
        |  CAST(64 * base + 8 * sx + 8 * sy AS DOUBLE) / 64 AS mean_intensity
        |FROM s""".stripMargin,

    "x_video_meta" ->
      """SELECT doc_id AS media_id, 'isom' AS brand,
        |  CAST(2000 + (doc_id % 100) * 500 AS DOUBLE) / 1000.0 AS duration_sec,
        |  CAST(1000 AS BIGINT) AS timescale,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS n_tracks,
        |  CAST(160 + (doc_id % 8) * 16 AS BIGINT) AS width,
        |  CAST(90 + ((doc_id // 8) % 8) * 18 AS BIGINT) AS height
        |FROM documents WHERE doc_id < 200""".stripMargin,

    // closed-form frame grid of the MJPEG muxer: the Spark side earns
    // every row through a real RIFF walk + real JPEG pixel decode
    "x_avi_frames" ->
      """WITH p AS (
        |  SELECT doc_id, 1 + doc_id % 3 AS nf,
        |         16 + (doc_id % 8) * 8 AS w, 16 + ((doc_id // 8) % 8) * 8 AS h
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height
        |FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS frame_idx) t""".stripMargin,

    "x_simhash" -> DedupOps.simhashOracleSql("documents", "doc_id", "text"),

    // brute-force all-pairs hamming — equals the banded join exactly
    // because radius 3 < 4 bands (pigeonhole), and everything is integer
    "x_simhash_pairs" ->
      s"""WITH sh AS (${DedupOps.simhashOracleSql("documents", "doc_id", "text")})
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "x_dedup_resolution" ->
      s"""WITH RECURSIVE $resolutionLabCtesSql
         |SELECT doc_id, min(label) AS keep_id FROM lab GROUP BY doc_id""".stripMargin,

    // DuckDB sums BIGINT into HUGEINT — cast back so schemas align
    "x_dedup_report" ->
      s"""WITH RECURSIVE $resolutionLabCtesSql,
         |comp AS (SELECT doc_id, min(label) AS keep_id FROM lab GROUP BY doc_id),
         |cl AS (SELECT keep_id, count(*) AS sz FROM comp GROUP BY keep_id)
         |SELECT count(*) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs_in_clusters,
         |  max(sz) AS max_cluster,
         |  CAST(sum(sz) - count(*) AS BIGINT) AS n_removable
         |FROM cl""".stripMargin,

    "x_embed_quantize" ->
      """SELECT vec_id,
        |  list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max')
        |    AS max_abs,
        |  CASE WHEN list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') = 0.0
        |    THEN array_to_string(list_transform(embedding, x -> CAST(0 AS BIGINT)), ',')
        |    ELSE array_to_string(list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 127.0
        |        / list_aggregate(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))), 'max')
        |        + 0.5) AS BIGINT)), ',')
        |  END AS q_csv
        |FROM embeddings""".stripMargin,

    "x_dedup_keep_best" ->
      s"""WITH RECURSIVE $resolutionLabCtesSql,
         |comp AS (SELECT doc_id, min(label) AS comp_id FROM lab GROUP BY doc_id),
         |scored AS (SELECT c.doc_id, c.comp_id,
         |             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS q
         |           FROM comp c JOIN documents d USING (doc_id)),
         |best AS (SELECT comp_id, doc_id AS keep_id FROM scored
         |         QUALIFY row_number() OVER (
         |           PARTITION BY comp_id ORDER BY q DESC, doc_id) = 1)
         |SELECT s.doc_id, b.keep_id FROM scored s JOIN best b USING (comp_id)""".stripMargin,

    // same deterministic md5-bucket half as the Spark side
    "x_embed_neardup" ->
      s"""WITH emb_s AS (
         |  SELECT * FROM embeddings
         |  WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'),
         |${annNormCteFrom("emb_s")},
         |${pairCosineSql("nrm a JOIN nrm b ON a.vec_id < b.vec_id")}""".stripMargin,

    // the x_embed_neardup_lsh_demo pair CTEs + the recursive min-label
    // closure from the text-resolution oracle, in embedding space
    "x_semantic_dedup" ->
      s"""WITH RECURSIVE $annNormCte,
         |$signBitBandCtesSql,
         |${pairCosineCtes(
           "cand c JOIN nrm a ON a.vec_id = c.vec_a JOIN nrm b ON b.vec_id = c.vec_b")},
         |prs AS (SELECT vec_a, vec_b FROM cos WHERE cos_sim >= $NearDupTau),
         |edges AS (SELECT vec_a AS src, vec_b AS dst FROM prs
         |          UNION ALL SELECT vec_b, vec_a FROM prs),
         |lab(vid, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, l.label FROM edges e JOIN lab l ON l.vid = e.dst)
         |SELECT vid AS vec_id, min(label) AS keep_id FROM lab GROUP BY vid""".stripMargin,

    // same deterministic md5-bucket half as the Spark side
    "x_embed_neardup_lsh_demo" ->
      s"""WITH emb_s AS (
         |  SELECT * FROM embeddings
         |  WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'),
         |${annNormCteFrom("emb_s")},
         |$signBitBandCtesSql,
         |${pairCosineSql(
           "cand c JOIN nrm a ON a.vec_id = c.vec_a JOIN nrm b ON b.vec_id = c.vec_b")}""".stripMargin,

    "x_embed_neardup_lsh" ->
      s"""WITH $annNormCte,
         |${signBitBandCtesSqlFor(64, 16)},
         |${pairCosineSql(
           "cand c JOIN nrm a ON a.vec_id = c.vec_a JOIN nrm b ON b.vec_id = c.vec_b")}""".stripMargin,

    "x_embed_neardup_sized" ->
      s"""WITH $annNormCte,
         |${sizedBandCtesSql(4, SizedNearDupBucketRows)},
         |${pairCosineSql(
           "cand c JOIN nrm a ON a.vec_id = c.vec_a JOIN nrm b ON b.vec_id = c.vec_b")}""".stripMargin,

    "x_ann_cosine" -> annCosSql("", "", 5),

    // same scoring pipeline as x_ann_cosine, over the dequantized int8
    // index — quantize→dequantize is the identical IEEE scalar tree the
    // Spark side applies (floor-round to int8 scale, rescale, REAL cast)
    "x_ann_quantized" ->
      s"""WITH deq AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x ->
         |      CAST(CAST(CASE WHEN m = 0.0 THEN 0
         |            ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5) AS BIGINT)
         |          END AS DOUBLE) * m / 127.0 AS REAL)) AS embedding
         |  FROM (SELECT vec_id, embedding,
         |          list_aggregate(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))), 'max') AS m
         |        FROM embeddings)),
         |nrm AS (
         |  SELECT vec_id, embedding,
         |    sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)) AS n2
         |  FROM deq, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t
         |  GROUP BY vec_id, embedding),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    sum(CAST(floor(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * $AnnScale + 0.5) AS BIGINT)) AS dot_s,
         |    max(q.n2) AS q_n2, max(c.n2) AS c_n2
         |  FROM nrm q, nrm c, LATERAL (SELECT unnest(generate_series(1, len(q.embedding))) AS i) t
         |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
         |  GROUP BY ALL),
         |cos AS (
         |  SELECT * EXCLUDE (dot_s, q_n2, c_n2),
         |    ${Numeric.roundBinSql(
              s"(CAST(dot_s AS DOUBLE) / $AnnScale) / " +
              s"(sqrt(CAST(q_n2 AS DOUBLE) / $AnnScale) * sqrt(CAST(c_n2 AS DOUBLE) / $AnnScale))", 6)} AS cos_sim
         |  FROM scored)
         |SELECT * FROM cos
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= 3""".stripMargin,

    // the stored-index search is result-identical to the inline build by
    // construction (same deterministic k-means, same probe/score) — one
    // oracle text serves both keys
    "x_ann_ivf_stored" -> annIvfOracleSql,
    "x_ann_ivf_sampled" -> annIvfSampledOracleSql,
    "x_ann_pq" -> annPqOracleSql,
    "x_ann_pq_stored" -> annPqOracleSql,
    "x_ann_pq_sampled" -> annPqSampledOracleSql,
    "x_ann_pq_refined" -> annPqRefineOracleSql,
    "x_pq_recall" -> annPqRecallOracleSql,
    "x_ann_ivfpq" -> annIvfPqOracleSql,
    "x_ann_ivfpq_stored" -> annIvfPqOracleSql,
    "x_tfidf_cosine_pairs" -> tfidfCosineOracleSql,
    // the stored probe's contract is bit-identical pairs off the
    // indexed layout — same oracle (the x_bm25_stored pattern)
    "x_tfidf_cosine_stored" -> tfidfCosineOracleSql,

    "x_ann_ivf" -> annIvfOracleSql,

    "x_ann_bucketed" -> annCosSql(" AND c.label = q.label", ", c.label AS bucket", 3),

    "x_centroids" ->
      s"""SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim,
         | ${Numeric.scaledAvgSql("CAST(embedding[i] AS DOUBLE)", 6)} AS centroid_v,
         | count(*) AS n_vecs
         |FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t
         |GROUP BY label, i""".stripMargin
  )
}
