package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSuite

class ExtSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank now"), // near-dup of 1
    (3L, "completely different words about spark catalyst optimizer plans and shuffles here"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("shingles produce len-n+1 word n-grams; empty when too short") {
    val r = Seq("a b c d", "a b").toDF("t")
      .select(TextOps.shingles(col("t"), 3).as("sh")).as[Seq[String]].collect()
    assert(r(0) == Seq("a b c", "b c d"))
    assert(r(1).isEmpty)
  }

  test("editDistancePairs: candidates verified by banded exact distance") {
    // 1↔2: one word swapped (today→now: t→n, d→w, -a, -y = 4 ≤ k=6);
    // 1↔4 exact dup (distance 0); 3 shares no shingles → never a candidate
    val pairs = DedupOps.editDistancePairs(docs, "doc_id", "text",
        n = 3, candidateThreshold = 0.2, maxDistance = 6)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("edit_distance")).toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(pairs((1L, 4L)) == 0L)
    assert(pairs((1L, 2L)) == 4L && pairs((2L, 4L)) == 4L)
    // tighter bound drops the word-swap pairs but keeps the exact dup
    val tight = DedupOps.editDistancePairs(docs, "doc_id", "text",
      n = 3, candidateThreshold = 0.2, maxDistance = 2)
    assert(tight.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet ==
      Set((1L, 4L)))
  }

  test("recordLinkage: blocked cross-table match; capped block keys drop pairs on both sides") {
    val left = Seq((1L, "acme corp"), (2L, "zenith ltd"), (3L, "common common"))
      .toDF("lid", "lname")
    val right = Seq((10L, "acme corpX"), (11L, "nothing alike"),
      (12L, "common common")).toDF("rid", "rname")
    val out = DedupOps.recordLinkage(left, "lid", "lname",
        right, "rid", "rname", n = 3, maxDistance = 2, maxNgramDf = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 1↔10 one appended char (distance 1); 3↔12 exact (0); 2↔11 shares
    // no trigram → never a candidate
    assert(out == Map((1L, 10L) -> 1L, (3L, 12L) -> 0L))
    // cap = 1 kills every shared block key (each shared trigram sits in
    // ≥2 records) → zero candidates, deterministically on both sides
    assert(DedupOps.recordLinkage(left, "lid", "lname",
      right, "rid", "rname", n = 3, maxDistance = 2, maxNgramDf = 1L).count() == 0L)
  }

  test("exactGroups collapses identical texts") {
    val g = DedupOps.exactGroups(docs, "doc_id", "text")
    assert(g.count() == 3)
    val dupGroup = g.filter(col("n_docs") === 2).collect()
    assert(dupGroup.length == 1 && dupGroup.head.getAs[Long]("keep_id") == 1L)
  }

  test("jaccardPairs finds the near-dup pair and not the unrelated doc") {
    val pairs = DedupOps.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccardPairs df cap: non-binding cap changes nothing; cap=1 kills shared shingles") {
    val uncapped = DedupOps.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val capped = DedupOps.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5,
        maxShingleDf = Some(4)) // df ≤ #docs → drops nothing
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(capped == uncapped && capped.nonEmpty)
    // cap=1 excludes every shared shingle → no pair can form
    assert(DedupOps.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5,
      maxShingleDf = Some(1)).isEmpty)
  }

  test("lshCandidates surfaces near-dups; exact dups always collide") {
    val cand = DedupOps.lshCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 4L)), "exact dup must share every band")
    assert(!cand.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not collide")
  }

  test("simhash: identical texts equal; near-dups closer than unrelated (hamming)") {
    val m = DedupOps.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(m(1L) == m(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(1L), m(2L)) < hamming(m(1L), m(3L)))
  }

  test("simhashPairs equals brute-force hamming pairs on real data (exact recall)") {
    val corpus = graft.Tables.documents(spark, sfDir)
    val got = DedupOps.simhashPairs(corpus, "doc_id", "text", radius = 3)
      .as[(Long, Long, Long)].collect().toSet
    val sigs = DedupOps.simhash(corpus, "doc_id", "text")
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == brute && got.nonEmpty) // pigeonhole: radius 3 < 4 bands loses nothing
  }

  test("simhashPairs rejects a radius the banding cannot guarantee") {
    intercept[IllegalArgumentException] {
      DedupOps.simhashPairs(docs, "doc_id", "text", radius = 4, nBands = 4)
    }
  }

  test("assignSplit: deterministic, stable under corpus growth, ~80/10/10") {
    val small = (1L to 200L).toDF("doc_id")
    val big = (1L to 2000L).toDF("doc_id")
    val s1 = Corpus.assignSplit(small, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val s2 = Corpus.assignSplit(big, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1.forall { case (id, sp) => s2(id) == sp }) // growth never reassigns
    val frac = s2.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("train") - 0.797) < 0.05)
    assert(math.abs(frac("val") - 0.102) < 0.04)
    assert(math.abs(frac("test") - 0.102) < 0.04)
  }

  test("vocabulary ranks by document frequency with token tie-break") {
    val v = Corpus.vocabulary(docs, "doc_id", "text", 3)
      .as[(String, Long)].collect().toSeq
    assert(v.head._2 == 3 && v.map(_._2).sorted.reverse == v.map(_._2))
    assert(v == v.sortBy(t => (-t._2, t._1)))
  }

  test("tfidfTop surfaces each doc's distinctive tokens, not shared ones") {
    val top = Corpus.tfidfTop(docs, "doc_id", "text", 2)
      .select("doc_id", "token").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // doc 3's vocabulary is unique to it → its top tokens have df=1
    assert(top(3L).subsetOf(Set("completely", "different", "words", "about", "spark",
      "catalyst", "optimizer", "plans", "and", "shuffles", "here")))
    // docs 1/2/4 share almost everything; their distinctive tokens are the
    // trailing word that differs (today/now)
    assert(top(2L).contains("now"))
  }

  test("stratifiedSample: exactly k per stratum, deterministic across runs") {
    val df = (1L to 300L).map(i => (i, s"s${i % 3}")).toDF("id", "stratum")
    val a = Corpus.stratifiedSample(df, "stratum", "id", 5)
      .as[(Long, String)].collect().toSet
    val b = Corpus.stratifiedSample(df.orderBy(rand(7)), "stratum", "id", 5)
      .as[(Long, String)].collect().toSet
    assert(a == b) // md5 order, not arrival order
    assert(a.groupBy(_._2).forall(_._2.size == 5))
  }

  test("contamination counts eval 5-gram overlap against the train vocabulary") {
    val train = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "a b c d e x y z"),            // shares exactly "a b c d e"
      (11L, "p q r s t u v w"),            // shares nothing
      (12L, "a b c d e f g h")).toDF("doc_id", "text") // shares all 4 5-grams
    val r = Corpus.contamination(train, eval, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(10L -> 1L, 12L -> 4L)) // doc 11 absent (no hits)
  }

  test("packSequences bins docs by exclusive prefix token sum per shard") {
    val df = Seq(
      (1L, "a", ("w " * 99).trim), (2L, "a", ("w " * 99).trim), // prev 0, 99
      (3L, "a", ("w " * 99).trim),                              // prev 198
      (4L, "a", ("w " * 20).trim),                              // prev 297 → pack 1
      (5L, "b", ("w " * 10).trim))                              // own shard, pack 0
      .toDF("doc_id", "shard", "text")
    val r = Corpus.packSequences(df, "doc_id", "text", "shard", capacity = 250)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 0L))
  }

  test("qualityFilter applies token band + stop ratio + language gates") {
    val qdocs = Seq(
      (1L, "the cat sat on the mat and the dog is here today again ok fine"), // passes
      (2L, "short text"),                                    // too few tokens
      (3L, "el gato y la casa de que y el perro aqui esta hoy bien vale si")) // wrong lang
      .toDF("doc_id", "text")
    val r = Corpus.qualityFilter(qdocs, "doc_id", "text",
      Seq("the", "a", "of", "and", "is"), 5, 100, 0.02, "en")
      .select("doc_id").as[Long].collect().toSeq
    assert(r == Seq(1L))
  }

  test("resolveKeepBest keeps the highest-quality member of each dup cluster") {
    import org.apache.spark.sql.functions.{col => c}
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("doc_a", "doc_b")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 7L), (8L, 4L), (9L, 4L))
      .toDF("doc_id", "quality")
    val r = DedupOps.resolveKeepBest(pairs, scores, "doc_id", "quality")
      .as[(Long, Long)].collect().toMap
    // cluster {1,2,3}: doc 2 has max quality; cluster {8,9}: tie → min id 8
    assert(r == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 8L -> 8L, 9L -> 8L))
  }

  test("langId picks marker-majority language deterministically") {
    val r = Seq(
      "the cat is on a roof and the dog is here",
      "el gato y la casa de que y el perro",
      "zzz qqq www").toDF("t")
      .select(TextOps.langId(col("t"))).as[String].collect()
    assert(r.toSeq == Seq("en", "es", "unknown"))
  }

  test("cosine top-k: orthogonal vs identical vectors rank correctly") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0),  // identical to query → cos 1.0
      (2L, Array(0.0f, 1.0f, 0.0f), 0),  // orthogonal → cos 0.0
      (3L, Array(0.7f, 0.7f, 0.0f), 0)   // 45° → cos ~0.707
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", 3)
      .orderBy(desc("cos_sim")).as[(Long, Long, Double)].collect()
    assert(top.map(_._2).toSeq == Seq(1L, 3L, 2L))
    assert(top(0)._3 == 1.0 && top(2)._3 == 0.0)
    assert(math.abs(top(1)._3 - 0.707107) < 1e-6)
  }

  test("cosineNearDupLsh works at non-64 widths and matches the exact baseline") {
    val base = Array.tabulate(32)(i => (math.sin(i + 1) * 0.5).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(32)(i => (math.cos(3 * i + 2) * 0.5).toFloat)
    val emb = Seq((0L, base), (1L, near), (2L, far)).toDF("vec_id", "embedding")
    val lsh = Similarity.cosineNearDupLsh(emb, "vec_id", "embedding",
        threshold = 0.9, dims = 32)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val exact = Similarity.cosineNearDupExact(emb, "vec_id", "embedding", 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(exact == Set((0L, 1L)))
    assert(lsh == exact) // identical vectors-modulo-epsilon collide in every band
  }

  test("sizedRowsPerBand follows the corpus and the sized LSH keeps true dups") {
    // ceil(log2(n/bucket)) clamped to [4, 24]: the sizing rule measured
    // in SCALE.md "Round 15: registry-wide sf1 scaling sweep" as a function
    assert(Similarity.sizedRowsPerBand(0L) == 4)            // degenerate
    assert(Similarity.sizedRowsPerBand(1000L) == 4)         // 15 buckets
    assert(Similarity.sizedRowsPerBand(2000L) == 5)         // 31 buckets
    assert(Similarity.sizedRowsPerBand(20000L) == 9)        // 312 buckets
    assert(Similarity.sizedRowsPerBand(1L << 40) == 24)     // clamp high
    assert(Similarity.sizedRowsPerBand(4096L, 64L) == 6)    // exact power
    // larger target bucket → fewer buckets → narrower bands
    assert(Similarity.sizedRowsPerBand(20000L, 1024L) <
      Similarity.sizedRowsPerBand(20000L, 64L))
    // end-to-end: sized bands still collide the epsilon-near pair and
    // stay a subset of the exact result (same contract as the demo r)
    val base = Array.tabulate(32)(i => (math.sin(i + 1) * 0.5).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(32)(i => (math.cos(3 * i + 2) * 0.5).toFloat)
    val emb = Seq((0L, base), (1L, near), (2L, far)).toDF("vec_id", "embedding")
    val sized = Similarity.cosineNearDupLshSized(emb, "vec_id", "embedding",
        threshold = 0.9, corpusRows = 3L, dims = 32)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(sized == Set((0L, 1L)))
  }

  test("sizedNClusters follows the sqrt rule; sampled IVF training searches correctly") {
    assert(Similarity.sizedNClusters(0L) == 4)
    assert(Similarity.sizedNClusters(16L) == 4)          // clamp low
    assert(Similarity.sizedNClusters(2000L) == 45)       // ceil(sqrt)
    assert(Similarity.sizedNClusters(200000L) == 448)
    assert(Similarity.sizedNClusters(Long.MaxValue) == (1 << 16)) // clamp high
    // sampled centroids drive the same search contract as full Lloyd:
    // the near pair is each other's top neighbor, the far one is not
    val base = Array.tabulate(32)(i => (math.sin(i + 1) * 0.5).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(32)(i => (math.cos(3 * i + 2) * 0.5).toFloat)
    val emb = Seq((0L, base), (1L, near), (2L, far)).toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroidsSampled(emb, "vec_id", "embedding",
      nClusters = 2, iterations = 2)
    assert(cents.count() == 2)
    val res = Similarity.ivfTopKWithCentroids(emb, emb, "vec_id", "embedding",
        cents, nProbe = 2, k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(res(0L) == 1L && res(1L) == 0L)
    // the PQ twin: sampled codebooks carry the same shape contract
    // (m·ks rows) and ADC search over them ranks the epsilon-near pair
    // first for each other
    val books = Similarity.pqCodebooksSampled(emb, "vec_id", "embedding",
      m = 2, subDim = 16, ks = 2, iterations = 2)
    // m·ks is an UPPER bound: a Lloyd round drops a code that captured
    // no vectors (3 vectors / 2 codes per subspace can collapse to 1)
    val nBooks = books.count()
    assert(nBooks >= 2 && nBooks <= 4)
    val pq = Similarity.pqTopKWithCodebooks(emb, emb, "vec_id", "embedding",
        books, m = 2, subDim = 16, k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(pq(0L) == 1L && pq(1L) == 0L)
  }

  test("signBitBands fails fast on embedding/hyperplane width mismatch") {
    val emb = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.cosineNearDupLsh(emb, "vec_id", "embedding",
        threshold = 0.5, dims = 64).collect()
    }
    assert(ex.getMessage.contains("width"))
  }

  test("mixtureSample honors per-stratum quotas and stays stable under other-strata growth") {
    val df = (0L until 90L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val r = Corpus.mixtureSample(df, "source", "doc_id",
      Map("src0" -> 5, "src1" -> 2), defaultQuota = 1)
    val counts = r.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(counts == Map("src0" -> 5L, "src1" -> 2L, "src2" -> 1L))
    // doubling src2 must not change which src0/src1 docs are drawn
    val grown = df.union((1000L until 1030L).map(i => (i, "src2")).toDF("doc_id", "source"))
    val before = r.filter($"source" =!= "src2").select("doc_id").as[Long].collect().toSet
    val after = Corpus.mixtureSample(grown, "source", "doc_id",
        Map("src0" -> 5, "src1" -> 2), defaultQuota = 1)
      .filter($"source" =!= "src2").select("doc_id").as[Long].collect().toSet
    assert(before == after)
  }

  test("normalize lowers case, maps control chars to spaces, collapses runs, trims") {
    val r = Seq((1L, "  Hello\tWORLD \r\n  mixed   Spaces\t"))
      .toDF("id", "t").select(TextOps.normalize($"t")).as[String].collect().head
    assert(r == "hello world mixed spaces")
  }

  test("collocations ranks the always-together bigram above independent ones") {
    // "new york" always co-occur (4/4); "the cat"/"the dog" are diluted
    // by "the" appearing everywhere
    val docs = Seq(
      (1L, "new york the cat"), (2L, "new york the dog"),
      (3L, "new york the cat"), (4L, "new york the dog")
    ).toDF("doc_id", "text")
    val r = Corpus.collocations(docs, "doc_id", "text", minCount = 2, k = 2)
      .select($"bigram", $"lift").as[(String, Double)].collect().toSeq
    // N = 16 tokens; lift(new york) = 16*4/(4*4) = 4.0 — the top hit
    assert(r.head == (("new york", 4.0)))
    assert(r.forall(_._2 <= 4.0))
  }

  test("quantizedTopK: int8 search recovers most of the full-precision top-k") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val q = emb.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3))
    val quant = pairs(Similarity.quantizedTopK(emb, q, "vec_id", "embedding", k = 3))
    // int8 perturbs each element by ≤ max/254: ranks can swap only at
    // near-ties, so top-3 overlap stays high
    val overlap = (exact intersect quant).size.toDouble / exact.size
    assert(overlap >= 0.8, s"quantized recall too low: $overlap")
  }

  test("containmentPairs catches a quoted doc that jaccard misses, directed") {
    val docs = Seq(
      (1L, "q w e r t"), // 3 trigrams, all inside doc 2
      (2L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 q w e r t y1 y2 y3 y4 y5 y6 y7 y8 y9")
    ).toDF("doc_id", "text")
    // jaccard is low: 3 common / (3 + 21 - 3) = 0.14 — under a 0.5 gate
    val j = DedupOps.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
    assert(j.count() == 0)
    // containment of doc 1 in doc 2 is exactly 1.0; the reverse is small
    val c = DedupOps.containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.9)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(c == Seq((1L, 2L, 3L, 1.0)))
  }

  test("chunkDocs: overlapping windows cover every token; short docs give one chunk") {
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (2L, "a b")                            // shorter than one chunk
    ).toDF("doc_id", "text")
    val r = Corpus.chunkDocs(docs, "doc_id", "text", chunkTokens = 4, overlap = 2)
      .as[(Long, Long, String, Long)].collect().toSet
    assert(r == Set(
      (1L, 0L, "t0 t1 t2 t3", 4L),
      (1L, 1L, "t2 t3 t4 t5", 4L),
      (1L, 2L, "t4 t5 t6 t7", 4L),
      (1L, 3L, "t6 t7 t8 t9", 4L),
      (1L, 4L, "t8 t9", 2L), // tail chunk, clamped
      (2L, 0L, "a b", 2L)))
  }

  test("assemblePacks concatenates each bin in doc-id order at any parallelism") {
    // shard s: docs of 3 tokens each, capacity 6 → bins {1,2}, {3,4}, {5}
    val docs = Seq(
      (1L, "s", "a b c"), (2L, "s", "d e f"), (3L, "s", "g h i"),
      (4L, "s", "j k l"), (5L, "s", "m n o")
    ).toDF("doc_id", "lang", "text")
    for (p <- Seq(1, 7)) {
      val r = Corpus.assemblePacks(docs.repartition(p), "doc_id", "text", "lang", 6L)
        .orderBy("pack_id")
        .as[(String, Long, Long, Long, String)].collect().toSeq
      assert(r == Seq(
        ("s", 0L, 2L, 6L, "a b c d e f"),
        ("s", 1L, 2L, 6L, "g h i j k l"),
        ("s", 2L, 1L, 3L, "m n o")))
    }
  }

  test("centroidOutliers flags the vector opposing its label centroid, not the aligned ones") {
    val vs = Seq(
      (1L, 0, Array(1.0f, 0.1f, 0.0f)),
      (2L, 0, Array(0.9f, 0.0f, 0.1f)),
      (3L, 0, Array(1.0f, 0.0f, 0.1f)),
      (4L, 0, Array(-1.0f, 0.0f, 0.0f)), // opposes the label-0 centroid
      (5L, 1, Array(0.0f, 1.0f, 0.0f)),
      (6L, 1, Array(0.0f, 0.9f, 0.1f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.centroidOutliers(vs, "vec_id", "embedding", "label", 0.0)
      .select($"vec_id").as[Long].collect().toSet
    assert(out == Set(4L))
  }

  test("rarityScore: rare-token docs score high, common-token docs score 1-ish") {
    // corpus of 10 tokens total: "common" ×8, "rare" ×1, "unique" ×1
    val d = Seq(
      (1L, "common common common common"),
      (2L, "common common common common"),
      (3L, "rare unique")
    ).toDF("doc_id", "text")
    val r = Corpus.rarityScore(d, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    // doc 1/2: every token has cnt=8, rarity 10/8 = 1.25
    assert(r(1L) == ((4L, 1.25)) && r(2L) == ((4L, 1.25)))
    // doc 3: two tokens with cnt=1, rarity 10/1 = 10 each
    assert(r(3L) == ((2L, 10.0)))
  }

  test("dupRatio flags repeated tokens and n-grams") {
    val d = Seq(
      (1L, "a b c d e f"),            // all distinct
      (2L, "spam spam spam spam"),    // heavy repetition
      (3L, "x y x y x y")             // repeated bigram structure
    ).toDF("doc_id", "text")
    val r = d.select($"doc_id",
        TextOps.dupRatio(TextOps.tokens($"text")).as("tok"),
        TextOps.dupRatio(TextOps.shingles($"text", 3)).as("tri"))
      .as[(Long, Double, Double)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(r(1L) == ((0.0, 0.0)))
    assert(r(2L)._1 == 0.75 && r(2L)._2 == 0.5) // 1 distinct of 4; 1 of 2
    assert(r(3L)._1 > 0.6 && r(3L)._2 == 0.5)   // x/y only; 2 distinct of 4
  }

  test("weightedSample: weight-proportional, deterministic, zero-weight excluded") {
    val pool = (0L until 100L).map(i => (i, 10000L)) ++
      (100L until 200L).map(i => (i, 1L)) :+ (999L, 0L)
    val df = pool.toDF("doc_id", "w")
    val s1 = Corpus.weightedSample(df, "doc_id", "w", 50)
      .select("doc_id").as[Long].collect().toSeq
    val s2 = Corpus.weightedSample(df, "doc_id", "w", 50)
      .select("doc_id").as[Long].collect().toSeq
    assert(s1 == s2)                       // reproducible at any parallelism
    assert(!s1.contains(999L))             // zero weight can't win a race
    // Exp(10000) races beat Exp(1) races w.p. 10000/10001: the fixed
    // hash draw puts (nearly) all 50 winners in the heavy class
    assert(s1.count(_ < 100L) >= 45)
  }

  test("weightedSample plan is a TakeOrdered, not a full sort") {
    val df = (0L until 100L).map(i => (i, i + 1)).toDF("doc_id", "w")
    val plan = Corpus.weightedSample(df, "doc_id", "w", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("ivfCentroids separates two obvious clusters deterministically") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.8f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)), (5L, Array(0.0f, 0.8f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", nClusters = 2, iterations = 2)
      .orderBy("cluster_id").as[(Int, Array[Float])].collect()
    assert(cents.length == 2)
    // one centroid near (0.9, 0.03), the other near (0.03, 0.9): each
    // dominates its own axis. Seeded from ids 0 and 1 (both x-cluster),
    // Lloyd still splits the axes within two rounds.
    val byX = cents.sortBy(-_._2(0))
    assert(byX(0)._2(0) > 0.5f && byX(0)._2(1) < 0.3f)
    assert(byX(1)._2(0) < 0.3f && byX(1)._2(1) > 0.5f)
    // bit-identical across runs (scaled-integer numerics)
    val again = Similarity.ivfCentroids(emb, "vec_id", "embedding", 2, 2)
      .orderBy("cluster_id").as[(Int, Array[Float])].collect()
    assert(cents.map(_._2.toSeq).toSeq == again.map(_._2.toSeq).toSeq)
  }

  test("ivfTopK with full probe equals brute force; nProbe=1 prunes to one cell") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.8f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)), (5L, Array(0.0f, 0.8f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 0)
    val full = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
        nClusters = 2, iterations = 2, nProbe = 2, k = 3)
      .select("neighbor_id", "cos_sim").as[(Long, Double)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 3)
      .select("neighbor_id", "cos_sim").as[(Long, Double)].collect().toSet
    assert(full == brute) // probing every cell recovers exact search
    val pruned = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
        nClusters = 2, iterations = 2, nProbe = 1, k = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(pruned == Set(1L, 2L)) // only the query's own cell is searched
  }

  test("bucketedTopK only searches the query's bucket") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.1f), 0),  // same bucket
      (2L, Array(1.0f, 0.0f), 1)   // identical but other bucket → excluded
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.bucketedTopK(emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", "label", 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(r == Set(1L))
  }
}
