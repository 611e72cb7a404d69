package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MinHash-LSH near-duplicate detection — the streaming twin
  * of [[graft.ext.DedupOps.lshCandidates]]: as documents arrive, each is
  * checked against every earlier document that shares an LSH band, and
  * candidate pairs are emitted incrementally.
  *
  * Two design moves make this a stream operator at all:
  *
  *  1. **Per-document signatures, no aggregation.** The batch path
  *     builds signatures on the exploded shingle index (groupBy + k
  *     min-aggregates) — on a stream that is a stateful aggregation
  *     with its own watermark machinery. Here the signature is computed
  *     per ROW: `array_min(transform(word_shingles(text), s ->
  *     md5('i|' || s)))` — byte-identical to the batch
  *     [[graft.functions.MinHashHashes]] formulation (same salt scheme,
  *     same lexicographic min), but map-only, so the only stateful
  *     operator in the stream is the pairing itself.
  *  2. **State keyed by band, bounded by construction.** `flatMapGroups
  *     WithState` holds, per (band_idx, band_key), the sorted ids of
  *     documents seen — a new arrival pairs against exactly the
  *     documents LSH already deemed candidate-similar, never the corpus.
  *     `maxDocsPerBand` caps per-band state the way the batch df-caps
  *     bound hot shingles: past the cap a band stops emitting new pairs
  *     (near-identical floods degrade gracefully instead of growing
  *     state quadratically).
  *
  * Batch parity: across any micro-batch split of the corpus, the union
  * of emitted pairs equals the batch `lshCandidates` pair set — within
  * a batch all (old x new) and (new x new) same-band combinations are
  * emitted, and pairs are canonicalized (doc_a < doc_b). Pairs shared
  * by several bands emit once per band; the sink read dedupes (the same
  * compaction a production landing table runs). At firehose scale the
  * production posture adds a processing-time TTL (`timeout`) so dormant
  * bands age out — duplicates farther apart than the TTL belong to the
  * batch dedup pass, the [[StreamingDedup]] lambda-collapse contract.
  */
object StreamingNearDup {

  /** Map-only (band_idx, band_key, doc_id) rows for a document frame —
    * batch- and stream-safe (no aggregation, no shuffle). Documents
    * with no shingles (empty/NULL text shorter than `n` words) emit no
    * bands, matching the batch explode path.
    */
  def bandKeys(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 8, rowsPerBand: Int = 2, n: Int = 3): DataFrame = {
    val sh = graft.functions.WordShingles.shingles(col(textCol), n, distinct = true)
    val mhs = (0 until k).map { i =>
      array_min(transform(col("__sh"), s => md5(concat(lit(s"$i|"), s)))).as(s"mh$i")
    }
    val bands = (0 until k / rowsPerBand).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      md5(concat_ws("|", parts: _*))
    }
    docs.withColumn("__sh", sh)
      .filter(size(col("__sh")) > 0)
      .select(col(idCol) +: mhs: _*)
      .select(col(idCol), posexplode(array(bands: _*)).as(Seq("band_idx", "band_key")))
  }

  case class BandDoc(band_idx: Int, band_key: String, doc_id: Long)
  case class CandidatePair(doc_a: Long, doc_b: Long)
  /** Sorted ids seen in this band (capped at `maxDocsPerBand`). */
  case class BandSeen(ids: Array[Long])

  /** The stateful pairing over [[bandKeys]] rows. Emits every same-band
    * (earlier, arriving) and within-batch pair, canonicalized a < b;
    * duplicates across bands/batches are possible and are deduped at
    * the sink read.
    */
  def candidatePairs(bands: Dataset[BandDoc], maxDocsPerBand: Int = Int.MaxValue,
                     timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout,
                     ttlMs: Long = 0L): Dataset[CandidatePair] = {
    import bands.sparkSession.implicits._
    val useTimeout = timeout != GroupStateTimeout.NoTimeout
    // fail at construction, not per-group at runtime: a real timeout with
    // the default ttlMs=0 would make every setTimeoutDuration(0) throw
    // IllegalArgumentException inside the first micro-batch
    require(!useTimeout || ttlMs > 0,
      s"candidatePairs: timeout=$timeout needs ttlMs > 0 (got $ttlMs)")
    bands.groupByKey(b => (b.band_idx, b.band_key))
      .flatMapGroupsWithState[BandSeen, CandidatePair](
        OutputMode.Append, timeout) { case (_, rows, state) =>
        if (state.hasTimedOut) {
          // dormant band ages out — its ids re-enter as "new" if seen
          // again, the documented TTL tail
          state.remove()
          Iterator.empty
        } else {
          val old = state.getOption.map(_.ids).getOrElse(Array.empty[Long])
          val oldSet = old.toSet
          // sorted + deduped fresh arrivals: emission order and pair
          // canonicalization are then independent of arrival order
          val fresh = rows.map(_.doc_id).toArray.distinct
            .filterNot(oldSet.contains).sorted
          val budget = maxDocsPerBand - old.length
          val kept = if (budget <= 0) Array.empty[Long] else fresh.take(budget)
          val out = Seq.newBuilder[CandidatePair]
          var i = 0
          while (i < kept.length) {
            val b = kept(i)
            var j = 0
            while (j < old.length) {
              val a = old(j)
              out += (if (a < b) CandidatePair(a, b) else CandidatePair(b, a))
              j += 1
            }
            // within-batch pairs among the kept arrivals (kept is sorted)
            var m = 0
            while (m < i) { out += CandidatePair(kept(m), b); m += 1 }
            i += 1
          }
          if (kept.nonEmpty) {
            state.update(BandSeen((old ++ kept).sorted))
            if (useTimeout) state.setTimeoutDuration(ttlMs)
          } else if (useTimeout && state.exists) {
            state.setTimeoutDuration(ttlMs)
          }
          out.result().iterator
        }
      }
  }

  /** The whole chain drained end-to-end (the `t8_streaming_neardup`
    * driver query): documents file-stream → map-only banding → stateful
    * pairing → append parquet sink, `Trigger.AvailableNow`; the read
    * back dedupes pairs emitted by several bands. Equals the batch
    * `lshCandidates(documents)` pair set row-for-row (oracle-pinned).
    */
  def availableNowCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = s"${DrainWork.tempDir("graft_stream_neardup")}/pairs"
    val schema = graft.Tables(spark, sfDir, "documents").schema
    val docs = spark.readStream.schema(schema)
      .parquet(s"$sfDir/{documents.parquet}")
    Drain.run(candidatePairs(bandKeys(docs, "doc_id", "text").as[BandDoc]).toDF(),
      "append", out)
    spark.read.parquet(out).distinct()
  }
}
