package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.pipeline.{Bronze, Gold, Schemas, Silver}

/** Streaming form of the OpenAQ ingestion→mart chain (SURVEY §2.9):
  * the lake NDJSON directory becomes a file-stream source (new
  * `*_part*.ndjson` drops are discovered per micro-batch — the
  * reference's data-aware trigger T3, without the Airflow Dataset
  * machinery), silver extraction runs unchanged on the streaming frame,
  * and each micro-batch MERGEs into the mart via foreachBatch (T2).
  *
  * The silver/gold builders are the SAME functions as the batch path —
  * one definition of the semantics, two execution modes (the
  * lambda-architecture collapse Structured Streaming exists for).
  */
object StreamingOpenAq {

  /** Streaming bronze: watch a lake directory of measurement NDJSON. */
  def measurementsStream(spark: SparkSession, glob: String): DataFrame =
    Bronze.dropCorrupt(spark.readStream
      .schema(Schemas.measurementsEnvelope)
      .options(Bronze.NdjsonOptions)
      .json(glob))

  /** Per-micro-batch: silver-extract, quality-gate, join the (static)
    * sensor dimension, aggregate to algebraic (sum, count) PARTIALS, and
    * combine them with the partials carried in the mart parquet
    * (avg = Σsum / Σcnt). An hour whose measurements span micro-batches —
    * two waves, or one AvailableNow run split by maxFilesPerTrigger —
    * therefore converges to the exact whole-data average, not
    * last-batch-wins (ADVICE r1). `sensorsEnriched` is a static
    * broadcastable dim — the stream-static join pattern.
    */
  def airQualityMartWriter(raw: DataFrame, sensorsEnriched: DataFrame,
                           martPath: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    raw.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val valid = Gold.intValidMeasurements(Silver.stgMeasurements(batch))
        val parts = Gold.martPartials(valid, sensorsEnriched, Gold.airQualityPivots)
        algebraicMergeSink(martPath, Gold.airQualityPivots,
          "air_quality_record_id")(parts, batchId)
      }

  /** foreachBatch sink over PARTIALS: union the batch's (sum, count)
    * rows with the partial columns already in the mart, re-sum per group
    * key, re-derive the display AVG columns, and commit via
    * [[AtomicSwap]]. Idempotence matters MORE here than for a key-upsert
    * sink: partials are additive, so a replayed batch would double-count
    * its (sum, count) into the averages — the batchId marker check makes
    * replay a no-op instead.
    */
  def algebraicMergeSink(outPath: String, pivots: Seq[Gold.PivotCol], keyName: String)(
      batchPartials: DataFrame, batchId: Long): Unit =
    AtomicSwap.swapFold(outPath, batchPartials, batchId) { exists =>
      val combined =
        if (exists) {
          val existing = batchPartials.sparkSession.read.parquet(outPath).select(
            batchPartials.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
          Gold.combinePartials(existing.unionByName(batchPartials))
        } else batchPartials
      Gold.finalizeMart(combined, pivots, keyName)
    }
}
