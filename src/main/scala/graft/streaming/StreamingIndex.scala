package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.DedupOps
import graft.operators.ShardStore

/** Continuous corpus-index maintenance: the streaming form of
  * [[graft.ext.DedupOps.lshCandidatesIncremental]]. Each micro-batch of
  * new documents is (1) near-dup-checked within itself, (2) probed
  * against the STANDING MinHash signature index, and (3) its signatures
  * appended to that index — so the index is always current and the
  * nightly/continuous dedup cost stays O(batch), never O(corpus).
  *
  * This is the shape a 100 TB ingestion pipeline actually runs: corpus
  * text is shingled exactly once (on arrival), and every later batch
  * joins against 8 small integer columns per historical doc, not the
  * text.
  *
  * Idempotence on replay: each batch writes its index shard and its
  * duplicate records as [[graft.operators.ShardStore]] shards — a
  * replayed micro-batch (crash between sink and checkpoint commit)
  * overwrites its own previous output bit-for-bit instead of appending
  * twice. The shard id doubles as a partition column, so index readers
  * can also prune by arrival batch.
  */
object StreamingIndex {

  /** foreachBatch sink. Duplicate records land at `dupsPath` as
    * (doc_new, doc_matched): `doc_matched` is an earlier corpus doc for
    * cross-batch hits, or the smaller id for within-batch hits (ids grow
    * with arrival in an append-only corpus).
    */
  def signatureIndexSink(indexPath: String, dupsPath: String,
                         idCol: String, textCol: String,
                         k: Int = 8, rowsPerBand: Int = 2, n: Int = 3)
                        (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newSigs = DedupOps.minhashSignatures(batch, idCol, textCol, k, n)

    val intra = DedupOps.lshCandidates(batch, idCol, textCol, k, rowsPerBand, n)
      .select(col("doc_b").as("doc_new"), col("doc_a").as("doc_matched"))
    val dups =
      if (!fs.exists(new Path(indexPath))) intra
      else {
        // this batch's own (replayed) shard must not self-match
        val index = ShardStore.read(spark, indexPath, newSigs.schema)
          .filter(col("batch") =!= batchId)
          .select(col(idCol) +: (0 until k).map(i => col(s"mh$i")): _*)
        DedupOps.lshCandidatesIncremental(index, batch, idCol, textCol, k, rowsPerBand, n)
          .select(col("doc_new"), col("doc_corpus").as("doc_matched"))
          .unionByName(intra)
      }
    ShardStore.append(dups, dupsPath, batchId)
    ShardStore.append(newSigs, indexPath, batchId)
  }
}
