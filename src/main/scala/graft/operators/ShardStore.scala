package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The `batch=<id>` shard-table layout of the stored indexes and the
  * streaming sinks that extend them (IVF lists, IVF-PQ codes, BM25
  * postings and doclen, the signature index, the as-of right store).
  *
  * Layout contract: a shard table is a root directory holding one
  * `batch=<id>` directory per write, written by that write alone with
  * `mode("overwrite")`. A replayed batch rewrites its own shard
  * bit-for-bit, so the table is the union of its shards and every
  * appended row appears exactly once. Shards may nest partition
  * directories of their own (`cluster_id=`, `tok_band=`), which probes
  * prune on. Nothing else under the root is part of the table.
  *
  * A batch build is shard 0 ([[rebuild]]); a stream that extends a
  * built table numbers its shards from 1. This object is the only code
  * that spells a `batch=` path (ShardLayoutSpec scans for others).
  */
object ShardStore {

  private def withBatch(dataSchema: StructType): StructType =
    StructType(dataSchema.fields :+ StructField("batch", LongType))

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All `batch=<id>` shard dirs under `root`, id-sorted. */
  private def batchShards(f: FileSystem, root: Path): Seq[Path] =
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("batch=").toLong).toOption
        .map(_ -> s.getPath))
      .sortBy(_._1).map(_._2)

  /** Write `df` as shard `batchId` of the table at `root`, replacing
    * that shard alone (a replay rewrites it), partitioned inside the
    * shard by `partitionBy`.
    */
  def append(df: DataFrame, root: String, batchId: Long,
      partitionBy: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionBy: _*)
      .parquet(s"$root/batch=$batchId")

  /** Replace the whole table at `root` with `df` as its shard 0: a
    * batch build. Every shard already under the root (an earlier build,
    * or batches a stream appended to it) is deleted first.
    */
  def rebuild(df: DataFrame, root: String, partitionBy: String*): Unit = {
    fs(df.sparkSession, root).delete(new Path(root), true)
    append(df, root, 0L, partitionBy: _*)
  }

  /** Read a shard table: the union of its `batch=` dirs, as the columns
    * of `dataSchema` plus `batch BIGINT`. `dataSchema` must DECLARE
    * every data column including nested partition columns — declared
    * schemas are what make empty shards readable and schema drift loud.
    * Missing root (or a root with no shard yet) → typed empty.
    */
  def read(spark: SparkSession, root: String, dataSchema: StructType): DataFrame = {
    val schema = withBatch(dataSchema)
    val shardPaths = batchShards(fs(spark, root), new Path(root)).map(_.toString)
    if (shardPaths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.option("basePath", root).schema(schema)
      .parquet(shardPaths: _*)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*)
  }
}
