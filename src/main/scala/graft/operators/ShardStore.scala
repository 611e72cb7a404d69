package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The `batch=<id>` shard-table layout shared by the streaming sinks
  * (bm25Sink, StreamingIndex, the as-of right store, the streaming ANN
  * lists and codes).
  *
  * Layout contract: a shard table is a root directory holding one
  * `batch=<id>` directory per micro-batch, written by that batch alone
  * with `mode("overwrite")`. A replayed batch rewrites its own shard
  * bit-for-bit, so the table is the union of its shards and every
  * appended row appears exactly once. Shards may nest partition
  * directories of their own (`cluster_id=`, `tok_band=`), which probes
  * prune on. Nothing else under the root is part of the table.
  */
object ShardStore {

  /** The declared schema [[read]] requires, built from a shard's DATA
    * schema: the layout contract (`batch BIGINT` partition column) in
    * one place instead of hand-appended at every call site.
    */
  def withBatch(dataSchema: StructType): StructType =
    StructType(dataSchema.fields :+
      org.apache.spark.sql.types.StructField(
        "batch", org.apache.spark.sql.types.LongType))

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All `batch=<id>` shard dirs under `root`, id-sorted. */
  def batchShards(f: FileSystem, root: Path): Seq[(Long, Path)] =
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("batch=").toLong).toOption
        .map(_ -> s.getPath))
      .sortBy(_._1)

  /** Read a shard table: the union of its `batch=` dirs. `schema` must
    * DECLARE every column including nested partition columns and
    * `batch BIGINT` ([[withBatch]]) — declared schemas are what make
    * empty shards readable and schema drift loud. Missing root (or a
    * root with no shard yet) → typed empty.
    */
  def read(spark: SparkSession, root: String, schema: StructType): DataFrame = {
    val shardPaths = batchShards(fs(spark, root), new Path(root)).map(_._2.toString)
    if (shardPaths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.option("basePath", root).schema(schema)
      .parquet(shardPaths: _*)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*)
  }
}
