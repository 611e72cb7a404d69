package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bronze layer IO: lake NDJSON/CSV sources and partitioned parquet
  * sinks (SURVEY §2.1 S1-S13).
  *
  * Scale design: bronze is written `partitionBy(_audit_logical_date)` —
  * the reference's day-partitioning (dags/01:83,132,190) — so every
  * downstream daily run prunes to one partition at the file-source level.
  * NDJSON reads are PERMISSIVE: blank lines are dropped by the reader,
  * corrupt lines land in `_corrupt_record` and are filtered (reference
  * skips them one by one, extract_measurements.py:51-60).
  */
object Bronze {

  /** S7/S9/S10: lake NDJSON scan with fixed envelope, drift-tolerant.
    * `paths` may be globs (`…_part*.ndjson`) — the reference's wildcard
    * loads; filename available via `input_file_name()` if needed.
    */
  def readNdjson(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    dropCorrupt(spark.read.schema(schema).options(NdjsonOptions).json(paths: _*))

  /** Reader options of every lake NDJSON scan, batch or streaming:
    * PERMISSIVE, with unparseable lines kept in `_corrupt_record`.
    */
  private[graft] val NdjsonOptions: Map[String, String] =
    Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")

  /** The rejected-line filter over an [[NdjsonOptions]] scan: corrupt
    * lines and lines without a `data` object drop, so batch and
    * streaming bronze reject the same lines.
    */
  private[graft] def dropCorrupt(raw: DataFrame): DataFrame =
    raw.filter(col("_corrupt_record").isNull && col("data").isNotNull)
      .drop("_corrupt_record")

  /** S1/S3/S8: control/seed CSV with header + inferred schema
    * (dags/01:81-82 autodetect) — short rows null-padded like the
    * reference's row padding (extract_sheets_to_gcs.py:73-80).
    */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true")
      .option("mode", "PERMISSIVE").csv(path)

  /** Clustering-on-write (the reference's BigQuery `cluster_by`,
    * dags/01:191): sort within partitions by (partition col, cluster
    * cols) so each output file's row groups carry tight, mostly
    * non-overlapping min/max stats on the cluster keys — at scale the
    * difference between row-group skipping and full-partition scans for
    * point/range reads on those keys. Leading with the partition col
    * also satisfies the partitioned writer's required ordering, so no
    * second sort is inserted.
    */
  private def clustered(df: DataFrame, partCol: String, clusterBy: Seq[String]): DataFrame =
    if (clusterBy.isEmpty) df
    else df.sortWithinPartitions((partCol +: clusterBy).map(col): _*)

  /** S9/S10 sink: append into the day-partitioned bronze lake,
    * clustering rows within each file on `clusterBy`.
    */
  def appendPartitioned(df: DataFrame, path: String,
                        partCol: String = "_audit_logical_date",
                        clusterBy: Seq[String] = Nil): Unit =
    clustered(df, partCol, clusterBy)
      .write.mode("append").partitionBy(partCol).parquet(path)

  /** S11: disaster-recovery truncate-reload (WRITE_TRUNCATE semantics). */
  def overwritePartitioned(df: DataFrame, path: String,
                           partCol: String = "_audit_logical_date",
                           clusterBy: Seq[String] = Nil): Unit =
    clustered(df, partCol, clusterBy)
      .write.mode("overwrite").partitionBy(partCol).parquet(path)
}
