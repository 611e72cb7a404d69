package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Upsert / MERGE emulation on plain parquet (SURVEY §2.5 A6, §7.5.1).
  *
  * The reference's marts are dbt incremental models with
  * `unique_key` → BigQuery MERGE (mart_location_air_quality.sql:2-3):
  * rows of the new batch replace existing rows with the same key,
  * everything else is inserted. Plain parquet has no MERGE primitive, so:
  * `existing ANTI-JOIN batch ON key  UNION ALL  batch`.
  *
  * Scale notes: the anti-join shuffles both sides on the key — same cost
  * profile as any MERGE. When `batch` is small relative to `existing`
  * (the daily-increment case), Spark/AQE broadcasts the batch side of the
  * anti-join, so the big table is never shuffled. With day-partitioned
  * storage, pair this with [[overwriteDays]] so only touched partitions
  * rewrite.
  */
object Merge {

  /** Rows of `existing` whose key is absent from `batch`, plus all of
    * `batch`. Replays are idempotent: upsert(upsert(e, b), b) == upsert(e, b).
    * The batch's key set is force-broadcast into the anti-join (right for
    * daily increments, where the batch is orders of magnitude smaller
    * than the accumulated table).
    */
  def upsert(existing: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame =
    existing.join(broadcast(batch.select(keys.map(col): _*).distinct()),
      keys, "left_anti").unionByName(batch)

  /** Replace exactly the `__day` partitions present in `df` under
    * `path` (dynamic partition overwrite); every other day's files stay
    * byte-identical. The one write path of the day-partitioned marts.
    *
    * `df` may read the very partitions it replaces: the dynamic mode
    * writes task output under `path/.spark-staging-<job>` and deletes
    * and renames the target `__day=` directories only at job commit,
    * after every task has read its input, so no copy of `df` is needed
    * first. Not atomic across partitions: a crash during the commit's
    * renames can leave some days new and others old, and callers replay
    * a keyed, idempotent merge to re-converge.
    */
  def overwriteDays(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__day").parquet(path)
}
