package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Row-dedup operators (SURVEY §2.6 W1/W2, §2.5 A4).
  *
  * All are single-shuffle: one hash partition by key, then either a
  * partial-aggregating `groupBy` (firstWinsByMin) or a windowed
  * `row_number` (latestWins). At scale the shuffle is the unavoidable
  * cost of key-dedup; nothing here adds a second exchange.
  */
object Dedup {

  /** Latest-wins dedup: keep the single row per key with the greatest
    * `orderCols` (reference stg_* QUALIFY ROW_NUMBER() ... DESC = 1,
    * stg_openaq__locations.sql:46-51). Callers MUST pass a tie-breaking
    * final order column (e.g. a unique id) for determinism — the
    * reference leaves ties nondeterministic (SURVEY §7.5.3); we don't.
    */
  def latestWins(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** First-wins dedup by composite key, deterministic via min over a
    * unique tiebreak column (reference in-flight dedup on
    * (datetimeFrom.utc, value), extract_measurements.py:109-118).
    * Returns only key + tiebreak columns, so the result is well-defined
    * regardless of scan order — a map-side-combining groupBy, cheaper
    * than a window when the payload isn't needed.
    */
  def firstWinsByMin(df: DataFrame, keys: Seq[String], tiebreak: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(min(col(tiebreak)).as(tiebreak))
}
