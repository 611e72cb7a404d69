package graft.streaming

import org.apache.spark.sql.SparkSession

/** Shuffle-width clamp for bounded AvailableNow drains. Stateful
  * streaming operators pin state stores PER SHUFFLE PARTITION for the
  * life of the query — AQE never coalesces them — so a bounded drain at
  * the session's batch-sized width pays pure per-partition machinery
  * (store open/commit/snapshot) every micro-batch: measured 8.5 s →
  * 3.1 s on the stream-stream join at sf0.1 by clamping 32 → 8. Width
  * only shards state; every drain's RESULT is width-independent (the
  * batch-equivalence oracles pin that). Long-running production streams
  * size this to state volume instead — the clamp is scoped to the drain
  * and restored after.
  */
object DrainWidth {

  val DefaultDrainWidth = 8

  def clamped[A](spark: SparkSession, width: Int = DefaultDrainWidth)(
      body: => A): A = {
    val conf = "spark.sql.shuffle.partitions"
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(conf)
    val prevAqe = spark.conf.get(aqe)
    spark.conf.set(conf, width.toString)
    // AQE off inside the drain: every fold's frames are tiny and carry
    // injected stats (checkpointWithStats) or file stats, so runtime
    // replanning buys nothing — but each AQE query stage materializes
    // as its own job, and at ~24 jobs per fold the driver-side stage
    // machinery WAS the measured drain floor (SCALE.md "Round 11: the
    // `t*` drain floor": job time ≪ wall time). Width is already pinned
    // by the clamp; join sides still broadcast from static stats.
    spark.conf.set(aqe, "false")
    try body finally {
      spark.conf.set(conf, prev)
      spark.conf.set(aqe, prevAqe)
    }
  }
}
