package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.Tables

/** The bounded `Trigger.AvailableNow` drain every streaming chain runs:
  * the two ways to build its source ([[eventsStream]], [[splitStream]]),
  * the one runner ([[run]], with a foreachBatch or a parquet-path sink),
  * and the one empty-result probe for what the drain left on disk
  * ([[hasData]]). One spelling of the drain mechanics, so an edge-case
  * fix cannot reach one chain and miss another.
  */
object Drain {

  /** Shuffle width inside a drain. Stateful streaming operators pin
    * state stores PER SHUFFLE PARTITION for the life of the query — AQE
    * never coalesces them — so a bounded drain at the session's
    * batch-sized width pays pure per-partition machinery (store
    * open/commit/snapshot) every micro-batch: measured 8.5 s → 3.1 s on
    * the stream-stream join at sf0.1 by clamping 32 → 8. Width only
    * shards state; every drain's RESULT is width-independent (the
    * batch-equivalence oracles pin that). Long-running production
    * streams size this to state volume instead.
    *
    * AQE is off inside the drain too: every fold's frames are tiny and
    * carry injected stats (checkpointWithStats) or file stats, so
    * runtime replanning buys nothing — but each AQE query stage
    * materializes as its own job, and at ~24 jobs per fold the
    * driver-side stage machinery WAS the measured drain floor (SCALE.md
    * "Round 11: the `t*` drain floor": job time ≪ wall time). Join sides
    * still broadcast from static stats. Both settings are scoped to the
    * drain and restored after it, also when it fails.
    */
  private val Width = 8

  /** Drain `stream` to exhaustion, handing each micro-batch to `sink`
    * (a foreachBatch function), then return. Each drain starts from a
    * fresh checkpoint, so its batchIds start at 0 under a new stream
    * lineage (the replay guard's scope, [[AtomicSwap]]). The checkpoint
    * is dead once the query stops, so the runner deletes it, also when
    * the drain fails.
    */
  def run(stream: DataFrame, outputMode: String)(
      sink: (DataFrame, Long) => Unit): Unit =
    runWith(stream, outputMode)(_.foreachBatch(sink))

  /** Drain `stream` to exhaustion into the parquet directory `path`
    * (Spark's file sink: exactly-once through its `_spark_metadata` log).
    */
  def run(stream: DataFrame, outputMode: String, path: String): Unit =
    runWith(stream, outputMode)(_.format("parquet").option("path", path))

  private def runWith(stream: DataFrame, outputMode: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val spark = stream.sparkSession
    val width = "spark.sql.shuffle.partitions"
    val aqe = "spark.sql.adaptive.enabled"
    val prevWidth = spark.conf.get(width)
    val prevAqe = spark.conf.get(aqe)
    val scratch = new Path(DrainWork.tempDir("graft_drain"))
    spark.conf.set(width, Width.toString)
    spark.conf.set(aqe, "false")
    try sink(stream.writeStream
        .outputMode(outputMode)
        .option("checkpointLocation", s"$scratch/checkpoint")
        .trigger(Trigger.AvailableNow()))
      .start()
      .awaitTermination()
    finally {
      spark.conf.set(width, prevWidth)
      spark.conf.set(aqe, prevAqe)
      scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(scratch, true)
    }
  }

  /** The events table of `sfDir` as a file stream, `ts` normalized the
    * way [[graft.Tables.events]] does it (schema from a cheap footer
    * read; int64 nanos are read as longs and rebuilt as micros).
    * `maxFilesPerTrigger` splits the drain into real micro-batches —
    * AvailableNow honours rate limits — which the specs use to prove
    * batch-split independence.
    */
  def eventsStream(spark: SparkSession, sfDir: String,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val reader = spark.readStream.schema(Tables(spark, sfDir, "events").schema)
    // glob form, not the bare path: the file-stream source requires its
    // base path to be a directory, and `events.parquet` is a single file
    // in the driver testdata (a directory of parts in generated dirs —
    // the glob handles both)
    Tables.normalizeTs(maxFilesPerTrigger.fold(reader)(
        reader.option("maxFilesPerTrigger", _))
      .parquet(s"$sfDir/{events.parquet}"))
  }

  /** Write `frame` to `dir` as 3 part files and stream it back,
    * `filesPerTrigger` files per micro-batch — the arbitrary 3-way split
    * the chains use to prove that their folds are split-invariant. The
    * schema is `frame`'s, top-level-nullable like a parquet read-back,
    * so the stream needs no re-inference (guide §6 metadata cost).
    */
  def splitStream(frame: DataFrame, dir: String,
                  filesPerTrigger: Int = 1): DataFrame = {
    frame.repartition(3).write.parquet(dir)
    frame.sparkSession.readStream
      .schema(StructType(frame.schema.fields.map(_.copy(nullable = true))))
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(dir)
  }

  /** Whether the drain left rows to read at `path`: an entry Spark's
    * file index would list (a part file, or a partition directory such
    * as `__day=…` or `batch=…`). A drain with no rows leaves no
    * directory, or one holding only hidden files (the `_applied_batch`
    * marker, `_SUCCESS`) — an empty result, not an error. Probing the
    * path instead of catching `AnalysisException` keeps real analysis
    * errors (schema drift, a renamed column) loud, where a broad catch
    * would report them as a suspiciously fast empty result.
    */
  def hasData(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val name = s.getPath.getName
      !name.startsWith(".") && (!name.startsWith("_") || name.contains("="))
    }
  }
}
