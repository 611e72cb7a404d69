package pipebench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans and listeners of the traced run, kept in memory and written out
  * once at the end.
  *
  * A span is (id, name, parent, op, start, end). Opening one sets the
  * local property [[Trace.Prop]], which Spark copies into every job the
  * calling thread submits and into the threads of streaming queries it
  * starts, so the [[SparkListener]] attributes each job, stage and task to
  * the innermost open span without any tagging inside the program.
  * Streaming progress events carry no such property; they are attributed
  * afterwards by their trigger timestamp, which falls inside exactly one
  * innermost span.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  final case class Span(id: Int, name: String, parent: Int, op: Int, startMs: Double,
                        var endMs: Double = -1)

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var op = -1
  private val notes = mutable.Map[Int, mutable.LinkedHashMap[String, Any]]()
  private val epochMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs: Double = epochMs + System.nanoTime() / 1e6

  private val listener = new SpanListener
  private val progress = mutable.ArrayBuffer[Map[String, Any]]()
  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      progress.synchronized {
        progress += Map(
          "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "run" -> p.runId.toString, "batch" -> p.batchId,
          "rows" -> p.numInputRows,
          "durations" -> d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap)
      }
    }
  })

  def beginOp(): Int = { op = spans.size; op }
  def endOp(): Unit = op = -1

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, nowMs)
    spans += s
    stack = s :: stack
    spark.sparkContext.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      stack = stack.tail
      spark.sparkContext.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  def note(key: String, value: Any): Unit =
    notes.getOrElseUpdate(op, mutable.LinkedHashMap())(key) = value

  def notesFor(opId: Int): Map[String, Any] =
    notes.get(opId).map(_.toMap).getOrElse(Map.empty)

  /** The silver views are lazy inside the pipeline; the traced run
    * materializes each into the noop sink so that its cost shows alone. */
  def silver(m: graft.pipeline.OpenAqModels): Unit = Seq(
    "silver.stg_locations" -> m.stgLocations, "silver.stg_sensors" -> m.stgSensors,
    "silver.stg_measurements" -> m.stgMeasurements).foreach { case (n, df) =>
    span(n)(noop(df))
  }

  /** Row counts behind the silver and gold ratios, taken after the op's
    * spans have closed so that they add nothing to the op's totals. */
  def counts(m: graft.pipeline.OpenAqModels, bronze: String): Unit = {
    note("bronze_measurement_rows", spark.read.parquet(s"$bronze/raw_measurements").count())
    note("stg_measurement_rows", m.stgMeasurements.count())
    note("valid_measurement_rows", m.validMeasurements.count())
  }

  def dump(out: Json): Unit = {
    out.put("spans", spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    out.put("span_metrics", listener.acc.toSeq.sortBy(_._1).map { case (id, a) =>
      Map("span" -> id, "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "input_bytes" -> a.inputBytes, "input_records" -> a.inputRecords,
        "output_bytes" -> a.outputBytes, "output_records" -> a.outputRecords,
        "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
        "spill_bytes" -> a.spill, "gc_ms" -> a.gcMs, "run_ms" -> a.runMs)
    })
    out.put("progress", progress.synchronized(progress.toSeq))
  }
}

object Trace {
  val Prop = "pipebench.span"

  final class Acc {
    var jobs, stages, tasks = 0L
    var inputBytes, inputRecords, outputBytes, outputRecords = 0L
    var shuffleWrite, shuffleRead, spill, gcMs, runMs = 0L
  }

  /** Rolls jobs, stages and task metrics up by span (-1: no span open). */
  final class SpanListener extends SparkListener {
    val acc = mutable.Map[Int, Acc]()
    private val stageSpan = mutable.Map[Int, Int]()
    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(Prop))).fold(-1)(_.toInt)
    private def a(span: Int) = acc.getOrElseUpdate(span, new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      a(s).jobs += 1
      e.stageInfos.foreach(si => stageSpan.getOrElseUpdate(si.stageId, s))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = spanOf(e.properties)
      stageSpan(e.stageInfo.stageId) = s
      a(s).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val x = a(stageSpan.getOrElse(e.stageId, -1))
      x.tasks += 1
      if (m != null) {
        x.inputBytes += m.inputMetrics.bytesRead
        x.inputRecords += m.inputMetrics.recordsRead
        x.outputBytes += m.outputMetrics.bytesWritten
        x.outputRecords += m.outputMetrics.recordsWritten
        x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        x.spill += m.diskBytesSpilled
        x.gcMs += m.jvmGCTime
        x.runMs += m.executorRunTime
      }
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
