package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.shims

import graft.SparkSuite

/** `OpenAqPipeline.ingest` parses each lake input once: a limit-1 probe
  * gates the write and the loaded row count comes from the write itself.
  */
class IngestSpec extends SparkSuite {

  private def measurementLine(i: Int): String =
    s"""{"data": {"value": ${i % 50}.5, "parameter": {"id": 2, "name": "pm25"}, """ +
      s""""period": {"interval": "01:00:00", "datetimeFrom": {"utc": "2026-01-01T${"%02d".format(i % 24)}:00:00Z"}}, """ +
      s""""flagInfo": {"hasFlags": false}, "coverage": {"expectedCount": 1, "observedCount": 1}}, """ +
      s""""_audit_run_id": "run1", "_audit_sensor_id": ${1000 + i % 97}, """ +
      s""""_audit_logical_date": "2026-01-01", "_audit_extracted_at": "2026-01-02T05:00:00+00:00", """ +
      s""""_audit_gcs_filename": "measurements_$i.ndjson"}"""

  private def locationLine(i: Int): String =
    s"""{"data": {"id": $i, "name": "Station $i", "timezone": "America/New_York", """ +
      s""""sensors": [{"id": ${1000 + i}, "parameter": {"id": 2, "name": "pm25"}}]}, """ +
      s""""_audit_run_id": "run1", "_audit_logical_date": "2026-01-01", """ +
      s""""_audit_extracted_at": "2026-01-02T05:00:00+00:00", "_audit_source": "openaq", """ +
      s""""_audit_gcs_filename": "locations_$i.ndjson"}"""

  private def write(dir: Path, name: String, lines: Seq[String]): Long = {
    val f = dir.resolve(name)
    Files.write(f, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.size(f)
  }

  /** Input bytes read by the jobs `body` runs (tagged by a job group). */
  private def inputBytes(body: => Unit): Long = {
    val sc = spark.sparkContext
    val group = s"ingest-spec-${System.nanoTime}"
    val stages = mutable.Set[Int]()
    var bytes = 0L
    val l = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          stages += e.stageInfo.stageId
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (stages(e.stageId) && e.taskMetrics != null)
          bytes += e.taskMetrics.inputMetrics.bytesRead
      }
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "ingest spec")
    try body
    finally {
      sc.clearJobGroup()
      shims.waitForListenerBus(sc)
      sc.removeSparkListener(l)
    }
    l.synchronized(bytes)
  }

  test("ingest reads each input about once and returns the loaded row counts") {
    val lake = Files.createTempDirectory("graft_ingest_lake")
    val locDir = Files.createDirectories(lake.resolve("locations"))
    val measDir = Files.createDirectories(lake.resolve("measurements"))
    val lakeBytes =
      write(locDir, "part0.ndjson", (0 until 600).map(locationLine)) +
        write(measDir, "part0.ndjson", (0 until 2000).map(measurementLine)) +
        write(measDir, "part1.ndjson", (2000 until 4000).map(measurementLine))
    val bronze = Files.createTempDirectory("graft_ingest_bronze").toString
    var loaded = (0L, 0L)
    val read = inputBytes {
      loaded = OpenAqPipeline.ingest(spark, s"$locDir/*.ndjson", s"$measDir/*.ndjson", bronze)
    }
    assert(loaded == ((600L, 4000L)))
    assert(spark.read.parquet(s"$bronze/raw_locations").count() == 600)
    assert(spark.read.parquet(s"$bronze/raw_measurements").count() == 4000)
    // a count-then-write ingest reads every input twice (ratio >= 2)
    val ratio = read.toDouble / lakeBytes
    assert(ratio >= 1.0 && ratio < 1.5, s"ingest read $read bytes of a $lakeBytes-byte lake")
  }

  test("a zero-row input creates no bronze table") {
    val lake = Files.createTempDirectory("graft_ingest_empty")
    val locDir = Files.createDirectories(lake.resolve("locations"))
    val measDir = Files.createDirectories(lake.resolve("measurements"))
    // blank and corrupt lines only: bronze rejects every line
    write(locDir, "part0.ndjson", Seq("", "{not json", """{"_audit_run_id": "no data"}"""))
    write(measDir, "part0.ndjson", (0 until 3).map(measurementLine))
    val bronze = Files.createTempDirectory("graft_ingest_bronze").toString
    assert(OpenAqPipeline.ingest(spark, s"$locDir/*.ndjson", s"$measDir/*.ndjson", bronze) ==
      ((0L, 3L)))
    assert(!Files.exists(java.nio.file.Paths.get(bronze, "raw_locations")))
    assert(spark.read.parquet(s"$bronze/raw_measurements").count() == 3)
  }
}
