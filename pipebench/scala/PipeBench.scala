package pipebench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.{GraftSession, SparkEntry}
import graft.pipeline.{Bronze, Gold, OpenAqChecks, OpenAqModels, OpenAqPipeline, Schemas}
import graft.quality.Checks

/** Closed-loop client of the benchmark: one thread calls the public
  * functions of `graft.pipeline`, `graft.quality` and the query registry,
  * one op after the other, and writes what it measured as one JSON
  * document. Medians, ratios and self times are derived from that document
  * by `pipebench/metrics.py`.
  *
  * Untimed work (warm-up, restoring history, row counts) happens outside
  * the measured interval of an op. The untraced mode registers no
  * listener and opens no span. The traced mode runs every scenario once
  * with spans around each call into a layer and the listeners of
  * [[Trace]], so that one traced run yields every per-layer metric.
  */
object PipeBench {

  final case class Conf(workload: String, lake: String, tables: String, work: String,
                        seconds: Double, trace: Boolean, out: String, cores: Int,
                        seed: Long, history: Int)

  /** The timed workloads; the traced run also covers `registry_mix`. */
  val Workloads = Seq("full_reload", "daily_increment")

  /** The registry subset named by the open items this benchmark serves. */
  val RegistryQueries = Seq(
    "t2_streaming_merge", "t10_streaming_components", "t11_streaming_asof",
    "t12_streaming_bm25", "t14_streaming_ivfpq", "x_graph_e2e",
    "x_pagerank_weighted_bucketed", "x_ann_ivfpq", "x_ann_ivfpq_stored",
    "x_dedup_resolution", "x_semantic_dedup", "q_pipeline_e2e")

  /** `OpenAqPipeline`'s raw-measurements clustering keys (private there),
    * repeated so that the traced run writes bronze exactly as `recover`. */
  private val MeasurementsCluster = Seq("_audit_sensor_id", "_audit_extracted_at")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val conf = Conf(kv("workload"), kv("lake"), kv("tables"), kv("work"),
      kv("seconds").toDouble, kv("trace") == "1", kv("out"), kv("cores").toInt,
      kv("seed").toLong, kv("history").toInt)
    require(Workloads.contains(conf.workload), s"unknown workload ${conf.workload}")
    val out = new Json
    out.put("workload", conf.workload)
    if (conf.trace) runTraced(conf, out) else runTimed(conf, out)
    out.put("rss_hwm_kb", vmHwmKb())
    Files.writeString(Paths.get(conf.out), out.render)
  }

  def newSession(conf: Conf): SparkSession = {
    val s = GraftSession.configure(
      SparkSession.builder().master(s"local[${conf.cores}]").appName("pipebench")
        .config("spark.local.dir", s"${conf.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse"),
      conf.cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---------------------------------------------------------------- lake

  /** The generated lake: its day directories, in order, and the instant
    * the freshness check is judged at. */
  final class Lake(val root: String) {
    private val manifest = Files.readString(Paths.get(root, "manifest.json"))
    val days: Seq[String] =
      "\"date\": \"([0-9-]+)\"".r.findAllMatchIn(manifest).map(_.group(1)).toSeq
    val asOf: String = "\"as_of\": \"([^\"]+)\"".r.findFirstMatchIn(manifest).get.group(1)

    private def glob(kind: String, idx: Seq[Int]): String = {
      val ds = idx.map(i => days(i).replace('-', '/'))
      val alt = if (ds.size == 1) ds.head else ds.mkString("{", ",", "}")
      s"$root/$kind/$alt/*.ndjson"
    }
    def locations(idx: Seq[Int]): String = glob("locations_json", idx)
    def measurements(idx: Seq[Int]): String = glob("measurements_json", idx)

    def files(idx: Seq[Int]): Seq[Path] = for {
      kind <- Seq("locations_json", "measurements_json")
      i <- idx
      f <- listFiles(Paths.get(root, kind, days(i).replace('-', '/')))
      if f.toString.endsWith(".ndjson")
    } yield f
    def bytes(idx: Seq[Int]): Long = files(idx).map(Files.size).sum
    def lines(idx: Seq[Int]): Long = files(idx).map(p => Files.readAllLines(p).size.toLong).sum
  }

  // ---------------------------------------------------------------- ops

  /** The whole check suite: staging and range checks over the silver
    * views, mart checks over the materialized gold tables, freshness over
    * the bronze source. */
  def checkSuite(spark: SparkSession, m: OpenAqModels, dir: String,
                 asOf: String): Seq[(String, Seq[(String, DataFrame)])] = Seq(
    "staging" -> OpenAqChecks.staging(m.stgLocations, m.stgSensors, m.stgMeasurements),
    "valid_ranges" -> OpenAqChecks.validRanges(m.validMeasurements),
    "marts" -> OpenAqChecks.marts(spark.read.parquet(s"$dir/gold/dim_locations"),
      spark.read.parquet(s"$dir/gold/mart_location_air_quality"),
      spark.read.parquet(s"$dir/gold/mart_location_weather")),
    "freshness" -> OpenAqChecks.freshness(
      spark.read.parquet(s"$dir/bronze/raw_measurements"),
      lit(java.sql.Timestamp.valueOf(asOf))))

  /** full_reload: the disaster-recovery run over the whole lake into `dir`,
    * then the check suite. With a trace, `recover` is called as its parts
    * (2x `Bronze.overwritePartitioned`, then `transform` = models + dim
    * write + 2x `writeMart`), in the same order, each in its own span. */
  def fullReload(spark: SparkSession, lk: Lake, dir: String,
                 t: Trace): (Seq[(String, Long)], OpenAqModels) = {
    val all = lk.days.indices
    val m = if (t == null) {
      OpenAqPipeline.recover(spark, lk.locations(all), lk.measurements(all),
        s"$dir/bronze", s"$dir/gold")
    } else t.span("recover") {
      t.span("bronze.overwrite.locations") {
        Bronze.overwritePartitioned(
          Bronze.readNdjson(spark, Schemas.locationsEnvelope, lk.locations(all)),
          s"$dir/bronze/raw_locations")
      }
      t.span("bronze.overwrite.measurements") {
        Bronze.overwritePartitioned(
          Bronze.readNdjson(spark, Schemas.measurementsEnvelope, lk.measurements(all)),
          s"$dir/bronze/raw_measurements", clusterBy = MeasurementsCluster)
      }
      t.span("transform") {
        val m = OpenAqPipeline.models(spark.read.parquet(s"$dir/bronze/raw_locations"),
          spark.read.parquet(s"$dir/bronze/raw_measurements"))
        t.silver(m)
        t.span("gold.dim") {
          m.dimLocations.write.mode("overwrite").parquet(s"$dir/gold/dim_locations")
        }
        t.span("gold.mart_air_quality") {
          OpenAqPipeline.writeMart(m.martAirQuality, s"$dir/gold/mart_location_air_quality")
        }
        t.span("gold.mart_weather") {
          OpenAqPipeline.writeMart(m.martWeather, s"$dir/gold/mart_location_weather")
        }
        m
      }
    }
    val suite = checkSuite(spark, m, dir, lk.asOf)
    val res = if (t == null) Checks.run(suite.flatMap(_._2))
      else t.span("checks") {
        suite.flatMap { case (name, checks) => t.span(s"checks.$name")(Checks.run(checks)) }
      }
    (res, m)
  }

  /** daily_increment: one scheduled daily run over lake day `day` on the
    * lakehouse in `dir`: ingest, models over bronze, dim overwrite, and a
    * partition-scoped refresh of both marts. With a trace, `ingest` is
    * called as its parts (count-gated `Bronze.appendPartitioned`,
    * locations then measurements). */
  def dailyOp(spark: SparkSession, lk: Lake, day: Int, dir: String,
              t: Trace): OpenAqModels = {
    val bronze = s"$dir/bronze"
    val gold = s"$dir/gold"
    if (t == null) {
      OpenAqPipeline.ingest(spark, lk.locations(Seq(day)), lk.measurements(Seq(day)), bronze)
    } else t.span("ingest") {
      val rawLoc = Bronze.readNdjson(spark, Schemas.locationsEnvelope, lk.locations(Seq(day)))
      val rawMeas = Bronze.readNdjson(spark, Schemas.measurementsEnvelope,
        lk.measurements(Seq(day)))
      t.span("bronze.ingest.locations") {
        if (rawLoc.count() > 0) Bronze.appendPartitioned(rawLoc, s"$bronze/raw_locations")
      }
      t.span("bronze.ingest.measurements") {
        if (rawMeas.count() > 0) Bronze.appendPartitioned(rawMeas, s"$bronze/raw_measurements",
          clusterBy = MeasurementsCluster)
      }
    }
    val m = OpenAqPipeline.models(spark.read.parquet(s"$bronze/raw_locations"),
      spark.read.parquet(s"$bronze/raw_measurements"))
    if (t != null) t.span("models")(t.silver(m))
    def step(name: String)(body: => Unit): Unit = if (t == null) body else t.span(name)(body)
    step("gold.dim") {
      m.dimLocations.write.mode("overwrite").parquet(s"$gold/dim_locations")
    }
    for ((name, key, pivot, mart) <- Seq(
        ("gold.refresh_air_quality", "air_quality_record_id",
          Gold.martAirQuality _, "mart_location_air_quality"),
        ("gold.refresh_weather", "weather_record_id", Gold.martWeather _,
          "mart_location_weather"))) step(name) {
      val before = if (t == null) Map.empty[String, Set[String]] else partitions(s"$gold/$mart")
      OpenAqPipeline.refreshMart(spark, m.validMeasurements, m.sensorsEnriched, key, pivot,
        s"$gold/$mart")
      if (t != null) t.note(s"$name.partitions_rewritten",
        changedPartitions(before, partitions(s"$gold/$mart")))
    }
    m
  }

  /** registry_mix: one pass over the registry subset in `order`, each
    * result written to `sinkDir/<query>` for the oracle. */
  def registryPass(spark: SparkSession, tables: String, order: Seq[String], sinkDir: String,
                   t: Trace): Unit = order.foreach { q =>
    val layer = if (q.startsWith("t")) "stream" else if (q.startsWith("x")) "ext" else "query"
    t.span(s"$layer.$q") {
      SparkEntry.queries(q)(spark, tables).write.mode("overwrite").parquet(s"$sinkDir/$q")
    }
  }

  // ---------------------------------------------------------------- state

  private val dirSeq = new java.util.concurrent.atomic.AtomicInteger

  /** One workload's lakehouse state inside a session. */
  final class Workload(val conf: Conf, val spark: SparkSession) {
    val lk = new Lake(conf.lake)
    def freshDir(): String = s"${conf.work}/${conf.workload}${dirSeq.incrementAndGet()}"

    // daily_increment: the history snapshot, the lakehouse the ops update,
    // and the lake days applied to it since the snapshot
    private var snapshot: String = _
    var current: String = _
    var applied: Seq[Int] = Nil
    def history: Seq[Int] = 0 until conf.history

    def loadHistory(): Unit = {
      snapshot = freshDir()
      OpenAqPipeline.recover(spark, lk.locations(history), lk.measurements(history),
        s"$snapshot/bronze", s"$snapshot/gold")
      restore()
    }
    def restore(): Unit = {
      if (current != null) deleteTree(Paths.get(current))
      current = freshDir()
      copyTree(Paths.get(snapshot), Paths.get(current))
      applied = Nil
    }
    /** Back to the history snapshot once every lake day has been applied,
      * so that every op refreshes after the same amount of history. */
    def ensureUnseenDay(): Unit = if (conf.history + applied.size >= lk.days.size) restore()
    def nextDay(): Int = {
      val d = conf.history + applied.size
      applied = applied :+ d
      d
    }

    /** One op, untraced; returns what the oracle needs to check it and the
      * lake days it consumed. */
    def op(): (Map[String, Any], Seq[Int]) = conf.workload match {
      case "full_reload" =>
        val dir = freshDir()
        val (checks, _) = fullReload(spark, lk, dir, null)
        (Map("dir" -> dir, "checks" -> checks.toMap), lk.days.indices)
      case "daily_increment" =>
        val d = nextDay()
        dailyOp(spark, lk, d, current, null)
        (Map("dir" -> current, "applied" -> applied), Seq(d))
    }
  }

  // ---------------------------------------------------------------- runs

  /** Untimed ops before the first timed op: the JVM is still compiling
    * hot paths during the first ops after a start. */
  val WarmUpOps = 2

  /** Set up once: start the session, load the history (daily_increment)
    * and run the [[WarmUpOps]] untimed ops; `setup_s` is the time from the
    * JVM's start to the end of that. Then timed ops until `seconds` have
    * passed (at least one). */
  def runTimed(conf: Conf, out: Json): Unit = {
    val w = new Workload(conf, newSession(conf))
    if (conf.workload == "daily_increment") w.loadHistory()
    for (_ <- 1 to WarmUpOps) {
      if (conf.workload == "daily_increment") w.ensureUnseenDay()
      val (warm, _) = w.op()
      if (conf.workload == "full_reload") deleteTree(Paths.get(warm("dir").toString))
    }
    if (conf.workload == "daily_increment") w.restore()
    out.put("setup_s", (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)

    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val deadline = System.nanoTime() + (conf.seconds * 1e9).toLong
    while (ops.isEmpty || System.nanoTime() < deadline) {
      if (conf.workload == "daily_increment") w.ensureUnseenDay()
      val w0 = System.nanoTime(); val c0 = processCpuNs(); val b0 = fsBytesWritten()
      val rec = try { val (r, days) = w.op(); r ++ Map("ok" -> true, "days" -> days) }
        catch { case e: Exception => Map("ok" -> false, "error" -> e.toString) }
      ops += rec ++ Map("wall_s" -> (System.nanoTime() - w0) / 1e9,
        "cpu_s" -> (processCpuNs() - c0) / 1e9, "bytes_written" -> (fsBytesWritten() - b0))
      // full_reload builds a fresh lakehouse per op; the oracle reads the last
      if (conf.workload == "full_reload" && ops.size > 1)
        ops(ops.size - 2).get("dir").foreach(d => deleteTree(Paths.get(d.toString)))
    }
    out.put("ops", ops.toSeq.map(o => o.get("days").fold(o) { d =>
      o + ("lake_bytes" -> w.lk.bytes(d.asInstanceOf[Seq[Int]])) }))
    w.spark.stop()
  }

  /** Every scenario once, traced. daily_increment goes first: its history
    * load warms the JVM for the pipeline code, and it also runs one
    * untraced op right before its traced op, for the trace overhead. The
    * registry pass is the JVM's first pass over those queries. */
  def runTraced(conf: Conf, out: Json): Unit = {
    val spark = newSession(conf)
    val trace = new Trace(spark)
    val per = mutable.LinkedHashMap[String, Any]()
    for (sc <- Seq("daily_increment", "full_reload", "registry_mix")) {
      val w = new Workload(conf.copy(workload = sc), spark)
      val untraced = if (sc != "daily_increment") None else {
        w.loadHistory()
        w.op()
        val t0 = System.nanoTime()
        w.op()
        Some((System.nanoTime() - t0) / 1e9)
      }
      val opId = trace.beginOp()
      val rec: Map[String, Any] = sc match {
        case "full_reload" =>
          val dir = w.freshDir()
          val (checks, m) = trace.span("op")(fullReload(spark, w.lk, dir, trace))
          trace.counts(m, s"$dir/bronze")
          Map("dir" -> dir, "checks" -> checks.toMap,
            "lake_bytes" -> w.lk.bytes(w.lk.days.indices),
            "lake_lines" -> w.lk.lines(w.lk.days.indices))
        case "daily_increment" =>
          val d = w.nextDay()
          val m = trace.span("op")(dailyOp(spark, w.lk, d, w.current, trace))
          trace.counts(m, s"${w.current}/bronze")
          Map("dir" -> w.current, "applied" -> w.applied, "lake_bytes" -> w.lk.bytes(Seq(d)),
            "lake_lines" -> w.lk.lines(Seq(d)))
        case "registry_mix" =>
          val order = new scala.util.Random(conf.seed).shuffle(RegistryQueries)
          val results = s"${conf.work}/registry_results"
          trace.span("op")(registryPass(spark, conf.tables, order, results, trace))
          Map("order" -> order, "results" -> results,
            "oracle_sql" -> RegistryQueries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
      }
      trace.endOp()
      per(sc) = rec ++ trace.notesFor(opId) ++ Map("op" -> opId) ++
        untraced.map(u => "untraced_wall_s" -> u)
    }
    org.apache.spark.PipeBenchBus.drain(spark.sparkContext)
    out.put("cores", conf.cores)
    out.put("scenarios", per)
    trace.dump(out)
    spark.stop()
  }

  // ---------------------------------------------------------------- files

  private def listFiles(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }

  /** Data files of a day-partitioned table, by partition directory. */
  def partitions(table: String): Map[String, Set[String]] =
    listFiles(Paths.get(table)).filter(_.getFileName.toString.endsWith(".parquet"))
      .groupBy(_.getParent.getFileName.toString)
      .map { case (k, v) => k -> v.map(_.getFileName.toString).toSet }

  def changedPartitions(before: Map[String, Set[String]], after: Map[String, Set[String]]): Int =
    after.count { case (k, v) => !before.get(k).contains(v) }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(Comparator.reverseOrder[Path]()).iterator.asScala.foreach(Files.delete(_))
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally s.close()
  }

  // ---------------------------------------------------------------- process counters

  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Bytes written through Hadoop's local file system by every thread of
    * this JVM: parquet data files, checksums, and streaming logs. */
  def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def vmHwmKb(): Long = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}
