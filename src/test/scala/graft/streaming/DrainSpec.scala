package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import graft.operators.Merge

/** The drain runner's scoped settings and the empty-result probe that
  * every drain's read-back goes through.
  */
class DrainSpec extends SparkSuite {
  import spark.implicits._

  private val Width = "spark.sql.shuffle.partitions"
  private val Aqe = "spark.sql.adaptive.enabled"

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  test("the runner clamps width and AQE during a drain and restores both after it") {
    val work = Files.createTempDirectory("graft_drain_run").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    withConf(Width -> "5", Aqe -> "true") {
      Drain.run(Drain.splitStream(spark.range(6).toDF("id"), s"$work/src"), "append") {
        (_, _) => seen.add((spark.conf.get(Width), spark.conf.get(Aqe)))
      }
      assert(spark.conf.get(Width) == "5" && spark.conf.get(Aqe) == "true")
    }
    // 3 part files at one file per trigger → 3 micro-batches
    assert(seen.size == 3)
    assert(seen.toArray.toSet == Set(("8", "false")))
  }

  test("the runner restores both settings after a drain whose sink throws, and the failure surfaces") {
    val work = Files.createTempDirectory("graft_drain_fail").toString
    withConf(Width -> "5", Aqe -> "true") {
      val e = intercept[Exception] {
        Drain.run(Drain.splitStream(spark.range(3).toDF("id"), s"$work/src"), "append") {
          (_, _) => throw new IllegalStateException("sink failed on purpose")
        }
      }
      assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains("sink failed on purpose"))),
        s"the sink's exception is not in the cause chain of $e")
      assert(spark.conf.get(Width) == "5" && spark.conf.get(Aqe) == "true")
    }
  }

  test("the empty probe: no directory, a marker-only directory, a day-partitioned mart, a plain mart") {
    val work = Files.createTempDirectory("graft_drain_probe").toString
    assert(!Drain.hasData(spark, s"$work/none"))

    val markerOnly = Files.createDirectories(java.nio.file.Paths.get(work, "marker_only"))
    Files.write(markerOnly.resolve("_applied_batch"), "0".getBytes("UTF-8"))
    assert(!Drain.hasData(spark, markerOnly.toString))

    Merge.overwriteDays(Seq((1L, java.sql.Date.valueOf("2026-01-01")))
      .toDF("k", "__day"), s"$work/days")
    assert(Drain.hasData(spark, s"$work/days"))

    AtomicSwap.commit(Seq((1L, "a")).toDF("k", "v"), s"$work/plain", 0L)
    assert(Drain.hasData(spark, s"$work/plain"))
  }

  test("the runner deletes its checkpoint dir after a drain that succeeds and one whose sink throws") {
    // the runner's scratch lands where DrainWork puts every drain's dir
    val probe = java.nio.file.Paths.get(DrainWork.tempDir("drainspec_base"))
    val base = probe.getParent
    Files.delete(probe)
    def drainDirs(): Set[String] = {
      val ls = Files.list(base)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_drain")).toSet
      finally ls.close()
    }
    val work = Files.createTempDirectory("drainspec_cleanup").toString
    val before = drainDirs()
    val during = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]()
    Drain.run(Drain.splitStream(spark.range(3).toDF("id"), s"$work/ok"), "append") {
      (_, _) => during.add(drainDirs() -- before)
    }
    intercept[Exception] {
      Drain.run(Drain.splitStream(spark.range(3).toDF("id"), s"$work/fail"), "append") {
        (_, _) =>
          during.add(drainDirs() -- before)
          throw new IllegalStateException("sink failed on purpose")
      }
    }
    // each drain's own dir existed while it ran, under the listed base
    // (3 batches, then 1 that fails)
    val seen = during.asScala.toSeq
    assert(seen.size == 4 && seen.forall(_.size == 1), seen)
    assert(drainDirs() -- before == Set.empty)
  }
}
