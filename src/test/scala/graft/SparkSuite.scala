package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per suite, lazily built).
  * Uses the canonical [[GraftSession]] config so suites exercise the
  * engine posture (extensions + AQE sizing), with a small pre-coalesce
  * width — test data is tiny and AQE coalesces anyway.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(
    cores = 4, partitions = 4, initialPartitions = 32,
    appName = getClass.getSimpleName)

  val sfDir = "/root/testdata/sf0.001"

  /** Catalyst's broadcast threshold — also the one switch of every
    * broadcast-small driver-side path (`shims.broadcastSmall`); -1 turns
    * them all off.
    */
  val BroadcastThreshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Run `body` with the given session confs set, then restore each key's
    * previous value (or unset it if it had none) — even if `body` throws.
    */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
