package graft

import org.scalatest.funsuite.AnyFunSuite

/** `DumpPlans.normalize`: PLANS.md must not change when only the run
  * does — ids, call-site lines and scratch paths are made fixed.
  */
class DumpPlansSpec extends AnyFunSuite {

  test("normalize renumbers ids in order of first appearance and masks run-dependent tokens") {
    val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")
    val plan = Seq(
      "Output [2]: [doc_id#3720L, label#4606L]",
      "Condition : (label#4606L < prev#17L) plan_id=912",
      "Arguments: [doc_id#3720L], MapPartitionsRDD[661] at checkpointEager at DedupOps.scala:620, ExistingRDD",
      "Arguments: MapPartitionsRDD[802], MapPartitionsRDD[661] plan_id=12 plan_id=912",
      "Location: InMemoryFileIndex [file:/dev/shm/graft_ivm5920460533240470302/mart]",
      "Location: InMemoryFileIndex [file:/dev/shm/graft-bob/graft_bucketed/orders]",
      s"Location: InMemoryFileIndex [file:$tmp/graft-alice/graft_postings/postings, file:$tmp/graft_stream_ivm42/mart]",
      "Location: InMemoryFileIndex [file:/data/sf0.01/orders.parquet]").mkString("\n")
    val want = Seq(
      "Output [2]: [doc_id#1L, label#2L]",
      "Condition : (label#2L < prev#3L) plan_id=1",
      "Arguments: [doc_id#1L], MapPartitionsRDD[1] at checkpointEager at DedupOps.scala:<line>, ExistingRDD",
      "Arguments: MapPartitionsRDD[2], MapPartitionsRDD[1] plan_id=2 plan_id=1",
      "Location: InMemoryFileIndex [file:<scratch>/graft_ivm<tmp>/mart]",
      "Location: InMemoryFileIndex [file:<scratch>/graft_bucketed/orders]",
      "Location: InMemoryFileIndex [file:<scratch>/graft_postings/postings, file:<scratch>/graft_stream_ivm<tmp>/mart]",
      "Location: InMemoryFileIndex [file:/data/sf0.01/orders.parquet]").mkString("\n")
    assert(DumpPlans.normalize(plan) == want)
    assert(DumpPlans.normalize(want) == want, "normalizing twice changes nothing")
  }
}
