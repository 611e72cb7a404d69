package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** The plan recorder, in plan-only mode (`spark.graft.planOnly`), so
  * checkpoint-backed queries show their full derivation. Two uses:
  *
  *   sbt "runMain graft.DumpPlans"
  *     regenerates PLANS.md: the committed `explain formatted` record for
  *     the headline queries, so plan shapes are reviewable without
  *     running the engine. Run after changing any listed query.
  *
  *   sbt "runMain graft.DumpPlans <suffix> <q1,q2,...> [tag]"
  *     writes `plans/<tag>/<query>_<suffix>.txt` (tag defaults to r16) —
  *     the before/after evidence an optimization round commits
  *     (OPTIMIZATION_r16.md).
  *
  * Queries run against SPARK_GRAFT_SF_DIR (default sf0.01), as in Bench.
  */
object DumpPlans {

  /** name → one-line note on what the plan should show. */
  val headline: Seq[(String, String)] = Seq(
    "q1_agg" -> ("single scan → partial agg → one exchange → final agg; " +
      "ReadSchema carries only the 5 needed columns"),
    "q3_shipping_priority" -> ("fact joins keyed on the fact; customer " +
      "side a broadcast semi; TakeOrdered replaces a global sort"),
    "q2_min_supplier" -> ("part filter broadcast BELOW the distinct (the " +
      "dedup exchange carries the pruned slice); window min, no self-join"),
    "q21_waiting_supplier" -> ("EXISTS/NOT EXISTS as LeftSemi/LeftAnti; " +
      "all three lineitem legs exchange on l_orderkey once each"),
    "j1_enrich_left_join" -> "two BroadcastHashJoins, zero exchanges on the fact",
    "w1_latest_dedup" -> "one exchange for the window; no residual sort after AQE",
    "x_corpus_e2e" -> ("whole curation chain fused to ≤2 hash exchanges; " +
      "gate/redact/split are projections in the same stages"),
    "x_lsh_candidates" -> ("signature agg (one exchange) → band explode → " +
      "equi-join on band key — no cross product anywhere"),
    "x_asof_join" -> ("union + single window sort — the 1-exchange as-of " +
      "plan, not a per-key non-equi join"),
    "x_ngram_familiarity" -> ("native char_ngrams explode → partial-agg " +
      "absorbed; bounded trigram counts broadcast back"),
    "x_edit_distance_pairs" -> ("inverted-index candidate join, then " +
      "banded levenshtein as a filter — verification never widens the plan"),
    "x_triangle_stats" -> ("closure = broadcast adjacency arrays + " +
      "codegen'd sorted_intersect_count over edge rows (SHUFFLE_HASH " +
      "wedge pipeline past the edge limit) — the wedge stream is never " +
      "materialized; stat branches read the checkpointed edge list, not " +
      "the upstream self-join"),
    "x_pagerank" -> ("rounds materialize through stats-carrying " +
      "checkpoints, so the visible (last) round auto-broadcasts the " +
      "node-sized rank scan from measured stats — no hints; the edge " +
      "stream's only exchange per round is the groupBy(dst)"),
    "x_global_rownum" -> ("the only data-sized window is partitioned by " +
      "__bk (parallel per-bucket sorts); the empty-PARTITION-BY prefix " +
      "sum runs over the buckets-sized count table; offsets broadcast " +
      "back — one data exchange total"),
    "x_bucketed_join" -> ("both scans Bucketed: true — the join keys' " +
      "hash layout comes from disk, so the only exchange in the plan " +
      "belongs to the downstream aggregate, not the join"),
    "x_bm25_stored" -> ("postings scan carries PartitionFilters on " +
      "tok_band (static pruning to the query terms' dirs) + pushed " +
      "token filter; term stats broadcast; TakeOrdered top-k. Bench " +
      "reports this family's build and probe phases separately " +
      "(BENCH_LOCAL stored_splits) — the probe is the recurring cost"),
    "x_lsh_stored" -> ("corpus band table scans Bucketed: true — the " +
      "near-dup candidate join reads hash(bkey) off disk, no " +
      "corpus-side exchange or sort; only the fresh batch shuffles"),
    "x_tfidf_cosine_stored" -> ("weight table scans Bucketed: true; at " +
      "this dump's sf the tiny table auto-broadcasts one join leg, past " +
      "the threshold the self-join is a bucketed SMJ with no " +
      "exchange/sort on either leg (RetrievalSpec pins that shape with " +
      "broadcast disabled); norms come from the side table, so the " +
      "probe never re-derives tf/df"),
    "x_ann_ivfpq" -> ("every model table (coarse cells, sub-codebooks, " +
      "query distance tables) joins BROADCAST against the code stream; " +
      "the only data-sized exchanges are the keyed argmin/ADC " +
      "aggregations — no cartesian product, no corpus sort"),
    "x_ivm_merge" -> ("the base state scan feeds two BroadcastHashJoins " +
      "(anti for untouched keys, semi for touched) and is never " +
      "exchanged; the only shuffles belong to the delta partials and " +
      "the touched-key re-agg"),
    "x_asof_native" -> ("the custom whole-operator plan: AsOfJoin exec " +
      "over two hash-clustered sorted children — one exchange + sort " +
      "per side at each side's own row width, no Union, no Window, " +
      "O(1) merge state per partition; compare x_asof_join's " +
      "union+window spelling above"),
    "x_components_incremental" -> ("the standing label table appears " +
      "exactly twice (endpoint-lookup join + final remap union) and is " +
      "never inside a loop; the contraction solve's inputs are " +
      "delta-sized, and every checkpoint leaf carries measured stats — " +
      "finite sizeInBytes, no join-product BigInt blow-up (the r9 " +
      "driver-planning hazard; see SCALE.md)")
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // plan-inspection mode: eager-contract queries (stats checkpoints)
    // build WITHOUT running jobs, and explain shows the full
    // unmaterialized derivation — see shims.planOnly
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[8]")
        .config(org.apache.spark.sql.graft.shims.PlanOnlyConf, "true"), 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted")).trim
    if (args.isEmpty) writePlansMd(sfDir, plan)
    else {
      val suffix = args(0)
      val names = args.lift(1).map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
      val tag = args.lift(2).getOrElse("r16")
      val dir = Paths.get(s"plans/$tag")
      Files.createDirectories(dir)
      names.foreach { name =>
        Files.writeString(dir.resolve(s"${name}_$suffix.txt"), plan(name) + "\n")
        println(s"wrote plans/$tag/${name}_$suffix.txt")
      }
    }
    spark.stop()
  }

  private def writePlansMd(sfDir: String, plan: String => String): Unit = {
    val sb = new StringBuilder
    sb ++= "# PLANS — committed `explain formatted` for the headline queries\n\n"
    sb ++= "Generated by `graft.DumpPlans` (re-run after changing a listed\n"
    sb ++= s"query; data dir $sfDir). The one-line note above each plan states\n"
    sb ++= "the property the plan must keep — the same properties PlanSpec and\n"
    sb ++= "ShuffleBudgetSpec enforce in CI. AQE nodes appear as the initial\n"
    sb ++= "(pre-runtime) plan. Dumped in plan-only mode (spark.graft.planOnly):\n"
    sb ++= "eager stats checkpoints are skipped, so checkpoint-backed queries\n"
    sb ++= "show their FULL derivation here where production runs read\n"
    sb ++= "materialized blocks (Scan ExistingRDD) at the checkpoint cuts.\n"
    headline.foreach { case (name, note) =>
      sb ++= s"\n## $name\n\n$note\n\n```\n"
      sb ++= plan(name)
      sb ++= "\n```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headline.size} plans)")
  }
}
