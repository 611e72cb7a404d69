package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Round-over-round bench latch (r7 VERDICT #7): the five >1.5×
  * regressions in round 7 were only named at judging because nothing
  * in-round compared fresh numbers against the previous driver
  * snapshot. This spec does that comparison in CI, same sf only.
  *
  * The pairing is ordered in time by each snapshot's `"t0"` (suite
  * start, epoch ms). `BENCH_LOCAL.json` is the standing idle reference,
  * not the latest run: since r14 a full `graft.Bench` run replaces it
  * only when faster (or forced, [[Bench.mayOverwriteReference]]); a
  * slower run lands in a `BENCH_LOCAL.<t0>.json` side file. So the
  * local run under test is the newest full-run snapshot by `t0` among
  * `BENCH_LOCAL.json` and its side files at the reference's sf (never
  * the ONLY-filtered `BENCH_LOCAL_partial.json`; a side file from a run
  * at another sf, such as an sf1 sweep, is passed over), and the prior
  * is the highest-numbered
  * `BENCH_r*.json` whose `t0` precedes it. Judging the reference as
  * "now" against the newest driver file ran the comparison backwards
  * (r17 VERDICT #1): the r14 reference (2026-08-16) against r17
  * (2026-08-19) read the r15–r17 graph speedups as regressions,
  * `x_components_incremental` 1.55× and `x_graph_e2e` 1.56×.
  *
  * A query fails the latch when it grew >[[Bench.FlagRatio]]× AND by
  * >[[Bench.FlagAbsSeconds]] absolute (shared constants — this spec's
  * prose once drifted from Bench's code, r10 ADVICE; small queries
  * swing on ambient load alone, measured rep spreads of 4–9 s on the
  * same code). The failure message carries both times per offender so
  * the regression gets named in-round; rerun the offender under
  * QueryMetrics for the shuffle-volume delta.
  *
  * Skips (cancels) when either snapshot is missing, the local run has
  * no `t0`, no driver snapshot precedes it, or they ran at different
  * scale factors — a stale comparison is worse than none.
  */
class BenchRegressionSpec extends AnyFunSuite {

  /** A snapshot's suite start (epoch ms) from its unescaped `"t0"`.
    * Driver files from r10 on carry an ESCAPED copy of the stdout line
    * in their "tail" string, ahead of the real field; `\"t0\":` never
    * matches a pattern anchored on an unescaped quote (as in
    * [[Bench.sfLabelOf]]). Driver files before r10 carry no `t0`.
    */
  private def t0Of(json: String): Option[Long] =
    """"t0":\s*([0-9]+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)

  private def snapshot(p: Path): (Path, String) = (p, Files.readString(p))

  /** The local run under test among the full-run snapshots `runs`: the
    * newest by `t0` whose sf label matches `BENCH_LOCAL.json`'s (all of
    * them when there is no labelled reference). An other-sf side file
    * must not displace it, or the latch would cancel on "sf mismatch"
    * on every run until the file is deleted.
    */
  private def newestLocalRun(runs: Seq[(Path, String)]): Option[(Path, String)] = {
    val refSf = runs.collectFirst {
      case (p, s) if p.getFileName.toString == "BENCH_LOCAL.json" => Bench.sfLabelOf(s)
    }.flatten
    val atRefSf = refSf.fold(runs)(sf =>
      runs.filter { case (_, s) => Bench.sfLabelOf(s).exists(Bench.sameSfLabel(_, sf)) })
    atRefSf.maxByOption { case (_, s) => t0Of(s) }
  }

  test("no query grew past the flag thresholds vs the previous driver bench at the same sf") {
    val sideFile = """BENCH_LOCAL\.[0-9]+\.json""".r
    val localRuns = Using.resource(Files.list(Paths.get(".")))(_.iterator.asScala.toList)
      .filter { p =>
        val name = p.getFileName.toString
        name == "BENCH_LOCAL.json" || sideFile.matches(name)
      }
      .map(snapshot)
    assume(localRuns.nonEmpty, "no BENCH_LOCAL.json — run graft.Bench first")
    val (localPath, local) = newestLocalRun(localRuns).get
    val localT0 = t0Of(local)
    assume(localT0.nonEmpty, s"${localPath.getFileName} carries no t0 to order it by")

    val prior = (99 to 1 by -1).iterator.map(n => Paths.get(f"BENCH_r$n%02d.json"))
      .filter(Files.exists(_)).map(snapshot)
      .find { case (_, s) => t0Of(s).exists(_ < localT0.get) }
    assume(prior.nonEmpty,
      s"no committed BENCH_r*.json precedes ${localPath.getFileName} (t0 ${localT0.get})")
    val (priorPath, priorJson) = prior.get

    val localSf = Bench.sfLabelOf(local)
    val priorSf = Bench.sfLabelOf(priorJson)
    assume(localSf.zip(priorSf).exists { case (l, p) => Bench.sameSfLabel(l, p) },
      s"sf mismatch: local=$localSf prior=$priorSf")
    info(s"${localPath.getFileName} (t0 ${localT0.get}) vs ${priorPath.getFileName}")

    // the one parser Bench itself flags with (escaped-tail-safe) — the
    // band's self-exclusion below compares these maps for identity, so
    // the spec must not parse differently than bandRunsIn does
    val localQ = Bench.parseQueryTimes(local)
    val priorQ = Bench.parseQueryTimes(priorJson)
    assume(localQ.nonEmpty && priorQ.nonEmpty, "unparseable bench snapshots")
    // a SPARK_GRAFT_BENCH_ONLY-filtered sidecar ran with a fraction of
    // the suite's JIT warmup — its numbers aren't comparable
    assume(localQ.size * 2 >= priorQ.size,
      s"${localPath.getFileName} is a partial run (${localQ.size} of ${priorQ.size} queries)")

    // In-artifact burst arbitration (round 10, tightened round 11):
    // Bench re-measures any query reading >FlagRatio x its committed
    // time (and >FlagAbsSeconds over it) MIN-OF-3, alone, after the
    // whole suite, and records {ref, min, re} in the sidecar's
    // "flagged" block. A slow in-suite min whose ISOLATED re-measure is
    // back near the prior time is a proven environment burst /
    // cross-query contamination window, not a code regression — the
    // latch consumes that arbitration instead of failing on it.
    val remeasured: Map[String, Double] =
      """"([A-Za-z0-9_]+)":\{"ref":[0-9.eE+-]+,"min":[0-9.eE+-]+,"w":\[[0-9,]*\],"re":([0-9.eE+-]+)""".r
        .findAllMatchIn(local)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap

    // REFERENCE-BAND latch (r15 VERDICT #4): per-query threshold =
    // max(static floor, the query's own clean-window spread across the
    // committed reference + driver snapshot + sidecars — the same
    // collector Bench flags with). The fresh measurement under test is
    // excluded from its own band (a run identical to localQ would
    // otherwise widen the latch it is being judged by); the ≥3-run trim
    // inside bandThreshold drops a single slowest outlier so one
    // regressed run cannot widen its own band either.
    val bandTh = Bench.bandThresholds(
      Bench.bandRunsIn(Paths.get("."), localSf.get).filterNot(_ == localQ))

    val checked = localQ.toSeq.sortBy(_._1).flatMap { case (name, now) =>
      // Streaming DRAINS (t<N>_*) keep their wider static floor: their
      // time is dominated by fixed micro-batch machinery (AvailableNow
      // scheduling, state-store setup, mart IO on /tmp), not data-plane
      // work, and measures a 1.2–2.3x same-code drift band against any
      // single prior sample (r9: t2_streaming_merge spanned 2.14–4.44 s
      // across six same-binary runs vs r8's one 1.90 s sample, with the
      // code path diffed clean — see SCALE.md). 1.5x on them latches
      // weather; 2.5x still catches the r8-class 2.7–3.5x blow-ups.
      val floor = if (name.matches("t\\d+_.*")) 2.5 else Bench.FlagRatio
      val ratio = math.max(floor, bandTh.getOrElse(name, Bench.FlagRatio))
      priorQ.get(name).collect {
        case was if now > was * ratio && now - was > Bench.FlagAbsSeconds =>
          // arbitrated = the isolated min-of-3 re-measure, TREATED AS
          // THE FRESH MEASUREMENT, passes this same latch criterion —
          // the burst-contaminated in-suite min is replaced by the
          // post-suite idle one. (r10's extra `re < now/1.8` clause was
          // unsatisfiable for marginal 1.5–1.6x flags, where now/1.8
          // sits BELOW the committed time itself; and the min-of-3
          // re-measure no longer needs the single-cold-rep slack. A
          // re-measure as slow as the in-suite reading still fails
          // here — it trips the criterion on its own.)
          val arbitrated = remeasured.get(name)
            .exists(re => !(re > was * ratio && re - was > Bench.FlagAbsSeconds))
          (name, was, now, arbitrated,
            f"$name: $was%.2f s -> $now%.2f s (${now / was}%.2fx, latch ${ratio}x" +
              remeasured.get(name).fold(")")(re => f"; isolated re-measure $re%.2f s)"))
      }
    }
    val (bursts, offenders) = checked.partition(_._4)
    bursts.foreach(b => info(s"burst-arbitrated (clean isolated re-measure): ${b._5}"))
    assert(offenders.isEmpty,
      s"bench regressions in ${localPath.getFileName} vs ${priorPath.getFileName} — name each cause " +
        "(QueryMetrics the offender at the same sf) before shipping:\n  " +
        offenders.map(_._5).mkString("\n  "))
  }

  test("window-quality canary and reference-guard helpers classify as documented") {
    // canary classification (thresholds sit in the measured dead band:
    // clean 1.1-2.6 s, degraded 5-25 s — SCALE.md bench-window logs)
    assert(Bench.windowQuality(Nil) == "unknown")
    assert(Bench.windowQuality(Seq(
      "t2_streaming_merge" -> 2.58, "t3_streaming_dedup" -> 1.21)) == "clean")
    assert(Bench.windowQuality(Seq(
      "t2_streaming_merge" -> 25.7, "t3_streaming_dedup" -> 6.1)) == "degraded")
    // one degraded sample marks the window — including a clean-pre /
    // degraded-post pair (degradation that began mid-suite)
    assert(Bench.windowQuality(Seq(
      "t2_streaming_merge" -> 2.1, "t3_streaming_dedup" -> 1.1,
      "t2_streaming_merge" -> 9.9, "t3_streaming_dedup" -> 1.2)) == "degraded")
    // exactly at a threshold is degraded (>=), just under is clean
    assert(Bench.windowQuality(Seq("t2_streaming_merge" -> 4.0)) == "degraded")
    assert(Bench.windowQuality(Seq("t2_streaming_merge" -> 3.99)) == "clean")
    // thresholds are calibrated at sf0.1 — at any other sf the canary
    // latencies move with the data, not the window (the r15 sf1 sweep
    // read a healthy t3 at 2.78 s), so classification is withheld
    assert(Bench.classifyWindow("sf0.1",
      Seq("t3_streaming_dedup" -> 2.78)) == "degraded")
    assert(Bench.classifyWindow("graft_sf1",
      Seq("t3_streaming_dedup" -> 2.78)) == "unknown")
    assert(Bench.classifyWindow("sf0.1",
      Seq("t2_streaming_merge" -> 2.1)) == "clean")

    // reference guard: a slower full run never evicts the standing
    // reference (the r12-r14 driver-clobber shape) ...
    assert(!Bench.mayOverwriteReference(Some(137.87), 191.64, force = false))
    // ... a faster (cleaner) run earns the slot per the committed-
    // reference protocol; no/foreign/unparseable reference yields; and
    // SPARK_GRAFT_BENCH_COMMIT_REF=1 forces (registry changes)
    assert(Bench.mayOverwriteReference(Some(137.87), 120.0, force = false))
    assert(Bench.mayOverwriteReference(None, 500.0, force = false))
    assert(Bench.mayOverwriteReference(Some(137.87), 191.64, force = true))
    // a reference at a DIFFERENT sf blocks unforced (r15 found-and-
    // fixed: "stale, not standing" let an sf1 scaling sweep clobber the
    // committed sf0.1 reference, which silently cancels this spec's
    // latch on the next run) — only a deliberate force migrates the sf
    assert(!Bench.mayOverwriteReference(None, 500.0, force = false,
      sameSf = false))
    assert(Bench.mayOverwriteReference(None, 500.0, force = true,
      sameSf = false))

    // sf-label extraction (r15 ADVICE): the sidecar's quoted label —
    // including NON-NUMERIC labels like the sf1 sweep's graft_sf1,
    // which the previous numeric-only pattern blocked against their
    // OWN reference forever — and the driver snapshot's bare number
    // both parse; the driver file's ESCAPED tail copy (\"sf\":...)
    // never shadows the real field; labels compare up to the `sf`
    // dir-name prefix
    assert(Bench.sfLabelOf("""{"total":1.0,"sf":"sf0.1","queries":{}}""")
      .contains("sf0.1"))
    assert(Bench.sfLabelOf("""{"sf":"graft_sf1","queries":{}}""")
      .contains("graft_sf1"))
    assert(Bench.sfLabelOf("""{"sf": 0.1, "tail": "...\"sf\":\"sf9\"..."}""")
      .contains("0.1"))
    assert(Bench.sfLabelOf("""{"tail": "...\"sf\":\"sf9\"...", "sf": "sf0.1"}""")
      .contains("sf0.1"))
    assert(Bench.sfLabelOf("""{"queries":{}}""").isEmpty)
    assert(Bench.sameSfLabel("sf0.1", "0.1"))
    assert(Bench.sameSfLabel("graft_sf1", "graft_sf1"))
    assert(!Bench.sameSfLabel("graft_sf1", "sf1"))
    assert(!Bench.sameSfLabel("sf0.1", "sf1"))

    // t0 extraction (the latch's time order): the driver file's real
    // "t0" wins over the escaped \"t0\": copy its tail carries AHEAD of
    // it; the sidecar's field parses; a snapshot without t0 (driver
    // files before r10) yields nothing, so it is never a prior
    assert(t0Of("""{"tail": "...\"t0\":1787159146362...", "t0": 1786878134595}""")
      .contains(1786878134595L))
    assert(t0Of("""{"total":137.87,"sf":"sf0.1","t0":1786894801904,"queries":{}}""")
      .contains(1786894801904L))
    assert(t0Of("""{"sf": 0.1, "tail": "...\"sf\":\"sf0.1\"..."}""").isEmpty)

    // the local run under test: the newest at the reference's sf — a
    // later side file from another sf does not displace it
    val ref = Paths.get("BENCH_LOCAL.json") ->
      """{"total":1.0,"sf":"sf0.1","t0":100,"queries":{}}"""
    val sameSf = Paths.get("BENCH_LOCAL.200.json") ->
      """{"total":1.1,"sf":"sf0.1","t0":200,"queries":{}}"""
    val otherSf = Paths.get("BENCH_LOCAL.300.json") ->
      """{"total":9.0,"sf":"graft_sf1","t0":300,"queries":{}}"""
    assert(newestLocalRun(Seq(ref, sameSf, otherSf)).contains(sameSf))
    assert(newestLocalRun(Seq(otherSf, ref)).contains(ref))
    // no reference: the newest of all
    assert(newestLocalRun(Seq(sameSf, otherSf)).contains(otherSf))

    // reference BANDS (r16): per-query threshold from the query's own
    // clean-run spread — degenerate point reference below 2 runs, the
    // single slowest run trimmed at >=3 (a regression in the newest run
    // cannot widen its own band), BandCap retains detection, floor
    // never drops below FlagRatio
    assert(Bench.bandThreshold(Nil) == Bench.FlagRatio)
    assert(Bench.bandThreshold(Seq(1.2)) == Bench.FlagRatio)
    // two runs: the spread (with margin) IS the band — the bootstrap
    // where the driver snapshot's ambient ratio informs the latch
    assert(math.abs(Bench.bandThreshold(Seq(1.0, 1.6)) - 1.6 * Bench.BandMargin) < 1e-9)
    // tight history keeps the tight latch
    assert(Bench.bandThreshold(Seq(1.0, 1.05, 1.1)) == Bench.FlagRatio)
    // >=3 runs: the slowest is trimmed — a 2.6x outlier doesn't buy a
    // wide band when the rest of the history is tight
    assert(Bench.bandThreshold(Seq(1.0, 1.3, 2.6)) == Bench.FlagRatio)
    // genuinely wide clean history earns its band...
    assert(math.abs(Bench.bandThreshold(Seq(1.0, 1.7, 9.9)) - 1.7 * Bench.BandMargin) < 1e-9)
    // ...but never past the cap — detection is unconditional at 3x
    assert(Bench.bandThreshold(Seq(1.0, 2.9, 3.5)) == Bench.BandCap)
    // zero/negative times (errored refs) are ignored, not spread-makers
    assert(Bench.bandThreshold(Seq(0.0, 1.2)) == Bench.FlagRatio)
    // per-query map: queries union'd across runs, each with its own band
    val th = Bench.bandThresholds(Seq(
      Map("a" -> 1.0, "b" -> 1.0), Map("a" -> 1.6, "b" -> 1.01), Map("a" -> 1.7)))
    assert(math.abs(th("a") - 1.6 * Bench.BandMargin) < 1e-9) // 1.7 trimmed
    assert(th("b") == Bench.FlagRatio)
    // band eligibility: same sf and not a self-declared degraded window;
    // an escaped tail copy of a degraded marker does not disqualify
    assert(Bench.bandEligible("""{"sf":"sf0.1","window_quality":"clean"}""", "sf0.1"))
    assert(Bench.bandEligible("""{"sf":"sf0.1"}""", "sf0.1"))
    assert(!Bench.bandEligible("""{"sf":"sf0.1","window_quality":"degraded"}""", "sf0.1"))
    assert(!Bench.bandEligible("""{"sf":"graft_sf1"}""", "sf0.1"))
    assert(Bench.bandEligible(
      """{"sf":"sf0.1","window_quality":"clean","tail":"...\"window_quality\":\"degraded\"..."}""",
      "sf0.1"))

    // median_vs_ref (r15): the uniform-slowdown arbitration signal —
    // a handful of >1.5x flags whose ratios sit AT the suite median is
    // the whole-host ambient mode, not code (the canary only catches
    // burst contention). Odd/even/empty medians behave as documented.
    assert(Bench.medianRatio(Nil).isEmpty)
    assert(Bench.medianRatio(Seq(1.3)).contains(1.3))
    assert(Bench.medianRatio(Seq(1.1, 1.5)).contains(1.3))
    assert(Bench.medianRatio(Seq(0.9, 1.29, 5.0)).contains(1.29))
    // the median of a large registry is insensitive to one query's
    // genuine regression — the property that makes it an arbiter
    val uniform = Seq.fill(197)(1.3)
    assert(Bench.medianRatio(uniform :+ 40.0).contains(1.3))
  }
}
