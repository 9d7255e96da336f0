package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench contention-escalation policy (VERDICT r12 ask #1):
  * spread beyond the threshold => the first-pass number is discarded and
  * the query re-measured; the contention fingerprint heuristic labels a
  * run whose wall clock dwarfs its query time or whose start loadavg
  * already saturated the host.
  */
class BenchStatsSpec extends AnyFunSuite {

  test("median is the upper median, order-independent") {
    assert(BenchStats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    // even length: upper of the two middle elements (index n/2) — the
    // convention every artifact since round 9 was produced with
    assert(BenchStats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 3.0)
    assert(BenchStats.median(Seq(5.0)) == 5.0)
  }

  test("spread is max/min and survives a zero-time fastest rep") {
    assert(BenchStats.spread(Seq(1.0, 2.0, 4.0)) == 4.0)
    assert(BenchStats.spread(Seq(1.5, 1.5)) == 1.0)
    // timer quantisation: a 0.0 fastest rep must not divide by zero
    assert(BenchStats.spread(Seq(0.0, 1.0)) == 1.0 / 1e-9)
  }

  test("remeasure escalation fires only for multi-rep runs past threshold") {
    assert(BenchStats.needsRemeasure(reps = 3, spread = 3.5, threshold = 3.0))
    assert(!BenchStats.needsRemeasure(reps = 3, spread = 3.0, threshold = 3.0))
    assert(!BenchStats.needsRemeasure(reps = 3, spread = 1.1, threshold = 3.0))
    // reps == 1 has no spread to judge — the single-rep outlier rerun
    // path (3x suite median) handles that mode instead
    assert(!BenchStats.needsRemeasure(reps = 1, spread = 9.9, threshold = 3.0))
  }

  test("contention fingerprint: wall >> expected execution or saturated " +
      "loadavg") {
    // single-run suite: 240 s of queries inside a 900 s wall means
    // something else owned the box
    assert(BenchStats.looksContended(900.0, 240.0, 1, 0.0, 1.0, 32))
    // reps=3 + warmup executes each query 4x: a 1000 s wall around a
    // 210 s median-sum is the EXPECTED cost of the reps, not contention
    // (the r13 idle run that pinned this: wall 1016, total 209.9)
    assert(!BenchStats.looksContended(1016.0, 209.9, 4, 0.0, 0.26, 32))
    // same reps, but wall far beyond even 3x the executed time
    assert(BenchStats.looksContended(3000.0, 209.9, 4, 0.0, 0.26, 32))
    // tiny suite (sf0.001 smoke): startup dominates legitimately
    assert(!BenchStats.looksContended(90.0, 20.0, 1, 0.0, 1.0, 32))
    // loadavg above host cpus at start: contended regardless of ratio
    assert(BenchStats.looksContended(250.0, 240.0, 1, 0.0, 33.0, 32))
    // healthy idle run
    assert(!BenchStats.looksContended(300.0, 240.0, 1, 0.0, 2.0, 32))
  }

  test("escalation extra runs count toward expected execution (ADVICE " +
      "r13 #3): several 5-run re-measures must not self-label an idle " +
      "run contended") {
    // 240 s suite, reps=3+warmup, plus 3 re-measured queries of ~20 s
    // median each = 300 s of escalation runs. Wall 3500 s: above 3x the
    // reps-only expectation (2880) but within the escalation-aware one
    // (3780) — idle, not contended.
    assert(BenchStats.looksContended(3500.0, 240.0, 4, 0.0, 0.3, 32))
    assert(!BenchStats.looksContended(3500.0, 240.0, 4, 300.0, 0.3, 32))
    // a negative extra term (impossible, but defensive) clamps to 0
    assert(BenchStats.looksContended(3500.0, 240.0, 4, -5.0, 0.3, 32))
  }

  test("cross-run uniform-load defence (VERDICT r13 ask #2): a fresh " +
      "median >3x the previous uncontended median is suspect") {
    // the driver-r13 evidence that exposed the blind spot: q149 recorded
    // 6.14 s against a 1.05 s previous median, per-query spread 1.20,
    // run-level contended:false — invisible to BOTH existing defences
    assert(BenchStats.crossRunSuspect(6.14, Some(1.05),
      prevContended = false))
    // the same inflation is NOT judged against a contended previous run:
    // an inflated baseline must not mask a genuine recovery
    assert(!BenchStats.crossRunSuspect(6.14, Some(1.05),
      prevContended = true))
    // no previous record (new query / first run): nothing to compare
    assert(!BenchStats.crossRunSuspect(6.14, None, prevContended = false))
    // at-threshold is not suspect (strict >, mirroring needsRemeasure)
    assert(!BenchStats.crossRunSuspect(3.15, Some(1.05),
      prevContended = false))
    // sub-second jitter stays out: 0.05 -> 0.2 s is 4x but below the
    // 0.5 s absolute floor
    assert(!BenchStats.crossRunSuspect(0.2, Some(0.05),
      prevContended = false))
    // a zero previous median (artifact rounding) never divides/flags
    assert(!BenchStats.crossRunSuspect(6.0, Some(0.0),
      prevContended = false))
  }

  test("historyLine renders one self-contained JSON trend record") {
    val line = BenchStats.historyLine(1723700000000L, "/root/testdata/sf0.1",
      nQueries = 284, failed = 0, totalSec = 193.256, wallSec = 1016.4,
      reps = 3, contended = false, nRemeasured = 9, nSuspect = 1)
    assert(line ===
      """{"ts_ms":1723700000000,"sf":"/root/testdata/sf0.1",""" +
      """"n_queries":284,"failed":0,"total_sec":193.256,""" +
      """"wall_sec":1016.400,"reps":3,"contended":false,""" +
      """"n_remeasured":9,"n_suspect":1}""")
    // quotes/control chars in the sf path must not break the JSON:
    // the quote escapes, the tab renders as
    assert(BenchStats.historyLine(1L, "a\"b\tc", 1, 0, 0.0, 0.0, 1,
      contended = true, 0, 0)
      .contains("\"sf\":\"a\\\"b\\u0009c\""))
  }

  test("parseArtifact recovers per-query medians, the contended label " +
      "and the SCALE FACTOR from the engine's own artifact format") {
    val art =
      """{
        |  "sf": "/root/testdata/sf0.1",
        |  "contended": false,
        |  "total_sec": 7.190,
        |  "queries": {
        |    "q149_source_similarity": {"median_sec":1.050,"spread":1.200},
        |    "q282_community_drift": {"median_sec":3.590,"remeasured":true},
        |    "q25_stream_dedup": {"median_sec":0.400,"error":"boom \\t"}
        |  }
        |}
        |""".stripMargin
    val (contended, sf, m) = BenchStats.parseArtifact(art)
    assert(!contended)
    // the sf rides along so Bench can stand the cross-run defence down
    // when the shared artifact path last held a DIFFERENT scale factor
    // (judging sf0.1 medians against an sf0.001 smoke would escalate
    // the whole suite)
    assert(sf === "/root/testdata/sf0.1")
    // the ERRORED query is excluded (r14 advice): its median_sec is
    // time-to-error — a query fixed this round must not trip the
    // cross-run defence against that meaningless tiny baseline
    assert(m == Map(
      "q149_source_similarity" -> 1.05,
      "q282_community_drift" -> 3.59))
    // a contended prior run parses as such
    assert(BenchStats.parseArtifact(
      """{"contended": true, "queries": {}}""")._1)
    // junk input stands the defence down instead of throwing
    assert(BenchStats.parseArtifact("not json at all") ==
      ((false, "", Map.empty[String, Double])))
  }

  test("suspectFactor tightens to 1.5x under observed start load " +
      "(VERDICT r14 ask #1), stays 3x on an idle start") {
    // the r14 evidence: driver loadavg 6.62 on 32 cpus (> 32/8 = 4)
    // recorded q266 at 7.78 s vs 3.10 idle — 2.51x, unflagged at 3x
    assert(BenchStats.suspectFactor(6.62, 32) == 1.5)
    assert(BenchStats.crossRunSuspect(7.78, Some(3.10),
      prevContended = false, factor = BenchStats.suspectFactor(6.62, 32)))
    // an idle start keeps the wide factor: the same 2.51x ratio is NOT
    // escalated when nothing indicates machine load
    assert(BenchStats.suspectFactor(0.26, 32) == 3.0)
    assert(!BenchStats.crossRunSuspect(7.78, Some(3.10),
      prevContended = false, factor = BenchStats.suspectFactor(0.26, 32)))
    // boundary: exactly hostCpus/8 is NOT elevated (strict >)
    assert(BenchStats.suspectFactor(4.0, 32) == 3.0)
    // a degenerate cpu count never divides by zero
    assert(BenchStats.suspectFactor(9.9, 0) == 3.0)
  }

  test("per-query ring: render, rotate, filter, and the median-of-runs " +
      "baseline (VERDICT r14 ask #9)") {
    val sf = "/root/testdata/sf0.1"
    val l1 = BenchStats.ringLine(1L, sf, contended = false,
      Seq("q01" -> 1.0, "q02" -> 4.0))
    val l2 = BenchStats.ringLine(2L, sf, contended = false,
      Seq("q01" -> 1.2))
    val l3 = BenchStats.ringLine(3L, sf, contended = true, // busy box
      Seq("q01" -> 9.0, "q02" -> 9.0))
    val l4 = BenchStats.ringLine(4L, "/root/testdata/sf0.001", // smoke
      contended = false, Seq("q01" -> 0.1))
    val l5 = BenchStats.ringLine(5L, sf, contended = false,
      Seq("q01" -> 1.4, "q02" -> 4.4))
    // the rendered line is one self-contained JSON object
    assert(l1 === s"""{"ts_ms":1,"sf":"$sf","contended":false,""" +
      """"queries":{"q01":1.000,"q02":4.000}}""")
    // read side: contended and other-sf lines are filtered out
    val runs = BenchStats.parseRing(
      Seq(l1, l2, l3, l4, l5).mkString("\n"), sf)
    assert(runs.length == 3)
    // baseline = MEDIAN of the eligible runs' medians (upper median of
    // {1.0, 1.2, 1.4} = 1.2); a query some runs missed still resolves
    assert(BenchStats.ringBaseline(runs, "q01").contains(1.2))
    assert(BenchStats.ringBaseline(runs, "q02").contains(4.4))
    // unknown query: no baseline — the caller falls back to the
    // previous artifact
    assert(BenchStats.ringBaseline(runs, "q99").isEmpty)
    // rotation keeps the trailing RingKeep lines PER SCALE FACTOR:
    // a burst of smoke runs must not evict the sf0.1 baselines (the
    // artifact fallback is sf-guarded too, so a global tail would
    // leave the next sf0.1 bench with NO baseline at all)
    val big = (1 to 3).map(i =>
      BenchStats.ringLine(i, sf, contended = false, Seq("q01" -> 1.0)))
    val smoke = (1 to 7).map(i =>
      BenchStats.ringLine(100L + i, "/root/testdata/sf0.001",
        contended = false, Seq("q01" -> 0.1)))
    val rotated = BenchStats.rotateRing(big ++ smoke, keep = 5)
    assert(rotated.count(_.contains(s""""sf":"$sf"""")) === 3)
    assert(rotated.count(_.contains("sf0.001")) === 5)
    // order preserved: the sf0.1 lines still precede the smoke tail
    assert(rotated.take(3) == big)
    // unlabeled lines group together and rotate as their own class
    assert(BenchStats.rotateRing(
      (1 to 9).map(i => s"line$i"), keep = 5)
      == Seq("line5", "line6", "line7", "line8", "line9"))
    // a malformed line contributes nothing instead of throwing
    assert(BenchStats.parseRing(
      s"""garbage\n{"sf":"$sf","contended":false}\n""", sf).isEmpty)
  }

  test("ring-aware spread escalation (VERDICT r15 ask #7): chronic " +
      "noise stops re-measuring, a fresh noise event still does") {
    val sf = "/root/testdata/sf0.1"
    // three clean runs record q124's spread at 2.5 / 3.4 / 2.9 — a
    // chronically noisy query whose envelope is 3.4
    val lines = Seq(
      BenchStats.ringLine(1L, sf, contended = false,
        Seq("q124" -> 0.4, "q01" -> 1.0),
        Seq("q124" -> 2.5, "q01" -> 1.1)),
      BenchStats.ringLine(2L, sf, contended = false,
        Seq("q124" -> 0.5, "q01" -> 1.0),
        Seq("q124" -> 3.4, "q01" -> 1.2)),
      BenchStats.ringLine(3L, sf, contended = false,
        Seq("q124" -> 0.4, "q01" -> 1.0),
        Seq("q124" -> 2.9, "q01" -> 1.0))).mkString("\n")
    val spreadRuns = BenchStats.parseRingSpreads(lines, sf)
    assert(spreadRuns.length === 3)
    val hist = spreadRuns.flatMap(_.get("q124"))
    assert(hist === Seq(2.5, 3.4, 2.9))
    // fresh spread 3.2: past the 3.0 threshold but INSIDE the envelope
    // — no re-measure (this exact query re-measured every round before)
    assert(!BenchStats.needsRemeasure(3, 3.2, 3.0, hist))
    // fresh spread 5.0: past both — re-measures
    assert(BenchStats.needsRemeasure(3, 5.0, 3.0, hist))
    // no history (new query / pre-spreads ring): threshold-only, as
    // before
    assert(BenchStats.needsRemeasure(3, 3.2, 3.0, Nil))
    assert(!BenchStats.needsRemeasure(3, 2.9, 3.0, Nil))
    // reps == 1 never spread-escalates regardless of history
    assert(!BenchStats.needsRemeasure(1, 9.9, 3.0, hist))
    // the MEDIANS parse is bounded at its closing brace: a trailing
    // spreads object must not bleed spread values into the baselines
    val meds = BenchStats.parseRing(lines, sf)
    assert(meds.length === 3)
    assert(meds.head === Map("q124" -> 0.4, "q01" -> 1.0))
    // a contended run's spreads are excluded from the envelope — an
    // inflated envelope would suppress genuine re-measures
    val contendedLine = BenchStats.ringLine(4L, sf, contended = true,
      Seq("q124" -> 2.0), Seq("q124" -> 9.0))
    assert(BenchStats.parseRingSpreads(lines + "\n" + contendedLine, sf)
      .flatMap(_.get("q124")) === Seq(2.5, 3.4, 2.9))
    // lines WITHOUT a spreads object (pre-r16 rings) contribute nothing
    val old = BenchStats.ringLine(5L, sf, contended = false,
      Seq("q124" -> 0.4))
    assert(BenchStats.parseRingSpreads(old, sf).isEmpty)
    assert(BenchStats.parseRing(old, sf) ===
      Seq(Map("q124" -> 0.4)))
  }

  test("queryParts splits the per-query map into bounded, complete " +
      "chunk lines") {
    val entries =
      (1 to 100).map(i => "\"q%03d_name\":%d.000".format(i, i))
    val lines = BenchStats.queryParts(entries, "/d/sf0.1", maxChars = 200)
    assert(lines.size > 1)
    val Part = ("""\{"metric":"queries_part","part":(\d+),"parts":(\d+),""" +
      """"queries":\{(.*)\},"sf":"/d/sf0.1"\}""").r
    val parsed =
      lines.map { case Part(i, n, body) => (i.toInt, n.toInt, body) }
    assert(parsed.map(_._1) == lines.indices)
    assert(parsed.forall(_._2 == lines.size))
    assert(parsed.forall(_._3.length <= 200))
    // every entry appears exactly once, in order
    assert(parsed.flatMap(_._3.split(",")) == entries)
    assert(BenchStats.queryParts(Nil, "x").isEmpty)
  }
}
