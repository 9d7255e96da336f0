package graft.tools

import graft.Json

/** Pure statistics behind [[graft.Bench]]'s contention defences, extracted
  * so the escalation policy is unit-testable without running Spark.
  *
  * The policy (round-12 adjudication): a per-query median of 3 still
  * records a contaminated number when a machine-level event (another JVM,
  * GC storm, page-cache eviction) straddles two of the three reps —
  * q242 recorded 16.1 s for a 1.1 s plan. The run-to-run SPREAD
  * (max/min) is the tell: residual jitter sits near 1.0-1.5x, a
  * contended rep pushes it past 3x. Queries whose spread exceeds the
  * threshold are re-measured with a fresh median-of-5 before anything is
  * recorded, and the artifact marks them `remeasured` so the escalation
  * is auditable rather than silent.
  */
object BenchStats {

  /** Upper median (element at n/2 of the sorted sample) — the same
    * convention Bench has used since reps landed in round 9, kept so
    * round-over-round artifacts stay comparable. Callers guarantee
    * non-empty input. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  /** One timed execution of a query, split at Bench's three timestamps:
    * after `fn(spark, sf)` builds the DataFrame, after the hashing action's
    * `executedPlan` is forced, and after `collect`. A failed rep charges
    * its time to the phase it failed in. `jobs`/`stages`/`tasks` are the
    * jobs started, stages completed and those stages' tasks during the
    * rep, or -1 when the listener bus did not drain. */
  final case class Rep(buildSec: Double, planSec: Double, execSec: Double,
      jobs: Long, stages: Long, tasks: Long, error: Option[String] = None) {
    def sec: Double = buildSec + planSec + execSec
  }

  /** The rep whose time is [[median]] of the sample, so the phase split
    * and counters reported beside a median add up to it. Callers
    * guarantee non-empty input. */
  def medianRep(reps: Seq[Rep]): Rep = {
    val s = reps.sortBy(_.sec)
    s(s.length / 2)
  }

  /** The queries a `graft.Bench <prefix>...` run times: every name
    * starting with one of the prefixes, each once, sorted. No prefix
    * selects the whole suite in suite order; a prefix that matches
    * nothing is an error, so a typo cannot pass as a fast run. */
  def selectQueries(names: Seq[String], prefixes: Seq[String]): Seq[String] = {
    val unmatched = prefixes.filterNot(p => names.exists(_.startsWith(p)))
    require(unmatched.isEmpty,
      s"no query name starts with: ${unmatched.mkString(", ")}")
    if (prefixes.isEmpty) names.distinct
    else names.filter(n => prefixes.exists(n.startsWith)).distinct.sorted
  }

  /** A per-query entry's leading fields: `median_sec` FIRST (the
    * `"name": {"median_sec":X` shape ScaleProbe and [[parseArtifact]]
    * read), then the median rep's phase split and counters. */
  def repFields(r: Rep): String =
    s""""median_sec":${ms3(r.sec)},"build_sec":${ms3(r.buildSec)},""" +
      s""""plan_sec":${ms3(r.planSec)},"exec_sec":${ms3(r.execSec)},""" +
      s""""jobs":${r.jobs},"stages":${r.stages},"tasks":${r.tasks}"""

  /** max/min of the sample — 1.0 means perfectly stable reps. Guarded
    * against a zero-time fastest rep (sub-nanosecond timer quantisation)
    * the same way Bench always has. */
  def spread(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s.last / math.max(s.head, 1e-9)
  }

  /** Should this query's first-pass measurement be thrown away and
    * re-measured? Only a SUCCESSFUL multi-rep measurement can be judged
    * by spread: reps == 1 has no spread, and a failed query's timing is
    * time-to-failure, not a sample.
    *
    * `histSpreads` is the query's spread history from the ring's
    * uncontended same-sf runs (r15 ask #7): a query that is ALWAYS
    * noisy (its plan legitimately jitters — tiny wall time, GC-heavy
    * shuffle) used to trip the threshold and pay a median-of-5 every
    * round; with history, a fresh spread must exceed BOTH the absolute
    * threshold AND the ring-historical envelope (the max spread recent
    * clean runs recorded) before it escalates — chronic noise stops
    * re-measuring, a genuinely new noise event still does. No history
    * (new query, fresh clone, pre-spreads ring lines) degrades to the
    * old threshold-only behavior. */
  def needsRemeasure(reps: Int, spread: Double, threshold: Double,
      histSpreads: Seq[Double] = Nil): Boolean =
    reps > 1 && spread > threshold &&
      (histSpreads.isEmpty || spread > histSpreads.max)

  /** A run self-labels as contended when the whole-process wall clock is
    * far above the EXPECTED execution time — summed per-query medians ×
    * the number of runs each query makes (timed reps + the untimed
    * warm-up), since the artifact's total counts each query once but the
    * process executed it reps+warmup times, PLUS the extra runs any
    * escalation added (5 per re-measured query — without that term a run
    * with several escalations could self-label contended on an idle
    * machine, and the false label would discredit a genuine regression
    * in bench_diff) — or when the 1-minute load average at start already
    * exceeded the available processors. tools/bench_diff.py surfaces the
    * same signal when diffing rounds. */
  def looksContended(wallSec: Double, totalQuerySec: Double,
      runsPerQuery: Int, extraRunSec: Double, loadavg1: Double,
      hostCpus: Int): Boolean =
    (totalQuerySec > 30 &&
      wallSec > 3 * (math.max(runsPerQuery, 1) * totalQuerySec +
        math.max(extraRunSec, 0.0))) ||
      loadavg1 > hostCpus.toDouble

  /** Per-query medians, the `contended` self-label, and the SCALE
    * FACTOR of a PRIOR Bench artifact (the engine's own
    * `bench/last_run.json` format). A file that is not a whole Bench
    * artifact (junk, or torn by a crash mid-write) parses to
    * (false, "", empty) and the defence silently stands down. The sf
    * comes along because the artifact path is shared across scale
    * factors: comparing an sf0.1 run's medians against an sf0.001
    * smoke's would escalate the whole suite — the caller must stand
    * down on an sf mismatch.
    *
    * Queries that ERRORED in the prior run are EXCLUDED (r14 advice):
    * their median_sec is time-to-error, not a baseline — a query fixed
    * this round would otherwise trip the cross-run defence against a
    * meaningless tiny number (5 wasted re-runs, a permanent false
    * `suspect` flag). */
  def parseArtifact(text: String)
      : (Boolean, String, Map[String, Double]) =
    doc(text).fold((false, "", Map.empty[String, Double])) { o =>
      val medians = for {
        q <- o.obj("queries").toSeq
        name <- q.keys
        entry <- q.obj(name) if !entry.keys.contains("error")
        sec <- entry.double("median_sec")
      } yield name -> sec
      (o.bool("contended").contains(true), o.str("sf").getOrElse(""),
        medians.toMap)
    }

  /** One JSON document, or None when the text does not parse. */
  private[tools] def doc(text: String): Option[Json.Obj] =
    scala.util.Try(Json.parse(text)).toOption

  /** Millisecond-precision seconds, Locale.ROOT — the one number
    * formatter every artifact line shares. */
  def ms3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** The per-query map as BOUNDED `queries_part` JSON lines: the
    * `"name":sec` entries packed greedily, a chunk's map staying within
    * `maxChars` (one over-long entry gets a chunk to itself). A log-tail
    * capture that cuts the head of the output then loses whole early
    * chunks, never the shape of a line. */
  def queryParts(entries: Seq[String], sf: String,
      maxChars: Int = 1000): Seq[String] = {
    val chunks = entries.foldLeft(Vector.empty[Vector[String]]) {
      case (acc :+ cur, e)
          if cur.map(_.length + 1).sum + e.length <= maxChars =>
        acc :+ (cur :+ e)
      case (acc, e) => acc :+ Vector(e)
    }
    chunks.zipWithIndex.map { case (c, i) =>
      s"""{"metric":"queries_part","part":$i,"parts":${chunks.size},""" +
        s""""queries":${c.mkString("{", ",", "}")},""" +
        s""""sf":${Json.quote(sf)}}"""
    }
  }

  /** One bench-history record as a JSON line — the run-over-run trend
    * `bench/history.jsonl` accumulates (the last_run rotation keeps only
    * ONE previous artifact; the history keeps the story). Pure
    * rendering so the format is pinned without running a bench. */
  def historyLine(tsMillis: Long, sf: String, nQueries: Int, failed: Int,
      totalSec: Double, wallSec: Double, reps: Int, contended: Boolean,
      nRemeasured: Int, nSuspect: Int): String = {
    s"""{"ts_ms":$tsMillis,"sf":${Json.quote(sf)},"n_queries":$nQueries,""" +
      s""""failed":$failed,"total_sec":${ms3(totalSec)},""" +
      s""""wall_sec":${ms3(wallSec)},"reps":$reps,""" +
      s""""contended":$contended,"n_remeasured":$nRemeasured,""" +
      s""""n_suspect":$nSuspect}"""
  }

  /** The UNIFORM-load defence (round-13 blind spot): a machine-level
    * load that slows all reps EQUALLY leaves spread ≈ 1 (the escalation
    * never fires) and, below loadavg saturation, `looksContended` false —
    * driver-r13 recorded q149 at 6.14 s against a 1.05 s idle median with
    * spread 1.20 and `contended: false`. The previous run's artifact is
    * already on disk for rotation; a fresh median more than `factor`×
    * the previous recorded median (when THAT run was uncontended — an
    * inflated baseline must not mask a real recovery) is re-measured,
    * and flagged `suspect` if the re-measure stays inflated. The
    * absolute floor keeps sub-second jitter (0.05 → 0.2 s is 4× and
    * meaningless) out of the escalation. */
  def crossRunSuspect(freshMedian: Double, prevMedian: Option[Double],
      prevContended: Boolean, factor: Double = 3.0,
      minAbsSec: Double = 0.5): Boolean =
    !prevContended && prevMedian.exists(p =>
      p > 0 && freshMedian > factor * p && freshMedian - p > minAbsSec)

  /** The cross-run escalation factor, LOAD-CONDITIONAL (r14
    * adjudication): the driver's r14 bench started at loadavg 6.62 on a
    * 32-cpu host and recorded q266 at 7.78 s against a 3.10 s idle
    * median — a 2.51× uniform inflation sliding under the 3× factor
    * with `suspect: 0`. When the 1-minute loadavg at start already
    * exceeds hostCpus/8 the machine is OBSERVABLY busy, uniform
    * inflation is the expected failure mode, and the 1.5–3× band must
    * re-measure (the re-measure path is cheap and self-correcting); on
    * an idle start the 3× factor stands, so round-to-round noise never
    * escalates there. */
  def suspectFactor(loadavg1: Double, hostCpus: Int): Double =
    if (hostCpus > 0 && loadavg1 > hostCpus / 8.0) 1.5 else 3.0

  /** One per-query ring record as a JSON line: the run's SUCCESSFUL
    * medians plus the labels a later reader needs to filter
    * (`sf`, `contended`). `bench/ring.jsonl` keeps the last
    * [[RingKeep]] of these so the cross-run defence can judge a fresh
    * median against the MEDIAN OF RECENT UNCONTENDED RUNS instead of
    * exactly one previous artifact — one anomalous (but
    * self-labeled-clean) baseline run no longer owns the comparison. */
  def ringLine(tsMillis: Long, sf: String, contended: Boolean,
      queries: Seq[(String, Double)],
      spreads: Seq[(String, Double)] = Seq.empty): String = {
    def flat(xs: Seq[(String, Double)]): String = xs.sortBy(_._1)
      .map { case (k, v) => Json.quote(k) + ":" + ms3(v) }
      .mkString("{", ",", "}")
    // spreads is optional: ring lines written before it still parse
    val sp = if (spreads.isEmpty) ""
             else s""","spreads":${flat(spreads)}"""
    s"""{"ts_ms":$tsMillis,"sf":${Json.quote(sf)},""" +
      s""""contended":$contended,"queries":${flat(queries)}$sp}"""
  }

  /** Ring retention: enough runs for a sturdy median, small enough that
    * a genuine plan regression ages out of the baseline within a few
    * rounds (a stale too-long ring would keep flagging the new
    * steady-state as suspect). */
  val RingKeep: Int = 5

  /** Rotation: keep the trailing [[RingKeep]] lines PER SCALE FACTOR,
    * original order preserved (r15 review: a global tail meant five
    * sf0.001 smoke runs evicted every sf0.1 baseline — with the
    * last_run artifact also rotated to the smoke, the next sf0.1 bench
    * had NO baseline at all and a genuine regression recorded with
    * `suspect: 0`). Lines whose sf label cannot be read group under ""
    * and rotate together. Pure so the spec pins the policy without
    * touching a filesystem. */
  def rotateRing(lines: Seq[String], keep: Int = RingKeep): Seq[String] = {
    def sfOf(l: String): String = doc(l).flatMap(_.str("sf")).getOrElse("")
    val k = math.max(keep, 1)
    val keepIdx = lines.zipWithIndex.groupBy { case (l, _) => sfOf(l) }
      .values.flatMap(_.takeRight(k).map(_._2)).toSet
    lines.zipWithIndex.collect { case (l, i) if keepIdx(i) => l }
  }

  /** Parse `ring.jsonl` text into the per-run query-median maps
    * ELIGIBLE as a baseline: same scale factor, self-labeled
    * uncontended. Oldest first. A line that does not
    * parse contributes nothing. */
  def parseRing(text: String, sf: String): Seq[Map[String, Double]] =
    parseRingObject(text, sf, "queries")

  /** The per-run SPREAD maps from ring lines that recorded them (the
    * ring-aware spread escalation's history; lines from before spreads
    * landed simply contribute nothing). Same eligibility as
    * [[parseRing]]: same-sf, self-labeled uncontended — a contended
    * run's inflated spreads would raise the envelope and silently
    * suppress genuine re-measures. */
  def parseRingSpreads(text: String, sf: String)
      : Seq[Map[String, Double]] =
    parseRingObject(text, sf, "spreads")

  /** The `key` object of each eligible ring line, as name -> seconds. */
  private def parseRingObject(text: String, sf: String,
      key: String): Seq[Map[String, Double]] =
    text.linesIterator.flatMap(doc)
      .filter(o => o.str("sf").contains(sf) && o.bool("contended").contains(false))
      .map(o => o.obj(key).fold(Map.empty[String, Double])(m =>
        m.keys.flatMap(k => m.double(k).map(k -> _)).toMap))
      .filter(_.nonEmpty)
      .toSeq

  /** The ring baseline for one query: the median of its medians across
    * the eligible runs — None when no eligible run recorded it (the
    * caller falls back to the single previous artifact). */
  def ringBaseline(runs: Seq[Map[String, Double]],
      name: String): Option[Double] = {
    val xs = runs.flatMap(_.get(name))
    if (xs.isEmpty) None else Some(median(xs))
  }
}
