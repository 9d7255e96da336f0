package graft
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tools.BenchStats.Rep

/** The engine's one timing harness. `runMain graft.Bench` times every
  * `SparkEntry.queries` entry and writes `bench/last_run.json` (plus the
  * history and ring beside it); `runMain graft.Bench <prefix>...` times
  * only the queries whose names start with a prefix, prints one
  * `{"metric":"query",…}` line each, and writes nothing under `bench/`.
  * Each query records its median time, that rep's build/plan/exec split
  * and its Spark jobs, stages and tasks. */
object Bench {
  /** 1/5/15-minute load averages, or "unavailable" off-Linux. Stamped into
    * the artifact at start and end so a reader can tell a contended run
    * (round-12 adjudication: three queries inflated 4-15x by a busy
    * machine, zero code diff) from a real regression without re-running.
    */
  private def loadavg(): String =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
        java.nio.charset.StandardCharsets.UTF_8)
      s.split("\\s+").take(3).mkString(" ")
    } catch { case scala.util.control.NonFatal(_) => "unavailable" }

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    val loadStart = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val allQueries = SparkEntry.queries
    val filtered = args.nonEmpty
    val suite = tools.BenchStats.selectQueries(allQueries.keys.toSeq,
      args.toSeq).map(n => n -> allQueries(n))
    val spark = GraftSession()
    // Warm the session (codegen/JIT, FS metadata) so the first timed query
    // doesn't absorb startup cost.
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    // the cores the run had: local[n]'s n, or a deployment master's
    val cpus = spark.sparkContext.defaultParallelism
    // Consume every column's VALUES, not just row count: under `count()`
    // Catalyst prunes unused columns, so pure-projection queries would
    // measure scan+count instead of their expression work. Hashing the full
    // row struct and XOR-folding forces every value to be computed while
    // keeping the action driver-cheap. bit_xor (not sum) because xxhash64
    // is uniform over the full Long range — a running sum overflows almost
    // immediately and aborts under Spark 4's default ANSI mode.
    import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

    // One listener for the whole run. Its counters are read after a bus
    // drain, outside the timed span, so a rep's late events are counted.
    // A drain that times out makes them -1 for the rest of the run: a
    // wedged listener costs the counts, not the run or 120 s per rep.
    val jobs, stages, tasks = new AtomicLong
    var countable = true
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks.toLong)
      }
    })
    def counters(): Seq[Long] = {
      if (countable)
        try ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
        catch {
          case e: java.util.concurrent.TimeoutException =>
            System.err.println(s"bench: ${e.getMessage}; jobs, stages " +
              "and tasks are -1 from here on")
            countable = false
        }
      if (countable) Seq(jobs.get, stages.get, tasks.get) else Seq(-1L, -1L, -1L)
    }

    // a failed query's elapsed is time-to-failure
    def runOne(fn: (SparkSession, String) => DataFrame): Rep = {
      val c0 = counters()
      val marks = scala.collection.mutable.ArrayBuffer(System.nanoTime())
      val err = try {
        val df = fn(spark, sfDir)
        marks += System.nanoTime()
        val act = df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
          .agg(expr("bit_xor(h)"))
        act.queryExecution.executedPlan // plan now, apart from execution
        marks += System.nanoTime()
        act.collect()
        None
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          Some(msg.linesIterator.take(1).mkString.take(200))
      }
      marks += System.nanoTime()
      val Seq(build, plan, exec) = marks.toSeq.sliding(2)
        .map(w => (w(1) - w(0)) / 1e9).toSeq.padTo(3, 0.0)
      val Seq(j, s, k) = counters().zip(c0).map { case (a, b) =>
        if (a < 0 || b < 0) -1L else a - b
      }
      Rep(build, plan, exec, j, s, k, err)
    }

    // SPARK_GRAFT_BENCH_REPS=n: per-query MEDIAN of n runs. Default 3 —
    // same-JVM contention across a 230+-query run produced 3-4× phantom
    // regressions in code that hadn't changed (round-9 adjudication); a
    // single-sample number cannot distinguish a real regression from one
    // noisy run, a median of three can. The artifact schema is unchanged;
    // per-query spread (max/min of successful runs) is emitted on the
    // trailing summary line so residual noise is visible, not inferred.
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    def runMedian(fn: (SparkSession, String) => DataFrame): (Rep, Double) =
      if (reps == 1) (runOne(fn), 1.0)
      else {
        // One UNTIMED warm-up execution first: the reps run back-to-back,
        // so without it the first queries of the suite pay JVM classload /
        // codegen / page-cache warm-up in ALL their reps and the median
        // records startup, not the query (round-10 adjudication: q01 at
        // 9.3 s and q233 at 21 s, both sub-second plans). A failed warm-up
        // needs no special case — the timed reps fail the same way.
        runOne(fn)
        val runs = Seq.fill(reps)(runOne(fn))
        val ok = runs.filter(_.error.isEmpty)
        if (ok.isEmpty) (runs.head, 1.0)
        else (tools.BenchStats.medianRep(ok),
          tools.BenchStats.spread(ok.map(_.sec)))
      }

    // COLD MODE (r17 verdict ask #3): every cross-query artifact
    // (every DirCache registered with ArtifactCaches)
    // is built on first use — under the untimed warmup rep that build
    // cost lands in NO timed number, so warm medians conflate "shared
    // artifact" with "query got faster". With SPARK_GRAFT_BENCH_COLD=1
    // each query ADDITIONALLY runs SPARK_GRAFT_BENCH_COLD_REPS (default
    // 1) reps with ArtifactCaches.clearAll() immediately before each, so
    // the artifact carries a cold_median_sec — the
    // first-invocation-in-a-session cost, artifact build included — next
    // to the warm number. JIT/page-cache stay warm (the warmup and warm
    // reps ran first); only the engine's own artifacts go cold. The warm
    // contract (totals line, per-query medians, ring) is unchanged: cold
    // numbers never enter total_sec or the ring.
    val coldMode = sys.env.get("SPARK_GRAFT_BENCH_COLD")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    val coldReps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_COLD_REPS", "1").toInt)
    def runColdMedian(fn: (SparkSession, String) => DataFrame)
        : Option[Double] =
      if (!coldMode) None
      else {
        val runs = Seq.fill(coldReps) {
          ArtifactCaches.clearAll(spark)
          runOne(fn)
        }
        val ok = runs.collect { case r if r.error.isEmpty => r.sec }
        if (ok.isEmpty) None else Some(tools.BenchStats.median(ok))
      }

    val coldByName = scala.collection.mutable.Map.empty[String, Double]
    val first0 = suite.map { case (name, fn) =>
      val (r, spread) = runMedian(fn)
      runColdMedian(fn).foreach(c => coldByName(name) = c)
      (name, fn, r, spread)
    }
    // Cold-mode caveat, recorded for the artifact's reader: any
    // escalation re-measure below runs AFTER the suite pass, i.e. with
    // caches left cold by the last query's clear — its first of 5 runs
    // may pay an artifact rebuild (the median of 5 absorbs it). Cold
    // mode is an audit mode; the driver's warm contract never sets it.
    // A spread beyond this is not residual jitter — it is one rep colliding
    // with a machine-level event (GC storm, another JVM, page-cache
    // eviction), and a median of 3 can still land on a contaminated rep
    // (round-12: q242 recorded 16.1 s for a 1.1 s plan). Such queries are
    // RE-MEASURED with a fresh median-of-5 before the number is recorded;
    // the re-measured value replaces the first one and the query is marked
    // `remeasured` in the artifact so the escalation is auditable.
    val spreadThresh = sys.env.getOrElse(
      "SPARK_GRAFT_SPREAD_RERUN", "3.0").toDouble
    // Option so a malformed SPARK_GRAFT_BENCH_OUT (InvalidPathException)
    // degrades to "no artifact" instead of aborting a bench whose
    // queries already ran — the artifact is an audit aid, never a gate.
    // Parsed HERE, before either escalation: the spread path needs the
    // ring's per-query spread history, the cross-run path its medians.
    val outPathOpt: Option[java.nio.file.Path] =
      try Some(java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_OUT", "bench/last_run.json")))
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"bench: invalid SPARK_GRAFT_BENCH_OUT (${e.getMessage}); " +
              "skipping prev-run comparison and artifact write")
          None
      }
    val ringPathOpt = outPathOpt.map(_.resolveSibling("ring.jsonl"))
    val ringText: Option[String] =
      try ringPathOpt.filter(java.nio.file.Files.exists(_)).map(p =>
        new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8))
      catch { case scala.util.control.NonFatal(_) => None }
    // the ring-historical SPREAD envelope (r15 ask #7): a query whose
    // run-to-run spread is chronically high (sub-second wall, GC-heavy
    // shuffle) re-measured every single round against the absolute
    // threshold; now the fresh spread must also exceed the max spread
    // recent clean same-sf runs recorded for that query before the
    // median-of-5 fires. No history → old behavior.
    val ringSpreadRuns: Seq[Map[String, Double]] =
      ringText.map(tools.BenchStats.parseRingSpreads(_, sfDir))
        .getOrElse(Seq.empty)
    def spreadHist(name: String): Seq[Double] =
      ringSpreadRuns.flatMap(_.get(name))
    // names whose LAST escalation produced no clean sample: their
    // recorded spread is the contaminated first-pass number, and
    // writing it into the ring would raise the historical envelope and
    // suppress exactly the contamination events the escalation exists
    // to catch — such spreads are withheld from the ring line
    val unhealedSpread = scala.collection.mutable.Set.empty[String]
    // ESCALATION BUDGET (r17 ask #1): the r17 driver bench timed out at
    // 32 cores in part because 46 escalations each added 5 full runs —
    // ~25 minutes of re-measurement the fixed driver budget could not
    // absorb. Escalations now draw from a shared wall-clock budget
    // (estimated as 5× the query's first-pass median before running,
    // charged with actual elapsed after); once exhausted, further
    // escalations are SKIPPED — the first-pass number is recorded with
    // an explicit "escalation_skipped" flag (and withheld from the ring
    // like an unhealed spread), so the artifact stays auditable instead
    // of the whole run being lost to a timeout. Default scales with the
    // rep count the driver asked for; override with
    // SPARK_GRAFT_ESCALATION_BUDGET_SEC.
    val escBudget = sys.env.get("SPARK_GRAFT_ESCALATION_BUDGET_SEC")
      .flatMap(_.toDoubleOption).getOrElse(60.0 * reps)
    var escSpent = 0.0
    val escSkipped = scala.collection.mutable.Set.empty[String]
    def escalationRuns(name: String, estSec: Double,
        fn: (SparkSession, String) => DataFrame): Option[Seq[Rep]] =
      if (escSpent + 5 * estSec > escBudget) {
        escSkipped += name
        unhealedSpread += name // first-pass spread must not raise the ring envelope
        None
      } else {
        val t0 = System.nanoTime()
        val runs = Seq.fill(5)(runOne(fn))
        escSpent += (System.nanoTime() - t0) / 1e9
        Some(runs)
      }
    // the trailing Int counts EXTRA RUNS this query executed beyond the
    // reps+warmup everyone pays — escalations stack (a spread re-measure
    // whose healed median still trips the cross-run check runs 5 + 5),
    // and the expected-time term must count what actually executed
    val first = first0.map {
      case (name, fn, r, s)
          if r.error.isEmpty && tools.BenchStats.needsRemeasure(reps, s,
            spreadThresh, spreadHist(name)) =>
        escalationRuns(name, r.sec, fn) match {
          case None => // budget exhausted: first-pass number, flagged
            (name, fn, r, s, false, 0)
          case Some(runs) =>
            val ok = runs.filter(_.error.isEmpty)
            if (ok.isEmpty) {
              // escalation itself failed: keep the first-pass number but
              // say so loudly — the artifact's signature for this case is
              // a spread above the threshold WITHOUT a remeasured flag
              System.err.println(s"bench: re-measure of $name failed in " +
                s"all 5 runs (${runs.head.error.getOrElse("?")}); recording " +
                "the first-pass median with its " +
                "%.1f".formatLocal(java.util.Locale.ROOT, s) +
                "x spread unhealed")
              unhealedSpread += name
              (name, fn, r, s, false, 5)
            } else (name, fn, tools.BenchStats.medianRep(ok),
              tools.BenchStats.spread(ok.map(_.sec)), true, 5)
        }
      case (name, fn, r, s) => (name, fn, r, s, false, 0)
    }
    // UNIFORM sustained load is the spread escalation's blind spot: a
    // machine-level load that slows all reps EQUALLY leaves spread near 1,
    // so nothing above fires, and below loadavg saturation the run-level
    // fingerprint stays quiet too (driver-r13: q149 recorded 6.14 s
    // against a 1.05 s idle median with spread 1.20 and contended:false).
    // The previous run's artifact is already on disk awaiting rotation —
    // any fresh median >3x its previously recorded value (when that run
    // was uncontended) is RE-MEASURED with a fresh median-of-5, and if
    // still inflated the number is recorded but flagged `suspect` with
    // the previous median beside it, so a uniform-load inflation (or a
    // genuine regression — the re-measure reproduces those) is
    // adjudicable from the artifact alone.
    val (prevContended, prevMedians) =
      try {
        outPathOpt.filter(java.nio.file.Files.exists(_)) match {
          case Some(p) =>
            val (c, prevSf, m) = tools.BenchStats.parseArtifact(
              new String(java.nio.file.Files.readAllBytes(p),
                java.nio.charset.StandardCharsets.UTF_8))
            // the artifact path is shared across scale factors: judging
            // an sf0.1 run against an sf0.001 smoke's medians would
            // escalate the entire suite — stand down on a mismatch
            if (prevSf == sfDir) (c, m)
            else (false, Map.empty[String, Double])
          case None => (false, Map.empty[String, Double])
        }
      } catch {
        case scala.util.control.NonFatal(_) =>
          (false, Map.empty[String, Double])
      }
    // the PER-QUERY RING (last RingKeep runs' medians, same-sf and
    // uncontended only): when present, the baseline is the MEDIAN of
    // recent clean runs — statistically sturdier than exactly one
    // previous artifact, whose single anomalous-but-self-labeled-clean
    // number would otherwise own the comparison. Falls back to the
    // previous artifact for queries the ring has never seen.
    val ringRuns: Seq[Map[String, Double]] =
      ringText.map(tools.BenchStats.parseRing(_, sfDir))
        .getOrElse(Seq.empty)
    // ring entries are uncontended by construction, so a ring baseline
    // carries prevContended = false; only the artifact fallback can be
    // contended-suppressed. The SOURCE travels with the number: a
    // still-suspect artifact row labels which baseline fired, so an
    // adjudicator never mistakes a ring median-of-runs for the previous
    // run's own median (they legitimately differ)
    def baseline(name: String): (Option[Double], Boolean, String) =
      tools.BenchStats.ringBaseline(ringRuns, name) match {
        case some @ Some(_) => (some, false, "ring")
        case None => (prevMedians.get(name), prevContended, "prev")
      }
    // load-conditional factor (r14 adjudication): an observably-busy
    // start tightens the escalation to 1.5x so uniform inflations in
    // the 1.5-3x band re-measure instead of recording
    val load1AtStart =
      loadStart.split("\\s+").headOption.flatMap(_.toDoubleOption)
        .getOrElse(0.0)
    val suspectFactor = tools.BenchStats.suspectFactor(load1AtStart,
      Runtime.getRuntime.availableProcessors)
    val second = first.map {
      case (name, fn, r, s, rm, extra)
          if r.error.isEmpty && {
            val (b, bc, _) = baseline(name)
            tools.BenchStats.crossRunSuspect(r.sec, b, bc, suspectFactor)
          } =>
        escalationRuns(name, r.sec, fn) match {
          case None => // budget exhausted: record as suspect, unhealed
            val (b, _, src) = baseline(name)
            (name, fn, r, s, rm, b.map(v => (v, src)), extra)
          case Some(runs) =>
            val ok = runs.filter(_.error.isEmpty)
            if (ok.isEmpty) unhealedSpread += name
            else unhealedSpread -= name // a fresh clean sample replaces it
            val healed = if (ok.isEmpty) r else tools.BenchStats.medianRep(ok)
            val (b, bc, src) = baseline(name)
            val stillSuspect = tools.BenchStats.crossRunSuspect(healed.sec,
              b, bc, suspectFactor)
            (name, fn, healed,
              if (ok.isEmpty) s else tools.BenchStats.spread(ok.map(_.sec)),
              true, if (stillSuspect) b.map(v => (v, src)) else None,
              extra + 5)
        }
      case (name, fn, r, s, rm, extra) =>
        (name, fn, r, s, rm, None, extra)
    }
    val remeasured =
      second.collect { case (n, _, _, _, true, _, _) => n }.toSet
    val suspect =
      second.collect { case (n, _, _, _, _, Some(ps), _) => n -> ps }
        .toMap
    val extraRunsByName =
      second.collect { case (n, _, _, _, _, _, e) if e > 0 => n -> e }
        .toMap
    // One-off I/O stalls (page-cache eviction, JIT deopt) record a number
    // that is not the query's cost: any success exceeding 3x the median is
    // re-run once and the faster time kept (min — the stall is the outlier,
    // not the work). With reps > 1 the per-query median already absorbed
    // outliers, so the extra re-run is skipped.
    val okTimes = second.collect {
      case (_, _, r, _, _, _, _) if r.error.isEmpty => r.sec
    }.sorted
    val median = if (okTimes.isEmpty) 0.0 else okTimes(okTimes.length / 2)
    val results: Seq[(String, Rep)] = second.map {
      case (name, fn, r, _, _, _, _)
          if r.error.isEmpty && reps == 1 && median > 0 &&
            r.sec > 3 * median =>
        val r2 = runOne(fn)
        // a flaky rerun keeps the first, valid result
        name -> (if (r2.error.isEmpty && r2.sec < r.sec) r2 else r)
      case (name, _, r, _, _, _, _) => name -> r
    }
    val spreads = second.collect {
      case (name, _, r, s, _, _, _) if r.error.isEmpty && reps > 1 =>
        name -> s
    }

    // Millisecond precision keeps the one-line JSON short enough that log
    // tail capture retains the whole line, "metric":"total" included.
    // Locale.ROOT: a comma-decimal default locale would corrupt the JSON.
    def ms(v: Double): String = tools.BenchStats.ms3(v)
    val qEntries = results.map { case (k, r) => Json.quote(k) + ":" + ms(r.sec) }
    val qs = qEntries.mkString("{", ",", "}")
    val errs = results.flatMap { case (k, r) => r.error.map(k -> _) }
    val es = errs.map { case (k, v) => Json.quote(k) + ":" + Json.quote(v) }
      .mkString("{", ",", "}")
    val okResults = results.filter(_._2.error.isEmpty)
    val total = okResults.map(_._2.sec).sum
    // one query's fields, shared by the artifact entry and the filtered
    // run's stdout line; median_sec stays first (BenchStats.repFields)
    val spreadByName = spreads.toMap
    def fields(k: String, r: Rep): String = {
      val sp = spreadByName.get(k)
        .map(s => s""","spread":${ms(s)}""").getOrElse("")
      val rm = if (remeasured(k)) ""","remeasured":true""" else ""
      // the baseline SOURCE is labeled: "prev" keeps the r13-era
      // prev_median_sec field (it IS the previous run's median);
      // a ring baseline is a median-of-runs and gets its own name so
      // adjudication against last_run_prev.json never mis-reads it
      val su = suspect.get(k).map { case (p, src) =>
        val field = if (src == "ring") "baseline_sec"
                    else "prev_median_sec"
        s""","suspect":true,"$field":${ms(p)}""" +
          s""","baseline_src":${Json.quote(src)}"""
      }.getOrElse("")
      val er = r.error.map(e => s""","error":${Json.quote(e)}""").getOrElse("")
      val es = if (escSkipped(k)) ""","escalation_skipped":true""" else ""
      val cd = coldByName.get(k)
        .map(c => s""","cold_median_sec":${ms(c)}""").getOrElse("")
      tools.BenchStats.repFields(r) + sp + rm + su + es + cd + er
    }
    if (filtered) results.foreach { case (k, r) =>
      println(s"""{"metric":"query","name":${Json.quote(k)},${fields(k, r)},"sf":${Json.quote(sfDir)}}""")
    } else {
      println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"errors":$es,"failed":${errs.size},"sf":${Json.quote(sfDir)}}""")
      // the same per-query map again as bounded chunks, so a log tail that
      // cut the line above still carries every query's median
      tools.BenchStats.queryParts(qEntries, sfDir).foreach(println)
    }
    // The per-query line grows with every query added; log-tail capture has
    // truncated its head two rounds running, losing the totals. A short
    // trailing summary line is always the LAST thing printed, so any tail
    // window retains it regardless of how long the detail line gets.
    // Top-5 slowest BY NAME: the stored tail has twice truncated the long
    // per-query line, leaving the slowest query anonymous in the verdict.
    val top5 = okResults.map { case (k, r) => k -> r.sec }
      .sortBy(-_._2).take(5)
      .map { case (k, v) => Json.quote(k) + ":" + ms(v) }.mkString("{", ",", "}")
    // Noisiest 5 by run-to-run spread (max/min across the reps): a query
    // here with a big median jump is contention, not a plan change.
    val noisy5 = spreads.sortBy(-_._2).take(5)
      .map { case (k, v) => Json.quote(k) + ":" + ms(v) }.mkString("{", ",", "}")
    val warm = if (reps > 1) 1 else 0
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val loadEnd = loadavg()
    // the run labels ITSELF contended (one definition — BenchStats — so
    // bench_diff.py and any future reader agree with the artifact)
    val load1Start = load1AtStart
    // every escalated query executed extra runs the artifact's total
    // does not count (5 per escalation; a query hit by BOTH the spread
    // and the cross-run path ran 10) — without this term a run with
    // several escalations self-labels contended on an idle machine and
    // the false label discredits real regressions
    val okByName = okResults.toMap
    val extraRunSec = extraRunsByName.toSeq.flatMap { case (n, e) =>
      okByName.get(n).map(r => e.toDouble * r.sec)
    }.sum +
      // cold-mode reps execute outside the reps+warmup accounting; a
      // cold run must not self-label contended on an idle machine
      coldByName.values.sum * coldReps
    val contended = tools.BenchStats.looksContended(wallSec, total,
      reps + warm, extraRunSec, load1Start,
      Runtime.getRuntime.availableProcessors)
    val summary = s"""{"metric":"total","value":${ms(total)},"unit":"sec","failed":${errs.size},"n_queries":${results.size},"reps":$reps,"warmup":$warm,"remeasured":${remeasured.size},"suspect":${suspect.size},"esc_skipped":${escSkipped.size},"wall_sec":${ms(wallSec)},"loadavg_start":${Json.quote(loadStart)},"loadavg_end":${Json.quote(loadEnd)},"contended":$contended,"top5_slowest":$top5,"top5_spread":$noisy5,"sf":${Json.quote(sfDir)}}"""
    // The stdout line above is captured as a LOG TAIL and has truncated
    // mid-map two rounds running, making most per-query regressions
    // unadjudicable. The engine therefore persists its own COMPLETE
    // artifact every run (the reference's make-performance-auditable
    // move — its listener jar writes per-task JSON for the same reason:
    // tools/spark-listener/GOETaskListener.scala:24-43): one line per
    // query so git diffs are per-query, previous artifact rotated to
    // *_prev.json so a round can always diff itself against the last
    // run without depending on any log capture. A filtered run writes
    // none of it: the artifact, history and ring describe full runs only.
    try outPathOpt.filter(_ => !filtered).foreach { outPath =>
      Option(outPath.getParent)
        .foreach(java.nio.file.Files.createDirectories(_))
      if (java.nio.file.Files.exists(outPath)) {
        val prev = outPath.resolveSibling(
          outPath.getFileName.toString
            .replaceFirst("\\.json$", "") + "_prev.json")
        java.nio.file.Files.move(outPath, prev,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      val qLines = results.sortBy(_._1).map { case (k, r) =>
        s"""    ${Json.quote(k)}: {${fields(k, r)}}"""
      }
      // Machine-load fingerprint: loadavg at start/end plus total wall vs
      // the expected executed time ((reps+warmup) x summed medians + each
      // escalated query's median x its ACTUAL extra runs — 5 per
      // escalation, 10 when spread and cross-run both fired). The
      // `contended` verdict comes from BenchStats.looksContended — ONE
      // definition shared with the stdout summary; tools/bench_diff.py
      // reads this field rather than re-deriving it.
      val body =
        s"""{
           |  "sf": ${Json.quote(sfDir)},
           |  "cpus": ${Json.quote(cpus.toString)},
           |  "reps": $reps,
           |  "warmup": $warm,
           |  "spread_rerun_threshold": ${ms(spreadThresh)},
           |  "n_remeasured": ${remeasured.size},
           |  "n_suspect": ${suspect.size},
           |  "n_escalation_skipped": ${escSkipped.size},
           |  "escalation_budget_sec": ${ms(escBudget)},
           |  "cold_mode": $coldMode,
           |  "cold_reps": ${if (coldMode) coldReps else 0},
           |  "loadavg_start": ${Json.quote(loadStart)},
           |  "loadavg_end": ${Json.quote(loadEnd)},
           |  "host_cpus": ${Runtime.getRuntime.availableProcessors},
           |  "contended": $contended,
           |  "wall_sec": ${ms(wallSec)},
           |  "n_queries": ${results.size},
           |  "failed": ${errs.size},
           |  "total_sec": ${ms(total)},
           |  "queries": {
           |${qLines.mkString(",\n")}
           |  }
           |}
           |""".stripMargin
      java.nio.file.Files.write(outPath,
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"""{"metric":"artifact","path":${Json.quote(outPath.toString)}}""")
      // Run-over-run TREND: the rotation keeps exactly one previous
      // artifact, so the performance story beyond two runs was lost.
      // One summary line per run appended to history.jsonl (the
      // engine's status-report discipline applied to its own perf);
      // the listener serves it under /api/bench/history.
      val histPath = outPath.resolveSibling("history.jsonl")
      val histLine = tools.BenchStats.historyLine(
        System.currentTimeMillis(), sfDir, results.size, errs.size,
        total, wallSec, reps, contended, remeasured.size, suspect.size)
      java.nio.file.Files.write(histPath,
        (histLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      // the PER-QUERY RING: this run's successful medians appended,
      // trailing RingKeep lines kept (rewrite, not append — the ring is
      // a bounded baseline, not a log; history.jsonl keeps the story).
      // Contended runs are recorded too (the label travels with the
      // line) and filtered OUT at read time, so a run on a busy box
      // ages baseline entries without poisoning them.
      val ringPath = outPath.resolveSibling("ring.jsonl")
      // spreads travel with the medians: the NEXT run's spread
      // escalation judges itself against this history (minus unhealed
      // spreads — contaminated numbers must not raise the envelope)
      val ringNew = tools.BenchStats.ringLine(System.currentTimeMillis(),
        sfDir, contended,
        okResults.map { case (k, r) => k -> r.sec },
        spreads.filterNot { case (k, _) => unhealedSpread.contains(k) })
      val ringOld =
        if (java.nio.file.Files.exists(ringPath))
          new String(java.nio.file.Files.readAllBytes(ringPath),
            java.nio.charset.StandardCharsets.UTF_8)
            .linesIterator.filter(_.trim.nonEmpty).toSeq
        else Seq.empty[String]
      // temp file + ATOMIC_MOVE: the rewrite spans multiple write()
      // calls (a 300-query line is ~7 KB), and a listener serving
      // /api/bench/ring mid-rewrite would otherwise read a torn
      // prefix — the move makes every read see the old or the new
      // ring, never a partial one
      val ringTmp = ringPath.resolveSibling("ring.jsonl.tmp")
      java.nio.file.Files.write(ringTmp,
        (tools.BenchStats.rotateRing(ringOld :+ ringNew)
          .mkString("", "\n", "\n"))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(ringTmp, ringPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    catch {
      // the artifact is an audit aid; a read-only working dir or a
      // malformed SPARK_GRAFT_BENCH_OUT must not fail the bench itself
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench artifact not written: ${e.getMessage}")
    }
    println(summary) // last: see the summary's comment above
    spark.stop()
    if (errs.nonEmpty) sys.exit(1)
  }
}
