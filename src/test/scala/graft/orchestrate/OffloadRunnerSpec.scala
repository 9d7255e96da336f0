package graft.orchestrate

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.meta.MetadataStore

/** End-to-end offload scenarios — the local mirror of the reference's
  * tests/integration/scenarios (test_offload_basic / test_offload_rpa). */
class OffloadRunnerSpec extends SparkSpec {

  private def tmpBase(): String =
    Files.createTempDirectory("graft_offload_spec").toString

  test("full offload with predicate: stage, load, verify, metadata") {
    val base = tmpBase()
    val cfg = OffloadRunner.OffloadConfig(
      sourceTable = "lineitem",
      sourcePath = sf("sf0.001") + "/lineitem.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      predicateDsl = Some("(column(l_shipdate) < datetime(1997-01-01))"))
    val steps = OffloadRunner.offload(spark, cfg)
    assert(steps.forall(_.ok), steps.mkString("\n"))
    val loaded = spark.read.parquet(s"$base/final")
    val expected = spark.read.parquet(cfg.sourcePath)
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")).count()
    assert(loaded.count() == expected && expected > 0)
    val meta = MetadataStore.load(s"$base/meta", "lineitem").get
    assert(meta.offloadType == "FULL")
    assert(meta.incrementalPredicateType.contains("PREDICATE"))
  }

  test("expectations gate: a passing suite adds a green step; a " +
      "violated rule fails the command with per-rule counts") {
    import graft.verify.Expectations._
    val base = tmpBase()
    def cfgWith(rules: Seq[Rule], out: String) =
      OffloadRunner.OffloadConfig(
        sourceTable = "orders",
        sourcePath = sf("sf0.001") + "/orders.parquet",
        stagingPath = s"$base/$out/staging",
        finalPath = s"$base/$out/final",
        metadataDir = s"$base/$out/meta",
        expectations = rules)
    val good = OffloadRunner.offload(spark, cfgWith(Seq(
      NotNull("final", "o_custkey"),
      Unique("final", Seq("o_orderkey"))), "good"))
    assert(good.forall(_.ok), good.mkString("\n"))
    assert(good.exists(s => s.name == "expectations" && s.ok))

    // a violated rule fails the gate step and aborts the command
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[OffloadRunner.StepResult]
    intercept[IllegalStateException] {
      OffloadRunner.offload(spark, cfgWith(Seq(
        // every order set includes statuses outside this subset
        AcceptedValues("final", "o_orderstatus", Seq("O"))), "bad")
        .copy(progress = Some(seen += _)))
    }
    val step = seen.find(_.name == "expectations").get
    assert(!step.ok)
    assert(step.detail.contains("accepted_values:final.o_orderstatus"))
    // the gate runs BEFORE the load — nothing landed, so a retry after
    // fixing the data cannot double-append the slice
    val fs = new org.apache.hadoop.fs.Path(s"$base/bad/final")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/bad/final")))

    // referential rules are rejected loudly, never silently green
    val seenRef = scala.collection.mutable.ArrayBuffer
      .empty[OffloadRunner.StepResult]
    intercept[IllegalArgumentException] {
      OffloadRunner.offload(spark, cfgWith(Seq(
        RefIntegrity("final", "o_custkey", "customer", "c_custkey")),
        "ref").copy(progress = Some(seenRef += _)))
    }
    assert(seenRef.exists(s => s.name == "expectations" && !s.ok))
  }

  test("graded expectations gate: warn-level counts pass the command " +
      "and surface in the step detail; error-level counts abort it") {
    import graft.verify.Expectations._
    val base = tmpBase()
    def cfgWith(graded: Seq[Graded], out: String) =
      OffloadRunner.OffloadConfig(
        sourceTable = "orders",
        sourcePath = sf("sf0.001") + "/orders.parquet",
        stagingPath = s"$base/$out/staging",
        finalPath = s"$base/$out/final",
        metadataDir = s"$base/$out/meta",
        gradedExpectations = graded)
    // statuses beyond {O} exist, so this rule has violations — a huge
    // error budget downgrades them to a warning that must NOT abort
    val warnRun = OffloadRunner.offload(spark, cfgWith(Seq(
      Graded(AcceptedValues("final", "o_orderstatus", Seq("O")),
        warnAbove = 0L, errorAbove = 1000000000L)), "warn"))
    assert(warnRun.forall(_.ok), warnRun.mkString("\n"))
    val warnStep = warnRun.find(_.name == "expectations_graded").get
    assert(warnStep.detail.contains("warnings:") &&
      warnStep.detail.contains("accepted_values:final.o_orderstatus"))
    assert(spark.read.parquet(s"$base/warn/final").count() > 0)

    // the same rule with zero tolerance is fatal, before anything lands
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[OffloadRunner.StepResult]
    intercept[IllegalStateException] {
      OffloadRunner.offload(spark, cfgWith(Seq(
        Graded(AcceptedValues("final", "o_orderstatus", Seq("O")))),
        "err").copy(progress = Some(seen += _)))
    }
    val errStep = seen.find(_.name == "expectations_graded").get
    assert(!errStep.ok &&
      errStep.detail.contains("accepted_values:final.o_orderstatus"))
    val fs = new org.apache.hadoop.fs.Path(s"$base/err/final")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/err/final")))
  }

  test("incremental offload: second run only moves rows beyond the HWM") {
    val base = tmpBase()
    def cfgFor(pred: String) = OffloadRunner.OffloadConfig(
      sourceTable = "lineitem",
      sourcePath = sf("sf0.001") + "/lineitem.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      predicateDsl = Some(pred),
      incrementalKey = Seq("l_orderkey"))
    // first slice: orderkey < 700 (sf0.001 orderkeys top out ~1500)
    val s1 = OffloadRunner.offload(spark,
      cfgFor("(column(l_orderkey) < numeric(700))"))
    assert(s1.forall(_.ok))
    val hwm1 = MetadataStore.load(s"$base/meta", "lineitem")
      .get.incrementalHighValue
    assert(hwm1.nonEmpty && hwm1.head.toLong < 700)
    // second run without predicate: should only take rows beyond HWM
    val s2 = OffloadRunner.offload(spark, cfgFor(
      "(column(l_orderkey) IS NOT NULL)").copy(predicateDsl = None))
    assert(s2.forall(_.ok))
    val hwm2 = MetadataStore.load(s"$base/meta", "lineitem")
      .get.incrementalHighValue
    assert(hwm2.head.toLong > hwm1.head.toLong)
    val total = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .agg(max(col("l_orderkey"))).head().getLong(0)
    assert(hwm2.head.toLong == total)
    // append semantics: final table now holds both slices = whole source
    val finalCount = spark.read.parquet(s"$base/final").count()
    val sourceCount = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet").count()
    assert(finalCount == sourceCount)
    // an empty third increment must not regress the HWM
    val s3 = OffloadRunner.offload(spark, cfgFor("x").copy(predicateDsl = None))
    assert(s3.forall(_.ok))
    val hwm3 = MetadataStore.load(s"$base/meta", "lineitem")
      .get.incrementalHighValue
    assert(hwm3 == hwm2)
  }

  test("lock, transforms, sort columns and task metrics ride the offload") {
    import graft.sink.StagedLoad.Transform
    val base = tmpBase()
    val steps = OffloadRunner.offload(spark, OffloadRunner.OffloadConfig(
      sourceTable = "part",
      sourcePath = sf("sf0.001") + "/part.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      transforms = Map("p_brand" -> Transform.Translate("#", "_"),
                       "p_retailprice" -> Transform.Null),
      sortCols = Seq("p_partkey"),
      withLock = true))
    assert(steps.forall(_.ok), steps.mkString("\n"))
    val m = steps.find(_.name == "task_metrics").get
    assert(m.detail.matches("recordsWritten=\\d+ transport_rows=\\d+ " +
      "staged_rows=\\d+ transport_exact=true tasks=\\d+"), m.detail)
    // the transport accounting is EXACT for a serial offload (r15 ask
    // #8): the listener's rows-written delta across stage_and_load
    // equals the staged count (one write to staging, whose files then
    // move into the final table), and the slice is non-empty
    val kv = m.detail.split(" ")
      .map(_.split("=")).map(a => a(0) -> a(1)).toMap
    val staged = kv("staged_rows").toLong
    assert(staged > 0L)
    assert(kv("transport_rows").toLong === staged)
    val out = spark.read.parquet(s"$base/final")
    assert(out.filter(org.apache.spark.sql.functions.col("p_brand")
      .contains("#")).count() == 0)
    assert(out.filter(org.apache.spark.sql.functions.col("p_retailprice")
      .isNotNull).count() == 0)
    // lock released after the run
    assert(OffloadLock.tryAcquire(s"$base/meta/locks", "part").isDefined)
  }

  test("a serial full offload reads the source twice and nothing else") {
    // source → staging (which also observes the staged count and HWM;
    // the staged files then move into the final table), and
    // verify_counts' fresh count of the source slice. A read of staging
    // or the final table, or a separate HWM probe, adds one more pass.
    val base = tmpBase()
    val cfg = OffloadRunner.OffloadConfig(
      sourceTable = "lineitem",
      sourcePath = sf("sf0.001") + "/lineitem.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      incrementalKey = Seq("l_orderkey"))
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    val steps =
      try {
        val out = OffloadRunner.offload(spark, cfg)
        org.apache.spark.graftbridge.ListenerBridge
          .waitUntilListenerBusEmpty(spark.sparkContext)
        out
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(steps.forall(_.ok), steps.mkString("\n"))
    val landed = spark.read.parquet(cfg.finalPath).count()
    assert(landed > 0L)
    assert(listener.snapshot.map(_.recordsRead).sum == 2 * landed)
    val meta = MetadataStore.load(cfg.metadataDir, "lineitem").get
    val expectedMax = spark.read.parquet(cfg.sourcePath)
      .agg(max(col("l_orderkey"))).head().getLong(0)
    assert(meta.incrementalHighValue == Seq(expectedMax.toString))
  }

  /** ERROR log events (message and exception) while `body` runs, up to
    * a listener-bus drain: a listener's error is logged on the bus thread. */
  private def errorsDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("errorsDuring", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(s"${e.getMessage.getFormattedMessage} ${e.getThrown}")
    }
    appender.start()
    val ctx = LoggerContext.getContext(false)
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
    try {
      val out = body
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      (out, seen.toArray.toSeq.map(_.toString))
    } finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  /** Spark jobs started while `body` runs, counted between listener-bus
    * drains; `mark` (drains, then reads the count so far) lets a body
    * split its own count. */
  private def jobsDuring[T](body: (() => Int) => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def mark(): Int = {
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      jobs.get
    }
    mark()
    spark.sparkContext.addSparkListener(listener)
    try { val out = body(() => mark()); (out, mark()) }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  private def lineitemCfg(base: String, key: String) =
    OffloadRunner.OffloadConfig(
      sourceTable = "lineitem",
      sourcePath = sf("sf0.001") + "/lineitem.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      incrementalKey = Seq(key))

  test("Spark jobs per offload path: full, append and one chunk") {
    // full offload with an HWM key: the source's schema read, the staging
    // write (which observes the rows and HWM) and verify_counts' recount
    // (two jobs: its shuffle stage and the result); no job reads staging
    // or the final table back. An append runs the same four.
    val full = lineitemCfg(tmpBase(), "l_orderkey")
    val (fullSteps, fullJobs) = jobsDuring(_ => OffloadRunner.offload(spark,
      full.copy(predicateDsl = Some("(column(l_orderkey) < numeric(700))"))))
    assert(fullSteps.forall(_.ok), fullSteps.mkString("\n"))
    assert(fullJobs == 4, s"full offload ran $fullJobs jobs")
    // the next run appends the rows beyond the stored HWM
    val (appendSteps, appendJobs) =
      jobsDuring(_ => OffloadRunner.offload(spark, full))
    assert(appendSteps.exists(_.detail.contains("mode=append")), appendSteps)
    assert(appendJobs == 4, s"append offload ran $appendJobs jobs")
    // one append chunk, from the second chunk's plan to the third's: the
    // pre-append HWM probe (two jobs) and the staging write
    val chunked = lineitemCfg(tmpBase(), "l_shipdate")
    val marks = scala.collection.mutable.ArrayBuffer.empty[Int]
    jobsDuring { mark =>
      OffloadRunner.offloadChunked(spark, chunked.copy(progress = Some(s =>
          if (s.name == "chunk_plan") marks += mark())),
        c => date_format(col(c), "yyyy-MM"), hwmCol = "l_shipdate",
        maxRowsPerChunk = 2000L)
    }
    assert(marks.length > 2, marks)
    assert(marks(2) - marks(1) == 3,
      s"one append chunk ran ${marks(2) - marks(1)} jobs")
  }

  test("dry run renders steps without writing anything") {
    val base = tmpBase()
    val steps = OffloadRunner.offload(spark, OffloadRunner.OffloadConfig(
      sourceTable = "lineitem",
      sourcePath = sf("sf0.001") + "/lineitem.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      dryRun = true))
    assert(steps.forall(s => s.ok && s.detail.startsWith("[dry-run]")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/final")))
    assert(MetadataStore.load(s"$base/meta", "lineitem").isEmpty)
  }

  test("chunked offload moves the table in capped chunks, HWM per chunk") {
    val base = tmpBase()
    val cfg = OffloadRunner.OffloadConfig(
      sourceTable = "lineitem",
      sourcePath = sf("sf0.001") + "/lineitem.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      incrementalKey = Seq("l_shipdate"))
    val chunkRuns = OffloadRunner.offloadChunked(spark, cfg,
      c => date_format(col(c), "yyyy-MM"), hwmCol = "l_shipdate",
      maxRowsPerChunk = 2000L)
    assert(chunkRuns.length > 1, s"expected multiple chunks: ${chunkRuns.length}")
    assert(chunkRuns.forall(_.forall(_.ok)))
    val out = spark.read.parquet(s"$base/final")
    val src = spark.read.parquet(cfg.sourcePath)
    assert(out.count() == src.count())
    val meta = MetadataStore.load(s"$base/meta", "lineitem").get
    val expectedMax = src.agg(max(col("l_shipdate"))).head().getAs[Any](0)
    assert(meta.incrementalHighValue.head == String.valueOf(expectedMax))
  }

  test("chunked offload retry resumes at the HWM without re-appending") {
    val base = tmpBase()
    val cfg = OffloadRunner.OffloadConfig(
      sourceTable = "lineitem",
      sourcePath = sf("sf0.001") + "/lineitem.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      incrementalKey = Seq("l_shipdate"))
    def run() = OffloadRunner.offloadChunked(spark, cfg,
      c => date_format(col(c), "yyyy-MM"), hwmCol = "l_shipdate",
      maxRowsPerChunk = 2000L)
    val first = run()
    assert(first.length > 1)
    val n = spark.read.parquet(s"$base/final").count()
    // a full rerun (the worst-case "retry") must plan ZERO chunks and leave
    // the target untouched — previously it re-appended the entire table
    val retry = run()
    assert(retry.isEmpty, s"retry planned ${retry.length} chunks")
    assert(spark.read.parquet(s"$base/final").count() == n)
  }

  test("retry plans from copied stats without touching the source") {
    val base = tmpBase()
    val cfg = OffloadRunner.OffloadConfig(
      sourceTable = "lineitem",
      sourcePath = sf("sf0.001") + "/lineitem.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      incrementalKey = Seq("l_shipdate"))
    val first = OffloadRunner.offloadChunked(spark, cfg,
      c => date_format(col(c), "yyyy-MM"), hwmCol = "l_shipdate",
      maxRowsPerChunk = 2000L)
    assert(first.nonEmpty)
    // the live profiling pass persisted its chunk-key profile as the copy
    val rec = graft.meta.StatsStore.load(s"$base/meta", "lineitem").get
    assert(rec.partitions.nonEmpty)
    // poisoned source path: a fully-committed retry planning from the copy
    // must return WITHOUT opening the source at all — stats-based planning
    // is provably zero-scan
    val poisoned = cfg.copy(sourcePath = s"$base/path_that_does_not_exist")
    val retry = OffloadRunner.offloadChunked(spark, poisoned,
      c => date_format(col(c), "yyyy-MM"), hwmCol = "l_shipdate",
      maxRowsPerChunk = 2000L, planFromCopiedStats = true)
    assert(retry.isEmpty)
    // and the copy-planned chunk list matches the live plan shape when
    // there IS outstanding work (no committed HWM)
    val fromStats = graft.meta.StatsStore.partitionsBeyond(rec, Nil)
    assert(fromStats.map(_.name) == rec.partitions.map(_.name))
  }

  test("chunk slices carry a parquet-pushable hwm range next to the key filter") {
    val base = tmpBase()
    val cfg = OffloadRunner.OffloadConfig(
      sourceTable = "lineitem",
      sourcePath = sf("sf0.001") + "/lineitem.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      incrementalKey = Seq("l_shipdate"))
    val runs = OffloadRunner.offloadChunked(spark, cfg,
      c => date_format(col(c), "yyyy-MM"), hwmCol = "l_shipdate",
      maxRowsPerChunk = 2000L)
    assert(runs.nonEmpty && runs.forall(_.forall(_.ok)))
    // the stats copy records observed hwm bounds per chunk key
    val rec = graft.meta.StatsStore.load(s"$base/meta", "lineitem").get
    assert(rec.partitions.nonEmpty)
    assert(rec.partitions.forall(p => p.hwmLow.nonEmpty && p.hwmHigh.nonEmpty))
    // and the conjunct shape the runner adds reaches the parquet scan as a
    // pushed filter (the derived date_format key alone pushes NOTHING)
    val raw = spark.read.parquet(cfg.sourcePath)
    val lo = java.time.LocalDateTime.parse("1995-03-01T00:00")
    val hi = java.time.LocalDateTime.parse("1995-03-31T00:00")
    val sliced = raw.filter(
      date_format(col("l_shipdate"), "yyyy-MM").isInCollection(Seq("1995-03"))
        && col("l_shipdate") >= lit(lo) && col("l_shipdate") <= lit(hi))
    sliced.collect()
    val scan = sliced.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThanOrEqual(l_shipdate"), scan)
  }

  test("torn chunk (append committed, HWM write died) is reconciled, not re-appended") {
    val base = tmpBase()
    val cfg = OffloadRunner.OffloadConfig(
      sourceTable = "lineitem",
      sourcePath = sf("sf0.001") + "/lineitem.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      incrementalKey = Seq("l_shipdate"))
    val src = spark.read.parquet(cfg.sourcePath)
    val m0 = src.select(date_format(col("l_shipdate"), "yyyy-MM").as("m"))
      .distinct().orderBy("m").head().getString(0)
    val slice0 = src.filter(date_format(col("l_shipdate"), "yyyy-MM") === m0)
    // simulate the torn state: chunk m0's append committed to the final
    // table, but the process died before save_metadata — only the
    // pending-chunk marker survives.
    slice0.write.parquet(s"$base/final")
    val hwm0 = String.valueOf(
      slice0.agg(max(col("l_shipdate"))).head().getAs[Any](0))
    MetadataStore.save(s"$base/meta", graft.meta.OffloadMetadata(
      sourceTable = "lineitem", backendTable = s"$base/final",
      offloadType = "INCREMENTAL", incrementalKey = Seq("l_shipdate"),
      incrementalHighValue = Nil,
      pendingChunkKeys = Seq(m0), pendingChunkHwm = Seq(hwm0)))
    // retry: reconcile must commit m0's HWM from the marker and plan only
    // the REMAINING months — m0 must not be appended a second time.
    val retry = OffloadRunner.offloadChunked(spark, cfg,
      c => date_format(col(c), "yyyy-MM"), hwmCol = "l_shipdate",
      maxRowsPerChunk = 2000L)
    assert(retry.nonEmpty)
    val out = spark.read.parquet(s"$base/final")
    assert(out.count() == src.count(), "duplicate rows after reconcile")
    assert(out.filter(date_format(col("l_shipdate"), "yyyy-MM") === m0).count()
      == slice0.count())
    val meta = MetadataStore.load(s"$base/meta", "lineitem").get
    assert(meta.pendingChunkKeys.isEmpty && meta.pendingChunkHwm.isEmpty)
    val expectedMax = src.agg(max(col("l_shipdate"))).head().getAs[Any](0)
    assert(meta.incrementalHighValue.head == String.valueOf(expectedMax))
  }

  test("torn chunk whose append never started re-runs cleanly") {
    val base = tmpBase()
    val cfg = OffloadRunner.OffloadConfig(
      sourceTable = "lineitem",
      sourcePath = sf("sf0.001") + "/lineitem.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      incrementalKey = Seq("l_shipdate"))
    // marker exists but the final table was never written: reconcile must
    // clear the marker WITHOUT advancing the HWM, and the chunk re-runs.
    MetadataStore.save(s"$base/meta", graft.meta.OffloadMetadata(
      sourceTable = "lineitem", backendTable = s"$base/final",
      offloadType = "INCREMENTAL", incrementalKey = Seq("l_shipdate"),
      incrementalHighValue = Nil,
      pendingChunkKeys = Seq("1992-01"), pendingChunkHwm = Seq("1992-01-31 00:00:00")))
    // once a session has used an Observation, Spark's observation
    // listener logs an ERROR for every failed read, such as one of an
    // absent final table
    spark.range(1).observe(org.apache.spark.sql.Observation(),
      count(lit(1))).collect()
    val (runs, errors) = errorsDuring(OffloadRunner.offloadChunked(spark, cfg,
      c => date_format(col(c), "yyyy-MM"), hwmCol = "l_shipdate",
      maxRowsPerChunk = 2000L))
    assert(runs.nonEmpty && runs.forall(_.forall(_.ok)))
    // the reconcile checks for the absent final table before reading it
    assert(!errors.exists(_.contains("PATH_NOT_FOUND")), errors.mkString("\n"))
    val src = spark.read.parquet(cfg.sourcePath)
    assert(spark.read.parquet(s"$base/final").count() == src.count())
  }

  test("command audit persists begin/end/step rows across store re-opens") {
    import graft.meta.CommandAudit
    val base = tmpBase()
    val cfg = OffloadRunner.OffloadConfig(
      sourceTable = "region",
      sourcePath = sf("sf0.001") + "/region.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      executionId = Some("exec-spec-1"))
    val steps = OffloadRunner.offload(spark, cfg)
    assert(steps.forall(_.ok))
    // re-open the store fresh — the audit must come from disk, not memory
    // (the reference's repo outlives any one process; so does this file)
    val runs = CommandAudit.open(s"$base/meta").runs()
    assert(runs.length == 1)
    val run = runs.head
    assert(run.executionId == "exec-spec-1")
    assert(run.commandType == "OFFLOAD")
    assert(run.commandInput == "region")
    assert(run.status == CommandAudit.Success)
    assert(run.endTs.exists(_ >= run.startTs))
    assert(run.steps.map(_.step) == steps.map(_.name))
    assert(run.steps.forall(_.status == CommandAudit.Success))
    assert(run.steps.forall(s => s.endTs.exists(_ >= s.startTs)))
  }

  test("failed command audits ERROR on the failing step and the command") {
    import graft.meta.CommandAudit
    val base = tmpBase()
    val cfg = OffloadRunner.OffloadConfig(
      sourceTable = "missing",
      sourcePath = s"$base/no_such.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta")
    intercept[Exception] { OffloadRunner.offload(spark, cfg) }
    val runs = CommandAudit.open(s"$base/meta").runs()
    assert(runs.length == 1)
    assert(runs.head.status == CommandAudit.Error)
  }

  test("chunked offload audits one chunk row per chunk with row counts") {
    import graft.meta.CommandAudit
    val base = tmpBase()
    val cfg = OffloadRunner.OffloadConfig(
      sourceTable = "lineitem",
      sourcePath = sf("sf0.001") + "/lineitem.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      incrementalKey = Seq("l_shipdate"))
    val chunkRuns = OffloadRunner.offloadChunked(spark, cfg,
      c => date_format(col(c), "yyyy-MM"), hwmCol = "l_shipdate",
      maxRowsPerChunk = 2000L)
    assert(chunkRuns.length > 1)
    val run = CommandAudit.open(s"$base/meta").runs().head
    assert(run.status == CommandAudit.Success)
    assert(run.chunks.length == chunkRuns.length)
    assert(run.chunks.map(_.chunkNumber) == (1 to chunkRuns.length))
    assert(run.chunks.forall(_.status == CommandAudit.Success))
    assert(run.chunks.forall(_.partitions.nonEmpty))
    // each chunk audits its staged rows: strictly positive, and together
    // they are the table
    assert(run.chunks.forall(_.rowCount.exists(_ > 0)))
    assert(run.chunks.flatMap(_.rowCount).sum ==
      spark.read.parquet(s"$base/final").count())
    // run history summary rolls the same rows up
    val hist = StatusReport.runHistory(s"$base/meta")
    assert(hist.length == 1 && hist.head.chunks == chunkRuns.length)
    assert(hist.head.rows_written > 0 && hist.head.failed_steps == 0)
  }

  test("concurrent offloads of different tables keep uncrossed audit histories") {
    import graft.meta.CommandAudit
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    val base = tmpBase()
    def cfgFor(table: String) = OffloadRunner.OffloadConfig(
      sourceTable = table,
      sourcePath = sf("sf0.001") + s"/$table.parquet",
      stagingPath = s"$base/staging/$table",
      finalPath = s"$base/final/$table",
      metadataDir = s"$base/meta")
    // the listener's pool locks per-table, so two offloads of DIFFERENT
    // tables into one metadata dir genuinely overlap — this used to seed
    // two CommandAudit instances with the same max id and cross-wire the
    // folded run histories (a step/end from command A landing on B)
    val fa = Future(OffloadRunner.offload(spark, cfgFor("region")))
    val fb = Future(OffloadRunner.offload(spark, cfgFor("nation")))
    val (sa, sb) = (Await.result(fa, 180.seconds), Await.result(fb, 180.seconds))
    assert(sa.forall(_.ok), sa.mkString("\n"))
    assert(sb.forall(_.ok), sb.mkString("\n"))
    val runs = CommandAudit.open(s"$base/meta").runs()
    assert(runs.length == 2)
    assert(runs.map(_.commandInput).toSet == Set("region", "nation"))
    runs.foreach { r =>
      assert(r.status == CommandAudit.Success, r.toString)
      assert(r.endTs.exists(_ >= r.startTs))
      assert(r.steps.nonEmpty && r.steps.forall(_.status == CommandAudit.Success))
    }
    // every event id in the shared log is unique — the collision fixed by
    // the per-dir singleton in CommandAudit.open
    val ids = runs.flatMap(r =>
      r.commandId +: (r.steps.map(_.stepId) ++ r.chunks.map(_.chunkId)))
    assert(ids.distinct.length == ids.length, s"duplicate event ids: $ids")
    // step lists are per-execution and must not leak across commands
    val steps = runs.map(r => r.executionId -> r.steps.map(_.step)).toMap
    assert(steps.size == 2 && steps.values.forall(_.nonEmpty))
  }

  test("metadata json round-trips") {
    import graft.meta.OffloadMetadata
    val m = OffloadMetadata("src.t", "backend.t", "INCREMENTAL",
      incrementalKey = Seq("a", "b"),
      incrementalHighValue = Seq("2024-01-01", "42"),
      incrementalPredicateType = Some("PREDICATE"),
      incrementalPredicateValue = Seq("(column(A) = numeric(1))"),
      bucketColumns = Seq("a"), sortColumns = Seq("b"),
      snapshotId = Some(123L),
      pendingChunkKeys = Seq("2024-02"),
      pendingChunkHwm = Seq("2024-02-29", "43"))
    val rt = MetadataStore.fromJson(MetadataStore.toJson(m))
    assert(rt == m)
  }

  test("full offload against the JDBC repository backend: metadata, " +
      "incremental HWM, and audit all live in the database") {
    import graft.meta.CommandAudit
    val base = tmpBase()
    val url = s"jdbc:derby:$base/repo"
    def cfgFor(pred: Option[String]) = OffloadRunner.OffloadConfig(
      sourceTable = "lineitem",
      sourcePath = sf("sf0.001") + "/lineitem.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = url, // the ONLY change vs the file-backend runs
      predicateDsl = pred,
      incrementalKey = Seq("l_orderkey"))
    val s1 = OffloadRunner.offload(spark,
      cfgFor(Some("(column(l_orderkey) < numeric(700))")))
    assert(s1.forall(_.ok), s1.mkString("\n"))
    val hwm1 = MetadataStore.load(url, "lineitem")
      .get.incrementalHighValue
    assert(hwm1.nonEmpty && hwm1.head.toLong < 700)
    // incremental second run reads its HWM from the database
    val s2 = OffloadRunner.offload(spark, cfgFor(None))
    assert(s2.forall(_.ok), s2.mkString("\n"))
    val hwm2 = MetadataStore.load(url, "lineitem")
      .get.incrementalHighValue
    assert(hwm2.head.toLong > hwm1.head.toLong)
    val total = spark.read.parquet(s"$base/final").count()
    assert(total === spark.read.parquet(cfgFor(None).sourcePath).count())
    // both commands audited in the repo with their own step lists
    val runs = CommandAudit.open(url).runs()
    assert(runs.length === 2)
    assert(runs.forall(_.status == CommandAudit.Success))
    assert(runs.forall(_.steps.nonEmpty))
    assert(runs.map(_.commandId).distinct.length === 2)
  }

  test("two CONCURRENT offloads share one JDBC repository: atomic HWM " +
      "commits, database-allocated ids never cross-wire") {
    import graft.meta.CommandAudit
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    val base = tmpBase()
    val url = s"jdbc:derby:$base/repo"
    def cfgFor(table: String) = OffloadRunner.OffloadConfig(
      sourceTable = table,
      sourcePath = sf("sf0.001") + s"/$table.parquet",
      stagingPath = s"$base/staging/$table",
      finalPath = s"$base/final/$table",
      metadataDir = url)
    val fa = Future(OffloadRunner.offload(spark, cfgFor("region")))
    val fb = Future(OffloadRunner.offload(spark, cfgFor("nation")))
    val (sa, sb) =
      (Await.result(fa, 180.seconds), Await.result(fb, 180.seconds))
    assert(sa.forall(_.ok), sa.mkString("\n"))
    assert(sb.forall(_.ok), sb.mkString("\n"))
    // each table's metadata row committed whole
    Seq("region", "nation").foreach { t =>
      val m = MetadataStore.load(url, t).get
      assert(m.sourceTable == t && m.offloadType == "FULL")
    }
    val runs = CommandAudit.open(url).runs()
    assert(runs.length === 2)
    assert(runs.map(_.commandInput).toSet === Set("region", "nation"))
    runs.foreach { r =>
      assert(r.status == CommandAudit.Success, r.toString)
      assert(r.steps.nonEmpty &&
        r.steps.forall(_.status == CommandAudit.Success))
    }
    // identity-column ids: unique across the two interleaved commands
    val ids = runs.flatMap(r => r.steps.map(_.stepId))
    assert(ids.distinct.length === ids.length)
    assert(runs.map(_.commandId).distinct.length === 2)
  }
}
