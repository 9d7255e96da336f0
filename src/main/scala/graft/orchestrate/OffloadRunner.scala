package graft.orchestrate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{MetadataStore, OffloadMetadata}
import graft.plan.Boundary
import graft.predicate.OffloadPredicate
import graft.sink.{DdlRenderer, StagedLoad}
import graft.types.{TypeMapper, TypeOverrides}
import graft.verify.CrossValidator

/** Offload orchestration: the step runner + the end-to-end offload command.
  *
  * Mirrors the reference's orchestration spine — enumerated steps with
  * dry-run rendering (`src/goe/orchestration/command_steps.py:29-112`,
  * `messages.offload_step`), command audit
  * (`orchestration_runner.py:91-543`) — collapsed onto Spark's driver: each
  * step is a closure; dry-run records the step without executing, which under
  * Spark is natural because DataFrame programs are lazy plans until an
  * action.
  */
object OffloadRunner {

  /** One step's record: JSON fields for the REST response and the SSE
    * step frame, a text line for the CLI. */
  final case class StepResult(name: String, ok: Boolean, detail: String,
                              millis: Long) {
    def jsonFields: String =
      s""""step": ${graft.Json.quote(name)}, "ok": $ok, "detail": """ +
        s"""${graft.Json.quote(detail)}, "millis": $millis"""
    def line: String =
      f"${if (ok) "ok " else "ERR"} $name%-18s $millis%6d ms  $detail"
  }

  /** Persisted-audit hookup: when present, every [[Runner.step]] writes
    * step_begin/step_end rows into the metadata store's command audit —
    * the reference's `start_command_step`/`end_command_step`
    * (`orchestration_repo_client.py:331-353`). */
  final case class AuditContext(audit: graft.meta.CommandAudit,
                                executionId: String, commandType: String)

  final class Runner(dryRun: Boolean, auditCtx: Option[AuditContext] = None) {
    val results: ArrayBuffer[StepResult] = ArrayBuffer.empty
    // observers receive each StepResult as it lands (live-progress feed)
    val observers: ArrayBuffer[StepResult => Unit] = ArrayBuffer.empty
    private def record(r: StepResult): Unit = {
      results += r
      observers.foreach(f => f(r))
    }
    def step[T](name: String, render: => String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      val stepId = auditCtx.map(a =>
        a.audit.startStep(a.executionId, a.commandType, name))
      if (dryRun) {
        record(StepResult(name, ok = true, s"[dry-run] $render", 0L))
        auditCtx.foreach(a => a.audit.endStep(stepId.get,
          graft.meta.CommandAudit.Success, "[dry-run]"))
        None
      } else {
        try {
          val out = body
          val detail = render
          record(StepResult(name, ok = true, detail,
            (System.nanoTime() - t0) / 1000000L))
          auditCtx.foreach(a => a.audit.endStep(stepId.get,
            graft.meta.CommandAudit.Success, detail))
          Some(out)
        } catch {
          case e: Exception =>
            record(StepResult(name, ok = false,
              s"$render FAILED: ${e.getMessage}",
              (System.nanoTime() - t0) / 1000000L))
            auditCtx.foreach(a => a.audit.endStep(stepId.get,
              graft.meta.CommandAudit.Error, String.valueOf(e.getMessage)))
            throw e
        }
      }
    }
  }

  final case class OffloadConfig(
      sourceTable: String,
      sourcePath: String,
      stagingPath: String,
      finalPath: String,
      metadataDir: String,
      predicateDsl: Option[String] = None,
      incrementalKey: Seq[String] = Nil,
      partitionCols: Seq[String] = Nil,
      dryRun: Boolean = false,
      transforms: Map[String, StagedLoad.Transform] = Map.empty,
      sortCols: Seq[String] = Nil,
      extractionPolicy: graft.source.ExtractionProjection.Policy =
        graft.source.ExtractionProjection.Policy(),
      withLock: Boolean = false,
      // per-type-class column overrides (--integer-8-columns etc.) applied
      // to the canonical schema before the typed load
      typeOverrides: TypeOverrides = TypeOverrides(),
      // BigQuery final-table sink (assembled always; executed only behind
      // spark.graft.bigquery.execute — see BigQuerySink)
      bigquerySink: Option[graft.sink.BigQuerySink.Config] = None,
      // DDL-file emission (`--ddl-file`): when set, the rendered
      // final-table DDL is written to this path (or AUTO → a timestamped
      // file under <metadataDir>/log) as the execution artifact and NO
      // table is created/loaded — the reference's ddl_file operation
      // forces execute off (`operation/ddl_file.py`, `offload.py:66-87`).
      ddlFile: Option[String] = None,
      ddlDialect: DdlRenderer.Dialect = DdlRenderer.Dialect.SparkSql,
      // Orchestration execution id (the reference's ExecutionId UUID,
      // `execution_id.py`); generated per command when absent. All audit
      // rows of one command invocation share it.
      executionId: Option[String] = None,
      // live step-progress observer (the listener's SSE feed taps in here)
      progress: Option[StepResult => Unit] = None,
      // data-quality gate on the SLICE ABOUT TO LOAD (the reference's
      // staged-data validation generalized to the declarative rule
      // engine): evaluated as its own audited step BEFORE stage_and_load
      // so a violation aborts with nothing landed — in incremental mode
      // a post-append failure would leave the slice loaded with the HWM
      // unadvanced, and the natural retry would append it again. Rules'
      // table names are ignored (the slice IS the relation under test);
      // referential rules are rejected (one relation — the batch
      // `expect` CLI audits cross-table integrity). Whole-table
      // end-state audits likewise belong to `expect` on the final path.
      expectations: Seq[graft.verify.Expectations.Rule] = Nil,
      /** Graded (warn_if / error_if) rules: violations above a rule's
        * `errorAbove` fail the gate like a plain rule; counts in the
        * (warnAbove, errorAbove] band only WARN — surfaced in the step
        * detail, never fatal. Same one-pass fold, same slice. */
      gradedExpectations: Seq[graft.verify.Expectations.Graded] = Nil)

  object OffloadConfig {

    /** The offload request: `Cli offload`'s flags (`--partition-by`) and
      * the REST body's keys (`partition_by`) are its fields — `source`,
      * `final` and `meta` (required), `table`, `staging`, `predicate`,
      * `incremental_key`, `partition_by`, `dry_run` (`true` or `false`),
      * `ddl_file`, `ddl_dialect`, `expect` (a JSONL rules file) and the
      * type overrides of [[TypeOverrides.fromFields]]. Column lists are
      * comma-separated, repeated or both; any other field takes its last
      * value. The fields are the keys read here, so a key nothing reads
      * is unknown. A missing field raises NoSuchElementException, an
      * unknown field or a malformed value IllegalArgumentException,
      * naming the field. */
    def fromFields(spark: SparkSession, values: Map[String, Seq[String]])
        : OffloadConfig = {
      val read = scala.collection.mutable.Set.empty[String]
      def get(k: String) = { read += k; values.getOrElse(k, Nil) }
      def opt(k: String) = get(k).lastOption
      def req(k: String) = opt(k).getOrElse(throw
        new NoSuchElementException(s"missing required offload field: $k"))
      def columns(v: String) =
        v.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      def list(k: String) = get(k).flatMap(columns)
      val (source, finalPath) = (req("source"), req("final"))
      val expect = opt("expect")
      val cfg = OffloadConfig(
        sourceTable = opt("table")
          .getOrElse(source.split('/').last.stripSuffix(".parquet")),
        sourcePath = source,
        stagingPath = opt("staging").getOrElse(finalPath + "_staging"),
        finalPath = finalPath,
        metadataDir = req("meta"),
        predicateDsl = opt("predicate"),
        incrementalKey = list("incremental_key"),
        partitionCols = list("partition_by"),
        dryRun = opt("dry_run").exists(v => v.toBooleanOption.getOrElse(
          throw new IllegalArgumentException(s"dry_run: not true or false: $v"))),
        ddlFile = opt("ddl_file"),
        ddlDialect = opt("ddl_dialect").map(DdlRenderer.Dialect.parse)
          .getOrElse(DdlRenderer.Dialect.SparkSql),
        typeOverrides = TypeOverrides.fromFields(get(_).map(columns)))
      val unknown = values.keySet -- read
      require(unknown.isEmpty,
        s"unknown offload field: ${unknown.toSeq.sorted.mkString(", ")}")
      // the rules file is read (a Spark job) only for an accepted request
      cfg.copy(expectations = expect
        .map(graft.verify.Expectations.parseRules(spark, _)).getOrElse(Nil))
    }
  }

  /** Full offload command: lock → read → (predicate/HWM filter) →
    * transforms + extraction projection → typed stage (validated on the
    * write) → move into the final table → verify → metadata save, with
    * per-task metrics collected. The
    * file-source stand-in for the JDBC frontend (same planner surface;
    * `TESTDATA.md` tables play Oracle).
    */
  def offload(spark: SparkSession, cfg: OffloadConfig): Seq[StepResult] =
    audited(cfg, Map("dry_run" -> cfg.dryRun.toString,
        "incremental_key" -> cfg.incrementalKey.mkString(","))) { ctx =>
      if (cfg.withLock)
        // fsScratch: lock files need a filesystem even when the metadata
        // "dir" is a JDBC repository URL
        OffloadLock.withLock(
          graft.meta.JdbcMetaRepo.fsScratch(cfg.metadataDir) + "/locks",
          cfg.sourceTable) {
          _ => runSteps(spark, cfg, ctx)
        }
      else runSteps(spark, cfg, ctx)
    }

  /** The data-quality gate shared by the full and chunked paths: ONE
    * aggregate pass over the slice about to load
    * ([[graft.verify.Expectations.evaluateRelation]] — table names in
    * the rules are id-only; referential rules are rejected there with
    * a loud error rather than silently passing against themselves). A
    * violation throws with the per-rule counts, failing the step and
    * the command BEFORE anything lands — retry-safe by construction. */
  private def expectationsStep(r: Runner, spark: SparkSession,
      cfg: OffloadConfig, slice: Option[DataFrame]): Unit = {
    if (cfg.expectations.nonEmpty)
      r.step("expectations",
        s"${cfg.expectations.length} rules on the load slice") {
        slice.foreach { df =>
          val report = graft.verify.Expectations
            .evaluateRelation(spark, df, cfg.expectations).collect()
          val failed = report.filterNot(_.getAs[Boolean]("passed"))
          if (failed.nonEmpty)
            throw new IllegalStateException(
              "expectations failed: " + failed.map(f =>
                s"${f.getString(0)}=${f.getAs[Long]("n_violations")}")
                .mkString(", "))
        }
        ()
      }
    if (cfg.gradedExpectations.nonEmpty) {
      // step detail is rendered AFTER the body (by-name `render`), so
      // warn-level rules land in the recorded step / command audit —
      // visible but never fatal, the graded contract
      var warnDetail = ""
      r.step("expectations_graded",
        s"${cfg.gradedExpectations.length} graded rules on the load " +
          "slice" + warnDetail) {
        slice.foreach { df =>
          val report = graft.verify.Expectations
            .evaluateGradedRelation(spark, df, cfg.gradedExpectations)
            .collect()
          def fmt(rows: Seq[org.apache.spark.sql.Row]): String =
            rows.map(f =>
              s"${f.getString(0)}=${f.getAs[Long]("n_violations")}")
              .mkString(", ")
          val errors = report.toSeq
            .filter(_.getAs[String]("severity") == "error")
          val warns = report.toSeq
            .filter(_.getAs[String]("severity") == "warn")
          if (warns.nonEmpty) warnDetail = s"; warnings: ${fmt(warns)}"
          if (errors.nonEmpty)
            throw new IllegalStateException(
              "graded expectations failed: " + fmt(errors) +
                (if (warns.nonEmpty) s"; warnings: ${fmt(warns)}"
                 else ""))
        }
        ()
      }
      ()
    }
  }

  /** Command begin/end audit bracket — the reference's `_command_begin` /
    * `_command_end` / `_command_fail` (`orchestration_runner.py:139-226`):
    * one command_begin row up front, a command_end row with SUCCESS when
    * the body returns (a failed step throws) or ERROR when it throws. */
  private def audited[T](cfg: OffloadConfig, parameters: Map[String, String])
                        (body: AuditContext => T): T = {
    import graft.meta.CommandAudit
    val audit = CommandAudit.open(cfg.metadataDir)
    val execId = cfg.executionId.getOrElse(CommandAudit.newExecutionId())
    val ctx = AuditContext(audit, execId, "OFFLOAD")
    val cid = audit.startCommand(execId, "OFFLOAD",
      commandInput = cfg.sourceTable,
      parameters = Map("source_path" -> cfg.sourcePath,
        "final_path" -> cfg.finalPath) ++ parameters)
    try {
      val res = body(ctx)
      audit.endCommand(cid, CommandAudit.Success)
      res
    } catch {
      case e: Throwable =>
        audit.endCommand(cid, CommandAudit.Error)
        throw e
    }
  }

  private def runSteps(spark: SparkSession, cfg: OffloadConfig,
                       ctx: AuditContext): Seq[StepResult] = {
    val r = new Runner(cfg.dryRun, Some(ctx))
    cfg.progress.foreach(r.observers += _)
    val metrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    try runStepsWithMetrics(spark, cfg, r, metrics)
    finally spark.sparkContext.removeSparkListener(metrics)
  }

  private def runStepsWithMetrics(spark: SparkSession, cfg: OffloadConfig,
                                  r: Runner, metrics: TaskMetricsListener)
      : Seq[StepResult] = {
    val source: DataFrame = spark.read.parquet(cfg.sourcePath)
    val predicate = cfg.predicateDsl.map(OffloadPredicate.parseUnsafe)

    val hwm: Option[Seq[Boundary.Bound]] =
      MetadataStore.load(cfg.metadataDir, cfg.sourceTable)
        .filter(_.incrementalKey == cfg.incrementalKey)
        .filter(_.incrementalHighValue.nonEmpty)
        .map(_.incrementalHighValue.zip(cfg.incrementalKey).map {
          case (v, key) => Boundary.Value(castHwmLiteral(source, key, v))
        })

    val planned = r.step("analyze_plan",
        s"predicate=${cfg.predicateDsl.getOrElse("none")} " +
        s"hwm=${hwm.map(_.mkString(",")).getOrElse("none")}") {
      val afterPred = predicate.map(p => source.filter(OffloadPredicate.toColumn(p)))
        .getOrElse(source)
      val afterHwm = hwm match {
        case Some(bounds) if cfg.incrementalKey.nonEmpty =>
          afterPred.filter(Boundary.greaterThan(cfg.incrementalKey, bounds))
        case _ => afterPred
      }
      val afterXform =
        if (cfg.transforms.isEmpty) afterHwm
        else StagedLoad.applyTransforms(afterHwm, cfg.transforms)
      graft.source.ExtractionProjection(afterXform,
        TypeMapper.fromStructType(afterXform.schema), cfg.extractionPolicy)
    }

    val schema = planned.map(df => graft.types.TypeOverrides(
        TypeMapper.fromStructType(df.schema), cfg.typeOverrides))
      .getOrElse(Nil)

    // DDL-file mode: write the rendered DDL artifact and stop — no staging,
    // no load, no metadata. The artifact IS the command's output.
    if (cfg.ddlFile.isDefined) {
      val raw = cfg.ddlFile.get
      r.step("ddl_file", s"requested=$raw dialect=${cfg.ddlDialect}") {
        val path = graft.sink.DdlFile.resolve(
          raw, cfg.sourceTable,
          graft.meta.JdbcMetaRepo.fsScratch(cfg.metadataDir) + "/log")
        val ddl = DdlRenderer.createTable(
          cfg.finalPath, schema, cfg.ddlDialect,
          partitionBy = cfg.partitionCols, clusterBy = cfg.sortCols)
        val written = graft.sink.DdlFile.write(path, Seq(ddl))
        r.results += StepResult("ddl_file_path", ok = true, written, 0L)
      }
      return r.results.toSeq
    }

    // Incremental continuation appends the new slice; first pass (or FULL)
    // overwrites — mirrors the reference's append-vs-reset semantics.
    val finalMode = if (hwm.isDefined) "append" else "overwrite"

    expectationsStep(r, spark, cfg, planned)

    // listener events are posted asynchronously; drain the bus (the
    // engine's exact completion barrier) before reading the counter
    def settledRecordsWritten(): Long = {
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      metrics.totalRecordsWritten
    }
    // transport-window baseline: rows written BEFORE stage_and_load
    // (expectation probes read, never write, but stay conservative) —
    // the delta across the stage is the transport's own row count
    val preStageWritten = if (cfg.dryRun) 0L else settledRecordsWritten()

    // observed on the one write of the slice (to staging, whose files then
    // move into the final table); the steps below use it, so nothing reads
    // staging or the final table back
    var staged: Option[StagedLoad.Staged] = None
    r.step("stage_and_load",
        s"staging=${cfg.stagingPath} final=${cfg.finalPath} " +
        s"mode=$finalMode partitionBy=${cfg.partitionCols.mkString(",")}") {
      planned.foreach { df =>
        StagedLoad.stageAndLoad(df, cfg.stagingPath, cfg.finalPath, schema,
            cfg.incrementalKey, cfg.partitionCols, finalMode,
            cfg.sortCols) match {
          case Left(violations) =>
            throw new IllegalStateException(
              StagedLoad.violationMessage(violations))
          case Right(st) => staged = Some(st)
        }
      }
    }
    // close the transport window HERE — a later step may also write
    // through Spark (an executing BigQuery sink) and must not leak
    // into the stage's row accounting
    val postStageWritten = if (cfg.dryRun) 0L else settledRecordsWritten()

    cfg.bigquerySink.foreach { bq =>
      r.step("bigquery_load",
          s"target=${bq.dataset}.${bq.table} method=${bq.writeMethod}") {
        planned.foreach { df =>
          val opts = graft.sink.BigQuerySink.load(df, bq,
            mode = finalMode)
          r.results += StepResult("bigquery_options", ok = true,
            opts.toSeq.sortBy(_._1)
              .map { case (k, v) => s"$k=$v" }.mkString(" "), 0L)
        }
      }
    }

    r.step("verify_counts", "count source slice vs staged slice") {
      planned.foreach { df =>
        // the source slice is counted fresh, independent of the count
        // observed on the write: that is the row-loss gate
        val s = df.count()
        val t = staged.get.rows
        if (s != t)
          throw new IllegalStateException(s"row count mismatch: $s vs $t")
      }
    }

    r.step("save_metadata", s"metadataDir=${cfg.metadataDir}") {
      planned.foreach { _ =>
        // An empty increment must NOT regress the HWM: keep the previous one.
        val previousHwm = MetadataStore.load(cfg.metadataDir, cfg.sourceTable)
          .map(_.incrementalHighValue).getOrElse(Nil)
        // the HWM observed on the staging write's input, which
        // verify_counts has gated row-equal to the source slice: no Spark
        // work here
        val newHwm: Seq[String] =
          if (cfg.incrementalKey.nonEmpty)
            staged.get.hwm.map(_.map(String.valueOf)).getOrElse(previousHwm)
          else Nil
        MetadataStore.save(cfg.metadataDir, OffloadMetadata(
          sourceTable = cfg.sourceTable,
          backendTable = cfg.finalPath,
          offloadType =
            if (cfg.incrementalKey.nonEmpty) "INCREMENTAL" else "FULL",
          incrementalKey = cfg.incrementalKey,
          incrementalHighValue = newHwm,
          incrementalPredicateType =
            cfg.predicateDsl.map(_ => "PREDICATE"),
          incrementalPredicateValue = cfg.predicateDsl.toSeq,
          writerTimeZone = Some(graft.plans.TimeZoneGuard.sessionTz(spark))))
      }
    }

    // Transport row accounting — what the reference scraped from Spark logs
    // (`offload_transport.py:1811-1838`), natively from the listener, and
    // CROSS-CHECKED against the staged slice: stage_and_load writes each
    // transported row exactly once (to staging, whose files then move into
    // the final table), so for a SERIAL offload the listener's delta
    // across the stage window equals the staged row count — the spec pins
    // that equality.
    // REPORT-ONLY by design: the task listener's output counters are
    // JVM-global (the same aliasing the reference's log-scrape had —
    // concurrent offloads in one session see each other's tasks), so a
    // mismatch here is a diagnostic, while the HARD row-loss gate remains
    // the per-offload verify_counts step above (source slice vs staged
    // slice, which throws).
    if (!cfg.dryRun) {
      val transportRows = postStageWritten - preStageWritten
      val stagedRows = staged.fold(0L)(_.rows)
      // settle again for the RAW total: a later Spark-writing step (an
      // executing BigQuery sink) may still have task events in flight
      val totalWritten = settledRecordsWritten()
      r.step("task_metrics",
        s"recordsWritten=$totalWritten " +
          s"transport_rows=$transportRows staged_rows=$stagedRows " +
          s"transport_exact=${transportRows == stagedRows} " +
          s"tasks=${metrics.snapshot.length}")(())
    }

    r.results.toSeq
  }

  /** Chunked offload: split the planned slice into size/count-capped chunks
    * on a partition key and run one stage→load→metadata pass per chunk —
    * the reference's chunk loop (`offload_source_data.py:1273-1310`): each
    * chunk is an atomic retry unit and the HWM advances chunk-by-chunk, so
    * a failure mid-table never loses completed chunks.
    *
    * `chunkKey` must be a monotone derivation of `hwmCol` (e.g. the month
    * key of a date column) so per-chunk HWMs are consistent. */
  def offloadChunked(spark: SparkSession, cfg: OffloadConfig,
                     chunkKeyCol: String => org.apache.spark.sql.Column,
                     hwmCol: String,
                     maxRowsPerChunk: Long,
                     // Plan chunks from the copied stats record instead of a
                     // live profiling aggregate. The copy stores the LAST
                     // planned slice's per-chunk-key profile (saved
                     // automatically by the live path below), so this is the
                     // retry/resume fast path: a rerun plans — and, when
                     // everything already committed, returns — WITHOUT
                     // touching the source at all.
                     planFromCopiedStats: Boolean = false)
      : Seq[Seq[StepResult]] =
    audited(cfg, Map("chunked" -> "true",
        "max_rows_per_chunk" -> maxRowsPerChunk.toString)) { ctx =>
      offloadChunkedBody(spark, cfg, chunkKeyCol, hwmCol, maxRowsPerChunk,
        planFromCopiedStats, ctx)
    }

  private def offloadChunkedBody(spark: SparkSession, cfg: OffloadConfig,
                                 chunkKeyCol: String => org.apache.spark.sql.Column,
                                 hwmCol: String,
                                 maxRowsPerChunk: Long,
                                 planFromCopiedStats: Boolean,
                                 ctx: AuditContext)
      : Seq[Seq[StepResult]] = {
    require(cfg.incrementalKey == Seq(hwmCol),
      "chunked offload drives the HWM through hwmCol")
    // Reconcile an interrupted chunk: a pending marker means the previous
    // run died between the final-table append and the HWM commit. Probe the
    // final table — if rows beyond the committed HWM exist for the pending
    // chunk's keys, the append DID commit, so commit its HWM now (never
    // re-append); otherwise clear the marker and let the chunk re-run.
    MetadataStore.load(cfg.metadataDir, cfg.sourceTable)
      .filter(_.pendingChunkKeys.nonEmpty).foreach { m =>
        // final table absent: the append never started. Checked before the
        // read, which would log a PATH_NOT_FOUND error for the absent path.
        val finalDir = new org.apache.hadoop.fs.Path(cfg.finalPath)
        val appended =
          finalDir.getFileSystem(spark.sessionState.newHadoopConf())
            .exists(finalDir) &&
          (try {
            val fin = spark.read.parquet(cfg.finalPath)
            val beyond =
              if (m.incrementalHighValue.nonEmpty)
                beyondHwm(fin, hwmCol, m.incrementalHighValue)
              else fin
            !beyond.filter(
              chunkKeyCol(hwmCol).isInCollection(m.pendingChunkKeys)).isEmpty
          } catch {
            // a final directory with no data files: nothing was appended
            case _: org.apache.spark.sql.AnalysisException => false
          })
        val hwm = if (appended) m.pendingChunkHwm else m.incrementalHighValue
        MetadataStore.save(cfg.metadataDir, m.copy(
          incrementalHighValue = hwm,
          pendingChunkKeys = Nil, pendingChunkHwm = Nil))
      }
    val committedHwm = MetadataStore.load(cfg.metadataDir, cfg.sourceTable)
      .filter(_.incrementalKey == Seq(hwmCol))
      .map(_.incrementalHighValue).filter(_.nonEmpty)
    // lazy: planning from the copied stats must not open the source.
    // Resume-at-failed-chunk: completed chunks are filtered out by the
    // persisted HWM before profiling and before slicing.
    lazy val raw = spark.read.parquet(cfg.sourcePath)
    lazy val source = committedHwm.fold(raw)(beyondHwm(raw, hwmCol, _))

    // Chunk-plan input: either the copied stats record (zero source I/O —
    // planning never reads the table; a fully-committed retry returns
    // before the source path is even opened) or a live profiling aggregate
    // (metadata-scale: one count per chunk key), which is then SAVED as the
    // stats copy so the next retry can plan from it.
    // (partition, observed hwm-column min/max — rendered) per chunk key.
    // The min/max let each chunk slice carry a PUSHABLE range predicate on
    // the physical HWM column next to the non-pushable derived-key filter:
    // at 100 TB the derived key (e.g. date_format) prunes nothing at the
    // scan, but `hwmCol BETWEEN lo AND hi` prunes parquet row groups via
    // column statistics — each chunk reads its slice, not the table.
    val (parts, hwmBounds): (Seq[graft.plan.SourcePartition],
                             Map[String, (String, String)]) =
      (if (planFromCopiedStats)
         graft.meta.StatsStore.load(cfg.metadataDir, cfg.sourceTable)
           .filter(_.partitions.nonEmpty)
           .map { r =>
             val beyond = graft.meta.StatsStore.partitionsBeyond(
               r, committedHwm.getOrElse(Nil))
             val bounds = r.partitions
               .filter(p => p.hwmLow.nonEmpty && p.hwmHigh.nonEmpty)
               .map(p => p.name -> (p.hwmLow, p.hwmHigh)).toMap
             (beyond, bounds)
           }
       else None) match {
        case Some(copied) => copied
        case None =>
          val profile = source
            .groupBy(chunkKeyCol(hwmCol).as("chunk_key"))
            .agg(count(lit(1)).as("rows"),
              min(col(hwmCol)).as("lo"), max(col(hwmCol)).as("hi"))
            .orderBy(col("chunk_key"))
            .collect()
          val live = profile.zipWithIndex.map { case (row, i) =>
            graft.plan.SourcePartition(
              name = String.valueOf(row.get(0)), position = i,
              highValues =
                Seq(graft.plan.Boundary.Value(String.valueOf(row.get(0)))),
              bytes = row.getLong(1), rows = row.getLong(1))
          }.toSeq
          val bounds = profile.map(row =>
            String.valueOf(row.get(0)) ->
              (String.valueOf(row.get(2)), String.valueOf(row.get(3)))).toMap
          // free stats copy: the profile IS the partition stats record;
          // keep any column stats a prior collect-stats run gathered
          val prior = graft.meta.StatsStore.load(cfg.metadataDir,
            cfg.sourceTable)
          graft.meta.StatsStore.save(cfg.metadataDir,
            graft.meta.TableStatsRecord(cfg.sourceTable,
              numRows = live.map(_.rows).sum,
              numBytes = live.map(_.bytes).sum,
              avgRowLen = prior.fold(0.0)(_.avgRowLen),
              columns = prior.fold(
                Seq.empty[graft.meta.ColumnStatsRec])(_.columns),
              partitions = live.map { p =>
                val (lo, hi) = bounds(p.name)
                graft.meta.PartitionStatsRec(p.name, p.name, p.rows, p.bytes,
                  hwmLow = lo, hwmHigh = hi)
              }))
          (live, bounds)
      }
    if (parts.isEmpty) return Seq.empty
    val chunks = graft.plan.PartitionPlanner.chunk(
      parts, maxBytes = maxRowsPerChunk, maxCount = Int.MaxValue)
    chunks.zipWithIndex.map { case (chunk, chunkIdx) =>
      val keys = chunk.names
      val chunkCfg = cfg.copy(predicateDsl = None)
      val r = new Runner(cfg.dryRun, Some(ctx))
      cfg.progress.foreach(r.observers += _)
      // start_offload_chunk/end_offload_chunk, chunk_number starts at 1
      val chunkId = ctx.audit.startChunk(ctx.executionId, chunkIdx + 1, keys)
      try {
        val keyed = source.filter(chunkKeyCol(hwmCol).isInCollection(keys))
        // pushable range conjunct when every key has observed bounds
        val bs = keys.flatMap(hwmBounds.get)
        val slice =
          if (bs.length == keys.length && bs.nonEmpty) {
            val typed = bs.map { case (lo, hi) =>
              (castHwmLiteral(raw, hwmCol, lo), castHwmLiteral(raw, hwmCol, hi))
            }
            val lo = typed.map(_._1).reduce((a, b) =>
              if (graft.plan.PartitionPlanner.compareAny(a, b) <= 0) a else b)
            val hi = typed.map(_._2).reduce((a, b) =>
              if (graft.plan.PartitionPlanner.compareAny(a, b) >= 0) a else b)
            keyed.filter(col(hwmCol) >= lit(lo) && col(hwmCol) <= lit(hi))
          } else keyed
        r.step("chunk_plan", s"keys=${keys.mkString(",")}")(())
        // audit the chunk's observed staged rows (None on a dry run)
        val rows = runChunkSlice(spark, chunkCfg, r, slice, keys)
        ctx.audit.endChunk(chunkId, graft.meta.CommandAudit.Success,
          rowCount = rows)
        r.results.toSeq
      } catch {
        case e: Throwable =>
          ctx.audit.endChunk(chunkId, graft.meta.CommandAudit.Error)
          throw e
      }
    }
  }

  /** Stage/load/metadata for one planned slice; its staged row count. */
  private def runChunkSlice(spark: SparkSession, cfg: OffloadConfig,
                            r: Runner, slice: DataFrame,
                            chunkKeys: Seq[String]): Option[Long] = {
    val schema = TypeMapper.fromStructType(slice.schema)
    val prior = MetadataStore.load(cfg.metadataDir, cfg.sourceTable)
    val alreadyLoaded = prior.exists(_.incrementalHighValue.nonEmpty)
    val mode = if (alreadyLoaded) "append" else "overwrite"
    // Probe the chunk's HWM BEFORE the load and persist a pending-chunk
    // marker carrying it: if the append commits but the process dies before
    // save_metadata, the next run's reconcile step commits this HWM from
    // the marker instead of appending the chunk a second time.
    val previous = prior.map(_.incrementalHighValue).getOrElse(Nil)
    // lazy: a dry-run must not execute the probe action
    lazy val newHwm = CrossValidator.maxProbe(slice, cfg.incrementalKey)
      .map(_.map(String.valueOf)).getOrElse(previous)
    // the gate precedes even the pending marker: a marker without an
    // append attempt would needlessly engage the reconcile path
    expectationsStep(r, spark, cfg, Some(slice))
    r.step("mark_pending_chunk", s"keys=${chunkKeys.mkString(",")}") {
      MetadataStore.save(cfg.metadataDir, OffloadMetadata(
        sourceTable = cfg.sourceTable, backendTable = cfg.finalPath,
        offloadType = "INCREMENTAL", incrementalKey = cfg.incrementalKey,
        incrementalHighValue = previous,
        pendingChunkKeys = chunkKeys, pendingChunkHwm = newHwm,
        writerTimeZone = Some(graft.plans.TimeZoneGuard.sessionTz(spark))))
    }
    // no observed HWM: the pending marker carries the pre-append probe's
    val rows = r.step("stage_and_load", s"mode=$mode") {
      StagedLoad.stageAndLoad(slice, cfg.stagingPath, cfg.finalPath, schema,
          hwmKeys = Nil, cfg.partitionCols, mode, cfg.sortCols) match {
        case Left(v) => throw new IllegalStateException(
          StagedLoad.violationMessage(v))
        case Right(st) => st.rows
      }
    }
    r.step("save_metadata", "advance HWM for chunk") {
      MetadataStore.save(cfg.metadataDir, OffloadMetadata(
        sourceTable = cfg.sourceTable, backendTable = cfg.finalPath,
        offloadType = "INCREMENTAL", incrementalKey = cfg.incrementalKey,
        incrementalHighValue = newHwm,
        writerTimeZone = Some(graft.plans.TimeZoneGuard.sessionTz(spark))))
    }
    rows
  }

  /** Rows of `df` strictly beyond the rendered HWM on `key`. */
  private def beyondHwm(df: DataFrame, key: String,
                        hwm: Seq[String]): DataFrame =
    df.filter(Boundary.greaterThan(Seq(key),
      hwm.map(v => Boundary.Value(castHwmLiteral(df, key, v)))))

  /** Parse a rendered HWM literal back to ITS OWN key column's runtime type
    * (a multi-column key mixes types, e.g. timestamp + long). */
  private def castHwmLiteral(df: DataFrame, key: String,
                             rendered: String): Any = {
    import org.apache.spark.sql.types._
    val dt = df.schema(key).dataType
    dt match {
      case LongType => rendered.toLong
      case IntegerType => rendered.toInt
      case DoubleType => rendered.toDouble
      case TimestampType | TimestampNTZType =>
        // Accept both "yyyy-MM-dd HH:mm:ss[.f]" and the ISO form that
        // LocalDateTime.toString renders ("yyyy-MM-ddTHH:mm", seconds
        // omitted when zero) — the HWM is stringified from probe values.
        val iso = rendered.trim.replace(" ", "T")
        val ldt =
          try java.time.LocalDateTime.parse(iso)
          catch {
            case _: java.time.format.DateTimeParseException =>
              java.time.LocalDate.parse(iso).atStartOfDay()
          }
        // NTZ columns need an NTZ literal (LocalDateTime), instant columns
        // a Timestamp — mixing the two would wrap the filter in casts.
        if (dt == TimestampNTZType) ldt else java.sql.Timestamp.valueOf(ldt)
      case DateType => java.sql.Date.valueOf(rendered)
      case _ => rendered
    }
  }
}
