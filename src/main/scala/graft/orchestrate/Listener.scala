package graft.orchestrate

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession

import graft.Json
import graft.Json.{quote => q}
import graft.meta.{MetadataStore, StatsStore}

/** Orchestration REST listener — the reference's `src/goe/listener/`
  * (FastAPI + token auth) re-expressed on the JDK's built-in HTTP server
  * (zero new dependencies; the engine is a library, not a web stack).
  *
  * Endpoint surface mirrors the reference's routers
  * (`api/routes/system.py`, `api/routes/orchestration.py`):
  *   - `GET /api/system/status/` — liveness + inventory counts
  *   - `GET /api/system/heartbeat/` — heartbeat freshness (uptime, last
  *     beat, alive ⇔ beat within 2× interval — the reference's
  *     `listener/services/heartbeat.py` TTL contract); the same frame is
  *     published periodically on the SSE stream
  *   - `GET /api/system/schemas/` — schema inventory with offloaded-table
  *     counts (reference `api/routes/system.py:87-106`)
  *   - `GET /api/system/schemas/{table}/columns/` — copied column stats
  *   - `GET /api/system/schemas/{table}/partitions/` — copied partition stats
  *   - `GET /api/system/views/{table}/` — hybrid/conversion view info:
  *     view names plus the offloaded/residual boundary clauses derived from
  *     the incremental HWM (the reference's hybrid-view service,
  *     `conductor/hybrid_view_service.py:1-334`)
  *   - `GET /api/orchestration/offloads/` — offload metadata inventory
  *   - `GET /api/orchestration/offloads/{table}/` — one table's metadata
  *   - `POST /api/orchestration/offload/` — run an offload: a JSON
  *     object of the fields `OffloadConfig.fromFields` reads (`meta`
  *     defaults to the listener's); a bad body or field is a 422 whose
  *     `detail` says why, a failed step a 500
  * Auth mirrors `Security(valid_api_token)`: when a token is configured,
  * every request must carry it in `x-api-token`.
  *
  * Dispatch and the `GET /api/docs` inventory are driven by ONE route
  * table: a route exists in the docs exactly because the dispatcher
  * serves it, so the inventory cannot drift from the surface (the
  * property FastAPI gives the reference for free, and `ListenerSpec`
  * pins here).
  *
  * The server executes offloads on the caller's thread pool while Spark
  * remains the single driver-side session — the listener is a control
  * plane, not a data plane.
  */
object Listener {

  /** One dispatchable route: `pattern` is the path with `{param}`
    * placeholders, one per variable segment. The docs endpoint renders
    * exactly these three fields. */
  final case class RouteInfo(method: String, pattern: String,
                             summary: String)

  final case class Server(http: HttpServer,
                          pool: java.util.concurrent.ExecutorService,
                          bus: ProgressBus,
                          beater: java.util.concurrent.ScheduledExecutorService,
                          routes: Seq[RouteInfo]) {
    def port: Int = http.getAddress.getPort
    def stop(): Unit = {
      beater.shutdownNow(); http.stop(0); pool.shutdownNow(); ()
    }
  }

  /** In-process progress bus — the reference streams live command progress
    * over a Redis pub/sub channel (`util/redis_tools.py:1-443`,
    * `listener/services/heartbeat.py:1-115`); a library embedded in the
    * Spark driver needs only a fan-out queue: publishers are the offload
    * runner's step observers, subscribers are open SSE responses. Slow
    * consumers are bounded (1024 events) and drop oldest-first rather than
    * back-pressuring the offload. */
  final class ProgressBus {
    import java.util.concurrent.{CopyOnWriteArrayList, LinkedBlockingQueue}
    private val subs =
      new CopyOnWriteArrayList[LinkedBlockingQueue[String]]()
    def publish(json: String): Unit =
      subs.forEach { q =>
        while (!q.offer(json)) q.poll()
      }
    def subscribe(): LinkedBlockingQueue[String] = {
      val q = new LinkedBlockingQueue[String](1024)
      subs.add(q)
      q
    }
    def unsubscribe(q: LinkedBlockingQueue[String]): Unit = { subs.remove(q); () }
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** The ONE store-binding convention for a StreamingRank store dir —
    * the rank and community routes and the `rank-*`/`community-*` CLI
    * commands must all derive the checkpoint dir identically. */
  private[graft] def rankStoreCfg(dir: String)
      : graft.streaming.StreamingRank.Config =
    graft.streaming.StreamingRank.Config(
      storeDir = dir, checkpointDir = dir + "/_ckpt")

  /** One sampler base dir → the store layout the `sampler-compact` CLI
    * uses (picks + mass as siblings; the checkpoint only matters to a
    * running stream, never to these reads). */
  private[graft] def samplerCfg(dir: String)
      : graft.streaming.StreamingSampler.Config =
    graft.streaming.StreamingSampler.Config(
      picksPath = dir + "/picks", massPath = dir + "/mass",
      checkpointDir = dir + "/_ckpt")

  /** Split captured artifact text into WHOLE records: blank lines
    * dropped, and a final line that has not terminated with a record's
    * closing '}' withheld — a reader racing the history appender (or a
    * pre-atomic-move ring writer) must serve only complete records.
    * ONE definition for both bench routes, so the torn-line semantics
    * can never diverge between them. */
  private def wholeLines(text: String): Seq[String] = {
    val raw = text.split("\n", -1).toSeq
    (if (raw.nonEmpty && raw.last.trim.nonEmpty &&
        !raw.last.trim.endsWith("}")) raw.dropRight(1)
     else raw)
      .map(_.trim).filter(_.nonEmpty)
  }

  /** Clamp a route's `{n}` parameter to [1, 1000] (default 20): an HTTP
    * caller sizes the page, never the collect. */
  private def clampTopN(params: Seq[String]): Int =
    math.min(1000, math.max(1,
      scala.util.Try(params.head.toInt).getOrElse(20)))

  /** Transient metadata-repo contention, anywhere in the cause chain:
    * Derby lock-wait timeout (40XL1), deadlock victim (40001), or the
    * read statements' own query timeout (XCL52 — the
    * [[graft.meta.JdbcMetaRepo.ReadQueryTimeoutSecs]] bound on reads
    * blocked behind a writer's uncommitted row locks). These retry
    * cleanly; everything else is a real 500. */
  private[orchestrate] def isRepoBusy(e: Throwable): Boolean = {
    val busyStates = Set("40XL1", "40001", "XCL52")
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .exists {
        case sq: java.sql.SQLException =>
          Option(sq.getSQLState).exists(busyStates.contains)
        case _ => false
      }
  }

  /** One persisted command run (begin/end + per-step + per-chunk rows) as
    * JSON — the audit history the reference serves from its repo tables. */
  private def runJson(r: graft.meta.CommandAudit.CommandRun): String = {
    val steps = r.steps.map(s =>
      s"""{"step": ${q(s.step)}, "status": ${q(s.status)}, """ +
      s""""start_ts": ${s.startTs}, "end_ts": ${s.endTs.getOrElse(-1L)}, """ +
      s""""details": ${q(s.details)}}""").mkString("[", ", ", "]")
    val chunks = r.chunks.map(c =>
      s"""{"chunk_number": ${c.chunkNumber}, "status": ${q(c.status)}, """ +
      s""""partitions": ${c.partitions.map(q).mkString("[", ", ", "]")}, """ +
      s""""row_count": ${c.rowCount.getOrElse(-1L)}}""").mkString("[", ", ", "]")
    s"""{"execution_id": ${q(r.executionId)}, """ +
    s""""command_type": ${q(r.commandType)}, """ +
    s""""command_input": ${q(r.commandInput)}, """ +
    s""""status": ${q(r.status)}, "start_ts": ${r.startTs}, """ +
    s""""end_ts": ${r.endTs.getOrElse(-1L)}, """ +
    s""""steps": $steps, "chunks": $chunks}"""
  }

  private def listTables(metadataDir: String): Seq[String] =
    MetadataStore.listTables(metadataDir)

  /** Match a `{param}`-patterned route against concrete path segments;
    * Some(params-in-pattern-order) on a hit. */
  private[orchestrate] def matchPattern(pattern: String,
                                        segs: List[String])
      : Option[List[String]] = {
    val pat = pattern.split('/').toList.filter(_.nonEmpty)
    if (pat.length != segs.length) None
    else {
      val zipped = pat.zip(segs)
      if (zipped.forall { case (p, s) => p.startsWith("{") || p == s })
        Some(zipped.collect { case (p, s) if p.startsWith("{") => s })
      else None
    }
  }

  def start(spark: SparkSession, metadataDir: String, port: Int = 0,
            token: Option[String] = None,
            heartbeatSeconds: Int = 5,
            // a StreamingExpectations store to serve under /api/quality
            // (constructor-configured — clients never name filesystem
            // paths over HTTP)
            qualityDir: Option[String] = None,
            // a JSONL rules file with warn_if/error_if budgets: enables
            // GET /api/quality/graded (severity per batch x rule).
            // Budgets are applied AT READ TIME over the raw-count store,
            // so re-pointing this file regrades history without
            // reprocessing; parsed once at startup (fail fast on a bad
            // file, not on the first dashboard poll)
            qualityRules: Option[String] = None,
            // a StreamingRank store to serve under /api/rank
            rankDir: Option[String] = None,
            // a table dir with events.parquet to serve the
            // sessionization gap sweep under /api/sessions
            eventsDir: Option[String] = None,
            // the bench trend file (bench/history.jsonl — one summary
            // line per run) to serve under /api/bench/history
            benchHistory: Option[String] = None,
            // a StreamingSampler store base dir (picks + mass
            // siblings, the sampler-compact CLI layout) to serve under
            // /api/sampler/state
            samplerDir: Option[String] = None): Server = {
    val gradedBudgets: Option[Seq[graft.verify.Expectations.Graded]] =
      qualityRules.map(p =>
        graft.verify.Expectations.parseGradedRules(spark, p))
    val http = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // the default executor is the single dispatcher thread — an open SSE
    // stream would starve every other route; hand requests to a pool
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    http.setExecutor(pool)
    val bus = new ProgressBus

    // Heartbeat — the reference's ListenerHeartbeat publishes a liveness
    // record with TTL = 2× interval to Redis (`listener/services/
    // heartbeat.py:98-112`, `periodic_tasks.py:36-46`); in-process the
    // record is an AtomicLong and the publication is a bus frame, with the
    // same freshness contract: alive ⇔ last beat within 2× interval.
    val startedAtMillis = System.currentTimeMillis()
    val listenerId = java.util.UUID.randomUUID().toString
    val lastBeat =
      new java.util.concurrent.atomic.AtomicLong(startedAtMillis)
    val beater =
      java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "listener-heartbeat"); t.setDaemon(true); t
      }
    beater.scheduleAtFixedRate(
      () => {
        val now = System.currentTimeMillis()
        lastBeat.set(now)
        bus.publish(s"""{"event":"heartbeat","listener_id":${q(listenerId)},""" +
          s""""ts_ms":$now,"uptime_s":${(now - startedAtMillis) / 1000}}""")
      },
      heartbeatSeconds.toLong, heartbeatSeconds.toLong,
      java.util.concurrent.TimeUnit.SECONDS)

    def authed(ex: HttpExchange): Boolean =
      token.forall(t =>
        Option(ex.getRequestHeaders.getFirst("x-api-token")).contains(t))

    // ------------------------------------------------------------------
    // The route table: ONE definition drives both dispatch and /api/docs.
    // Handlers receive the {param} values in pattern order.
    // ------------------------------------------------------------------
    final case class Route(info: RouteInfo,
                           handler: (HttpExchange, List[String]) => Unit)
    def route(method: String, pattern: String, summary: String)
             (handler: (HttpExchange, List[String]) => Unit): Route =
      Route(RouteInfo(method, pattern, summary), handler)

    lazy val routes: Seq[Route] = Seq(

      route("GET", "/api/docs", "this route inventory") { (ex, _) =>
        // Self-describing route inventory — the reference serves OpenAPI
        // docs endpoints (`listener/api/routes/docs.py`); here a minimal
        // OpenAPI-shaped document rendered FROM the dispatch table, so
        // the inventory is the surface by construction.
        val paths = routes.map(_.info).map { r =>
          q(r.pattern) +
            s""": {${q(r.method.toLowerCase)}: {"summary": ${q(r.summary)}}}"""
        }.mkString("{", ", ", "}")
        respond(ex, 200,
          s"""{"openapi": "3.0.0", "info": {"title": ${q("graft listener")}, """ +
          s""""version": "1"}, "paths": $paths}""")
      },

      route("GET", "/api/system/heartbeat",
        "listener liveness (alive ⇔ beat within 2× interval)") { (ex, _) =>
        val now = System.currentTimeMillis()
        val beat = lastBeat.get()
        val alive = now - beat <= 2000L * heartbeatSeconds
        respond(ex, 200,
          s"""{"status": ${q(if (alive) "ok" else "stale")}, """ +
          s""""listener_id": ${q(listenerId)}, """ +
          s""""uptime_s": ${(now - startedAtMillis) / 1000}, """ +
          s""""last_beat_ms": $beat, """ +
          s""""interval_s": $heartbeatSeconds, """ +
          s""""alive": $alive}""")
      },

      route("GET", "/api/system/status", "offloaded-table count") { (ex, _) =>
        val tables = listTables(metadataDir)
        respond(ex, 200,
          s"""{"status": "ok", "offloaded_tables": ${tables.length}}""")
      },

      route("GET", "/api/system/configuration",
        "sanitized runtime configuration (versions, backend)") { (ex, _) =>
        // Sanitized runtime configuration (reference GET /configuration,
        // `listener/api/routes/system.py:55-84`): versions, session
        // shape, and which metadata backend this listener serves —
        // never credentials or raw URLs.
        val backend =
          if (graft.meta.JdbcMetaRepo.isJdbc(metadataDir)) "jdbc_repo"
          else "file"
        respond(ex, 200,
          s"""{"engine_version": ${q(graft.meta.JdbcMetaRepo.EngineVersion)}, """ +
          s""""spark_version": ${q(spark.version)}, """ +
          s""""scala_version": ${q(scala.util.Properties.versionNumberString)}, """ +
          s""""shuffle_partitions": ${q(spark.conf.get(
            "spark.sql.shuffle.partitions", "200"))}, """ +
          s""""session_time_zone": ${q(spark.conf.get(
            "spark.sql.session.timeZone", ""))}, """ +
          s""""metadata_backend": ${q(backend)}, """ +
          s""""heartbeat_interval_s": $heartbeatSeconds}""")
      },

      route("GET", "/api/system/schemas",
        "schema inventory with offloaded-table counts") { (ex, _) =>
        // Reference GET /schemas/ (`api/routes/system.py:87-106`): every
        // schema with its table count. Offloaded tables are registered as
        // `schema.table` (or bare names, grouped under "default").
        val bySchema = listTables(metadataDir)
          .groupBy { t =>
            val i = t.indexOf('.')
            if (i > 0) t.substring(0, i) else "default"
          }
          .toSeq.sortBy(_._1)
          .map { case (schema, ts) =>
            s"""{"schema_name": ${q(schema)}, "table_count": ${ts.length}}"""
          }
        respond(ex, 200, bySchema.mkString("[", ", ", "]"))
      },

      route("GET", "/api/quality/totals",
        "accumulated data-quality rule counts") { (ex, _) =>
        qualityDir match {
          case None =>
            respond(ex, 404, """{"detail": "no quality store configured"}""")
          case Some(dir) =>
            val rows = graft.streaming.StreamingExpectations
              .readTotals(spark, dir).collect()
              .map { r =>
                s"""{"rule_id": ${q(r.getString(0))}, """ +
                s""""n_rows": ${r.getLong(1)}, """ +
                s""""n_violations": ${r.getLong(2)}, """ +
                s""""n_batches": ${r.getLong(3)}, """ +
                s""""passed": ${r.getBoolean(4)}}"""
              }
            respond(ex, 200, rows.mkString("[", ", ", "]"))
        }
      },

      route("GET", "/api/quality/graded",
        "graded per-batch trend: warn_if/error_if severity " +
          "(last 100 batches)") { (ex, _) =>
        (qualityDir, gradedBudgets) match {
          case (Some(dir), Some(budgets)) =>
            val floor = graft.streaming.StreamingExpectations
              .lastCommitted(spark, dir) - 100L
            val rows = graft.streaming.StreamingExpectations
              .gradedHistory(spark, dir, budgets)
              .filter(org.apache.spark.sql.functions
                .col("batch_id") > floor)
              .orderBy("batch_id", "rule_id").collect()
              .map { r =>
                s"""{"batch_id": ${r.getAs[Long]("batch_id")}, """ +
                s""""rule_id": ${q(r.getAs[String]("rule_id"))}, """ +
                s""""n_rows": ${r.getAs[Long]("n_rows")}, """ +
                s""""n_violations": ${r.getAs[Long]("n_violations")}, """ +
                s""""severity": ${q(r.getAs[String]("severity"))}, """ +
                s""""passed": ${r.getAs[Boolean]("passed")}}"""
              }
            respond(ex, 200, rows.mkString("[", ", ", "]"))
          case _ =>
            respond(ex, 404,
              """{"detail": "no quality store or budget rules configured"}""")
        }
      },

      route("GET", "/api/quality/history",
        "per-batch data-quality trend (last 100 batches)") { (ex, _) =>
        qualityDir match {
          case None =>
            respond(ex, 404, """{"detail": "no quality store configured"}""")
          case Some(dir) =>
            // the store grows with batch count forever; a dashboard poll
            // must not collect the whole history onto the HTTP thread —
            // serve the trailing window. The floor comes from the HWM
            // sidecar (one tiny read) and batch_id is the partition
            // column, so pruning keeps the scan proportional to the
            // window, not the store.
            val floor = graft.streaming.StreamingExpectations
              .lastCommitted(spark, dir) - 100L
            val rows = graft.streaming.StreamingExpectations
              .readHistory(spark, dir)
              .filter(org.apache.spark.sql.functions
                .col("batch_id") > floor)
              .orderBy("batch_id", "rule_id").collect()
              .map { r =>
                s"""{"batch_id": ${r.getLong(0)}, """ +
                s""""rule_id": ${q(r.getString(1))}, """ +
                s""""n_rows": ${r.getLong(2)}, """ +
                s""""n_violations": ${r.getLong(3)}, """ +
                s""""passed": ${r.getBoolean(4)}}"""
              }
            respond(ex, 200, rows.mkString("[", ", ", "]"))
        }
      },

      route("GET", "/api/rank/top/{n}",
        "top-n nodes from the incremental PageRank store") { (ex, params) =>
        rankDir match {
          case None =>
            respond(ex, 404, """{"detail": "no rank store configured"}""")
          case Some(dir) =>
            val rows = graft.streaming.StreamingRank
              .ranks(spark, rankStoreCfg(dir))
              .orderBy(org.apache.spark.sql.functions
                  .col("rank_e6").desc,
                org.apache.spark.sql.functions.col("node"))
              .limit(clampTopN(params)).collect()
              .map(r => s"""{"node": ${r.getLong(0)}, """ +
                s""""rank_e6": ${r.getLong(1)}}""")
            respond(ex, 200, rows.mkString("[", ", ", "]"))
        }
      },

      route("GET", "/api/rank/drift",
        "refresh-over-refresh rank-head stability (top-k overlap + " +
          "footrule)") { (ex, _) =>
        rankDir match {
          case None =>
            respond(ex, 404, """{"detail": "no rank store configured"}""")
          case Some(dir) =>
            // refresh-cardinality log, same boundedness as the
            // community drift route
            val rows = graft.streaming.StreamingRank
              .rankDrift(spark, rankStoreCfg(dir)).collect()
              .map(r => s"""{"refresh_seq": ${r.getLong(0)}, """ +
                s""""k": ${r.getLong(1)}, """ +
                s""""overlap": ${r.getLong(2)}, """ +
                s""""footrule": ${r.getLong(3)}}""")
            respond(ex, 200, rows.mkString("[", ", ", "]"))
        }
      },

      route("GET", "/api/communities/top/{n}",
        "largest communities from the incremental label store") {
        (ex, params) =>
        rankDir match {
          case None =>
            respond(ex, 404, """{"detail": "no rank store configured"}""")
          case Some(dir) =>
            val rows = graft.streaming.StreamingCommunities
              .summary(spark, rankStoreCfg(dir))
              .limit(clampTopN(params)).collect()
              .map(r => s"""{"community": ${r.getLong(0)}, """ +
                s""""n_members": ${r.getLong(1)}, """ +
                s""""min_member": ${r.getLong(2)}, """ +
                s""""max_member": ${r.getLong(3)}}""")
            respond(ex, 200, rows.mkString("[", ", ", "]"))
        }
      },

      route("GET", "/api/communities/drift",
        "refresh-over-refresh community stability (Rand index ppm + " +
          "top-k head overlap/footrule)") {
        (ex, _) =>
        rankDir match {
          case None =>
            respond(ex, 404, """{"detail": "no rank store configured"}""")
          case Some(dir) =>
            // refresh-cardinality log: one row per refresh after the
            // first, so reading it whole stays bounded
            val rows = graft.streaming.StreamingCommunities
              .drift(spark, rankStoreCfg(dir)).collect()
              .map(r => s"""{"refresh_seq": ${r.getLong(0)}, """ +
                s""""n_nodes": ${r.getLong(1)}, """ +
                s""""n_comm_prev": ${r.getLong(2)}, """ +
                s""""n_comm_next": ${r.getLong(3)}, """ +
                s""""rand_ppm": ${r.getAs[Long]("rand_ppm")}, """ +
                s""""head_k": ${r.getAs[Long]("head_k")}, """ +
                s""""head_overlap": ${r.getAs[Long]("head_overlap")}, """ +
                s""""head_footrule": ${r.getAs[Long]("head_footrule")}}""")
            respond(ex, 200, rows.mkString("[", ", ", "]"))
        }
      },

      route("POST", "/api/communities/refresh/{mode}",
        "run one community refresh (mode: cold | warm — warm seeds " +
          "LPA from the stored assignment)") { (ex, params) =>
        rankDir match {
          case None =>
            respond(ex, 404, """{"detail": "no rank store configured"}""")
          case Some(dir) =>
            // the CLI's community-refresh --warm-start, listener-driven
            // (r14 ask #6): the mode segment is the same opt-in — warm
            // seeds Graph.seededLabelPropagation from the stored
            // generation (first refresh degrades warm -> cold), cold is
            // the identity-seeded batch contract. Anything else is a
            // client error, not a silent cold run.
            params.head match {
              case m @ ("cold" | "warm") =>
                val cfg = rankStoreCfg(dir)
                graft.streaming.StreamingCommunities.refresh(spark, cfg,
                  warmStart = m == "warm")
                val n = graft.streaming.StreamingCommunities
                  .communities(spark, cfg).count()
                respond(ex, 200,
                  s"""{"status": "ok", "mode": ${q(m)}, """ +
                  s""""n_nodes": $n}""")
              case other =>
                respond(ex, 422,
                  s"""{"detail": "mode must be cold or warm, got ${
                    other.replaceAll("[\"\\\\]", "")}"}""")
            }
        }
      },

      route("GET", "/api/sampler/state",
        "streaming PPS sampler state (per-source mass + last batch)") {
        (ex, _) =>
        samplerDir match {
          case None =>
            respond(ex, 404,
              """{"detail": "no sampler store configured"}""")
          case Some(dir) =>
            // Both reads are BOUNDED by the store discipline, not the
            // stream's age: the mass store is the per-(source, batch)
            // delta relation sampler-compact keeps folded to one
            // batch_id = -1 partition per source, and the pick count
            // reads ONLY the last committed batch's partition
            // (batch_id is the partition column — pruned, never a
            // whole-store scan). A torn state mid-compact is handled
            // below this layer: offsets() serves the mass store's
            // aside while a compact is between its renames, and
            // renames nothing.
            val cfg = samplerCfg(dir)
            val sampler = graft.streaming.StreamingSampler
            val last = sampler.lastBatch(spark, cfg)
            val rows = sampler.offsets(spark, cfg)
              .orderBy(org.apache.spark.sql.functions.col("source"))
              .collect()
              .map(r => s"""{"source": ${q(r.getString(0))}, """ +
                s""""mass": ${r.getAs[Long]("mass")}}""")
            val picks =
              if (last < 0L) 0L
              else sampler.picks(spark, cfg)
                .filter(org.apache.spark.sql.functions
                  .col("batch_id").cast("long") === last)
                .count()
            respond(ex, 200,
              s"""{"last_batch": $last, """ +
                s""""last_batch_picks": $picks, """ +
                s""""sources": ${rows.mkString("[", ", ", "]")}}""")
        }
      },

      route("GET", "/api/bench/history",
        "run-over-run bench trend (last 100 runs)") { (ex, _) =>
        benchHistory match {
          case None =>
            respond(ex, 404, """{"detail": "no bench history configured"}""")
          case Some(path) =>
            val p = java.nio.file.Paths.get(path)
            if (!java.nio.file.Files.exists(p))
              respond(ex, 200, "[]")
            else {
              // each line is already a JSON object (Bench appends via
              // BenchStats.historyLine); serve the trailing window. The
              // file grows one line per run forever, so a hot dashboard
              // endpoint must not re-read the whole thing — read a
              // bounded TAIL (256 KiB ≫ 100 records). ONE extra byte
              // before the window (when mid-file) tells us whether the
              // window starts exactly on a record boundary: a '\n' at
              // the seam means the first line is a whole record and
              // must be kept (r14 advice — the old unconditional drop
              // silently lost one valid record per boundary-aligned
              // window); anything else means the window began
              // mid-record and the partial head is skipped through its
              // first newline.
              val size = java.nio.file.Files.size(p)
              val cap = 256L * 1024
              val from = math.max(0L, size - cap)
              val start = if (from > 0) from - 1 else 0L
              val ch = java.nio.channels.FileChannel.open(p,
                java.nio.file.StandardOpenOption.READ)
              val text =
                try {
                  val buf = java.nio.ByteBuffer.allocate(
                    (size - start).toInt)
                  ch.position(start)
                  while (buf.hasRemaining && ch.read(buf) >= 0) {}
                  new String(buf.array(), 0, buf.position(),
                    java.nio.charset.StandardCharsets.UTF_8)
                } finally ch.close()
              val window =
                if (from == 0) text
                else if (text.startsWith("\n")) text.substring(1)
                else {
                  val i = text.indexOf('\n')
                  if (i < 0) "" else text.substring(i + 1)
                }
              // a reader racing the appender can capture a torn
              // in-progress final line — emit it only if it terminated
              // (every record ends with '}'; the newline may not have
              // landed yet)
              respond(ex, 200,
                wholeLines(window).takeRight(100)
                  .mkString("[", ", ", "]"))
            }
        }
      },

      route("GET", "/api/bench/ring",
        "per-query baseline ring (last runs' medians per sf)") { (ex, _) =>
        benchHistory match {
          case None =>
            respond(ex, 404, """{"detail": "no bench history configured"}""")
          case Some(path) =>
            // the ring lives beside the history file and is BOUNDED by
            // construction (RingKeep lines per scale factor, rewritten
            // on rotation — never an append-forever log), so the whole
            // file is served. The writer installs via temp file +
            // ATOMIC_MOVE, so a read sees the old or the new ring,
            // never a torn rewrite; the wholeLines guard stays as
            // defence in depth for a pre-atomic writer's file
            val p = java.nio.file.Paths.get(path)
              .resolveSibling("ring.jsonl")
            if (!java.nio.file.Files.exists(p))
              respond(ex, 200, "[]")
            else {
              val text = new String(
                java.nio.file.Files.readAllBytes(p),
                java.nio.charset.StandardCharsets.UTF_8)
              respond(ex, 200,
                wholeLines(text).mkString("[", ", ", "]"))
            }
        }
      },

      route("GET", "/api/sessions/sweep/{gaps}",
        "session_window gap sweep: per gap-minutes session stats") {
        (ex, params) =>
        eventsDir match {
          case None =>
            respond(ex, 404, """{"detail": "no events dir configured"}""")
          case Some(dir) =>
            // bounded sweep: each gap is one sessionization pass over
            // the events table, so the parameter list is clamped (≤ 8
            // gaps, 1–1440 min) — an HTTP caller can widen the sweep,
            // never turn it into an unbounded scan loop
            val gaps = params.head.split(',').toSeq
              .flatMap(g => scala.util.Try(g.trim.toInt).toOption)
              .filter(g => g >= 1 && g <= 1440).distinct.sorted.take(8)
            if (gaps.isEmpty)
              respond(ex, 422,
                """{"detail": "gaps must be 1-1440 minutes, comma-separated"}""")
            else {
              // event_id rides along: the session assignment's window
              // orders by (ts, event_id) for a deterministic tie-break
              val ev = graft.Tables.load(spark, dir, "events")
                .select(org.apache.spark.sql.functions.col("user_id"),
                  org.apache.spark.sql.functions.col("ts"),
                  org.apache.spark.sql.functions.col("event_id"))
              val rows = gaps.map { g =>
                val r = graft.streaming.Events.sessionizeBatch(ev, g)
                  .agg(
                    org.apache.spark.sql.functions.count(
                      org.apache.spark.sql.functions.lit(1))
                      .as("n_sessions"),
                    org.apache.spark.sql.functions.sum(
                      org.apache.spark.sql.functions.col("n_events"))
                      .as("n_events"),
                    org.apache.spark.sql.functions.max(
                      org.apache.spark.sql.functions.col("n_events"))
                      .as("max_events")).head
                val nS = r.getLong(0)
                val nE = if (r.isNullAt(1)) 0L else r.getLong(1)
                val mx = if (r.isNullAt(2)) 0L else r.getLong(2)
                val meanE2 = if (nS > 0) 100L * nE / nS else 0L
                s"""{"gap_minutes": $g, "n_sessions": $nS, """ +
                  s""""n_events": $nE, "max_session_events": $mx, """ +
                  s""""mean_events_per_session_e2": $meanE2}"""
              }
              respond(ex, 200, rows.mkString("[", ", ", "]"))
            }
        }
      },

      route("GET", "/api/system/schemas/{table}/columns",
        "stored column stats") { (ex, params) =>
        StatsStore.load(metadataDir, params.head) match {
          case Some(rec) =>
            val cols = rec.columns.map(c =>
              s"""{"name": ${q(c.name)}, "ndv": ${c.ndv}, """ +
              s""""num_nulls": ${c.numNulls}, "low_value": ${q(c.lowValue)}, """ +
              s""""high_value": ${q(c.highValue)}}""").mkString("[", ", ", "]")
            respond(ex, 200, cols)
          case None => respond(ex, 404, """{"detail": "no stats"}""")
        }
      },

      route("GET", "/api/system/schemas/{table}/partitions",
        "stored partition stats") { (ex, params) =>
        StatsStore.load(metadataDir, params.head) match {
          case Some(rec) =>
            val parts = rec.partitions.map(p =>
              s"""{"name": ${q(p.name)}, "high_value": ${q(p.highValue)}, """ +
              s""""rows": ${p.rows}, "bytes": ${p.bytes}}""").mkString("[", ", ", "]")
            respond(ex, 200, parts)
          case None => respond(ex, 404, """{"detail": "no stats"}""")
        }
      },

      route("GET", "/api/system/views/{table}",
        "hybrid/conversion view clauses") { (ex, params) =>
        MetadataStore.load(metadataDir, params.head) match {
          case Some(m) =>
            // Hybrid-view semantics: residual rows live where the key is
            // ABOVE the HWM; offloaded rows are the complement. NULL
            // keys make BOTH k>hwm and NOT(k>hwm) non-true, so they are
            // explicitly assigned to the residual side — the two clauses
            // must partition the table (offloaded UNION residual =
            // source). A predicate-based offload's clause is its stored
            // predicate (residual keeps predicate-NULL rows the same
            // way); a FULL offload has no residual at all.
            val (offloaded, residual) =
              if (m.incrementalKey.nonEmpty &&
                  m.incrementalHighValue.nonEmpty) {
                val gt = graft.plan.Boundary.Sql.greaterThanLiterals(
                  m.incrementalKey, m.incrementalHighValue)
                val k0 = m.incrementalKey.head
                (s"NOT ($gt) AND $k0 IS NOT NULL",
                 s"($gt) OR $k0 IS NULL")
              } else if (m.incrementalPredicateValue.nonEmpty) {
                val p = m.incrementalPredicateValue
                  .map(v => s"(${graft.predicate.OffloadPredicate.toSql(
                    graft.predicate.OffloadPredicate.parseUnsafe(v))})")
                  .mkString(" OR ")
                (p, s"NOT COALESCE($p, FALSE)")
              } else ("TRUE", "FALSE")
            // Drilldown estimates (reference hybrid_view_service detail):
            // FULL ⇒ everything offloaded; RANGE ⇒ partition-granular
            // split of copied stats around the HWM; predicate offloads
            // and stat-less tables report null (unknown), never a guess.
            val stats = StatsStore.load(metadataDir, m.sourceTable)
            val split: Option[(Long, Long, Long, Long)] =
              if (m.incrementalKey.nonEmpty && m.incrementalHighValue.nonEmpty)
                stats.flatMap(
                  StatsStore.hybridSplit(_, m.incrementalHighValue))
              else if (offloaded == "TRUE") // FULL: no residual
                stats.map(r => (r.numRows, r.numBytes, 0L, 0L))
              else None
            def n(v: Option[Long]): String =
              v.map(_.toString).getOrElse("null")
            respond(ex, 200,
              s"""{"source_table": ${q(m.sourceTable)}, """ +
              s""""backend_table": ${q(m.backendTable)}, """ +
              s""""hybrid_view": ${q(m.sourceTable + "_hv")}, """ +
              s""""conversion_view": ${q(m.sourceTable + "_conv")}, """ +
              s""""offload_type": ${q(m.offloadType)}, """ +
              s""""incremental_key": ${m.incrementalKey.map(q)
                .mkString("[", ", ", "]")}, """ +
              s""""offloaded_clause": ${q(offloaded)}, """ +
              s""""residual_clause": ${q(residual)}, """ +
              s""""offloaded_rows_est": ${n(split.map(_._1))}, """ +
              s""""offloaded_bytes_est": ${n(split.map(_._2))}, """ +
              s""""residual_rows_est": ${n(split.map(_._3))}, """ +
              s""""residual_bytes_est": ${n(split.map(_._4))}}""")
          case None => respond(ex, 404, """{"detail": "not offloaded"}""")
        }
      },

      route("GET", "/api/orchestration/progress",
        "server-sent step events for the running command") { (ex, _) =>
        // Server-sent events: one `data:` frame per published step event.
        // The stream ends on a command_end frame or after 15 s idle —
        // clients reconnect (standard SSE semantics).
        val sub = bus.subscribe()
        // headers are committed before the loop, so a failure here must
        // not fall through to the outer respond(500) (headers already
        // sent): a disconnected client just ends the stream
        try {
          ex.getResponseHeaders.set("Content-Type", "text/event-stream")
          ex.getResponseHeaders.set("Cache-Control", "no-cache")
          ex.sendResponseHeaders(200, 0)
          val os = ex.getResponseBody
          var open = true
          while (open) {
            val msg = sub.poll(15, java.util.concurrent.TimeUnit.SECONDS)
            if (msg == null) open = false
            else {
              os.write(("data: " + msg + "\n\n")
                .getBytes(StandardCharsets.UTF_8))
              os.flush()
              if (msg.contains("\"event\":\"command_end\"")) open = false
            }
          }
          os.close()
        } catch {
          case _: java.io.IOException => ()
        } finally bus.unsubscribe(sub)
      },

      route("GET", "/api/orchestration/runs",
        "command run histories, newest first") { (ex, _) =>
        respond(ex, 200, graft.meta.CommandAudit.open(metadataDir)
          .runs().map(runJson).mkString("[", ", ", "]"))
      },

      route("GET", "/api/orchestration/runs/{executionId}",
        "one command run by execution id") { (ex, params) =>
        graft.meta.CommandAudit.open(metadataDir).run(params.head) match {
          case Some(r) => respond(ex, 200, runJson(r))
          case None => respond(ex, 404, """{"detail": "no such run"}""")
        }
      },

      route("GET", "/api/orchestration/runs/{executionId}/log",
        "plain-text execution log rendered from the audit timeline") {
        (ex, params) =>
        // Execution log (reference GET /executions/{id}/execution-log/,
        // `listener/api/routes/orchestration.py:114-156`): the
        // reference streams the command's log FILE; this engine's
        // execution artifact is the audit timeline, so the log is that
        // timeline rendered as plain text — same consumer contract
        // (a human-readable per-execution transcript).
        graft.meta.CommandAudit.open(metadataDir).run(params.head) match {
          case Some(r) =>
            def ts(millis: Long): String =
              java.time.Instant.ofEpochMilli(millis).toString
            val sb = new StringBuilder
            sb ++= s"${ts(r.startTs)} ${r.commandType} " +
              s"${r.commandInput} [${r.executionId}]\n"
            r.steps.foreach { st =>
              sb ++= s"${ts(st.startTs)} step ${st.step}: ${st.status}"
              if (st.details.nonEmpty) sb ++= s" — ${st.details}"
              sb += '\n'
            }
            r.chunks.foreach { c =>
              sb ++= s"${ts(c.startTs)} chunk ${c.chunkNumber} " +
                s"[${c.partitions.mkString(",")}]: ${c.status}" +
                c.rowCount.map(n => s" rows=$n").getOrElse("") + "\n"
            }
            sb ++= s"${r.endTs.map(ts).getOrElse("…")} command " +
              s"${r.status}\n"
            val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
            ex.getResponseHeaders.set("Content-Type",
              "text/plain; charset=utf-8")
            ex.sendResponseHeaders(200, bytes.length.toLong)
            val os = ex.getResponseBody
            os.write(bytes); os.close()
          case None => respond(ex, 404, """{"detail": "no such run"}""")
        }
      },

      route("GET", "/api/orchestration/offloads",
        "all offload metadata documents") { (ex, _) =>
        val all = listTables(metadataDir)
          .flatMap(t => MetadataStore.load(metadataDir, t))
          .map(MetadataStore.toJson).mkString("[", ", ", "]")
        respond(ex, 200, all)
      },

      route("GET", "/api/orchestration/offloads/{table}",
        "one table's offload metadata") { (ex, params) =>
        MetadataStore.load(metadataDir, params.head) match {
          case Some(m) => respond(ex, 200, MetadataStore.toJson(m))
          case None => respond(ex, 404, """{"detail": "not offloaded"}""")
        }
      },

      route("POST", "/api/orchestration/offload",
        "run an offload (json body: the offload fields)") { (ex, _) =>
        val request = scala.util.Try(Json.parse(new String(
          ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)))
          .toEither.left.map(e => "body is not a JSON object: " +
            String.valueOf(e.getMessage).takeWhile(_ != '\n'))
          .flatMap(b => try Right(OffloadRunner.OffloadConfig.fromFields(spark,
              Map("meta" -> Seq(metadataDir)) ++
                b.keys.map(k => k -> b.values(k))))
            catch { case e @ (_: IllegalArgumentException |
                              _: NoSuchElementException) => Left(e.getMessage) })
        request match {
          case Right(cfg) =>
            val execId = graft.meta.CommandAudit.newExecutionId()
            val frame = s""""execution_id":${q(execId)},""" +
              s""""table":${q(cfg.sourceTable)}"""
            bus.publish(s"""{"event":"command_begin",$frame}""")
            val steps =
              try OffloadRunner.offload(spark, cfg.copy(
                executionId = Some(execId),
                // live heartbeat: every step lands on the progress bus as
                // it completes, while the command is still running
                progress = Some(sr => bus.publish(
                  s"""{"event":"step",$frame,${sr.jsonFields}}"""))))
              finally bus.publish(s"""{"event":"command_end",$frame}""")
            respond(ex, 200,
              steps.map(s => s"{${s.jsonFields}}").mkString("[", ", ", "]"))
          case Left(detail) => respond(ex, 422, s"""{"detail": ${q(detail)}}""")
        }
      })

    def handle(ex: HttpExchange): Unit = try {
      if (!authed(ex)) { respond(ex, 401, """{"detail": "unauthorized"}"""); return }
      val segs = ex.getRequestURI.getPath
        .split('/').toList.filter(_.nonEmpty)
      val method = ex.getRequestMethod
      routes.iterator
        .flatMap(r =>
          if (r.info.method != method) Iterator.empty
          else matchPattern(r.info.pattern, segs)
            .map(params => () => r.handler(ex, params)).iterator)
        .nextOption() match {
        case Some(run) => run()
        case None => respond(ex, 404, """{"detail": "not found"}""")
      }
    } catch {
      case e: Exception if isRepoBusy(e) =>
        // embedded Derby has no MVCC: a metadata read blocked behind a
        // writer's uncommitted row locks surfaces a lock-wait/query
        // timeout — a TRANSIENT contention state, not a server fault.
        // 503 + Retry-After tells the client to retry, and keeps lock
        // contention distinguishable from real 500s in ops dashboards.
        ex.getResponseHeaders.set("Retry-After", "2")
        respond(ex, 503,
          s"""{"detail": "metadata repository busy (lock wait); retry", """ +
            s""""cause": ${q(String.valueOf(e.getMessage))}}""")
      case e: Exception =>
        respond(ex, 500, s"""{"detail": ${q(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

    http.createContext("/", handle(_))
    http.start()
    Server(http, pool, bus, beater, routes.map(_.info))
  }
}
