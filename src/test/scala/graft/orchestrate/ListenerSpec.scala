package graft.orchestrate

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.meta.StatsStore
import graft.source.TableStats

class ListenerSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def get(url: String, headers: (String, String)*): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
  }

  private def post(url: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("listener serves status, metadata inventory and copied stats") {
    val base = Files.createTempDirectory("graft_listener_api").toString
    // seed: one offload + one stats copy
    val steps = OffloadRunner.offload(spark, OffloadRunner.OffloadConfig(
      sourceTable = "nation",
      sourcePath = sf("sf0.001") + "/nation.parquet",
      stagingPath = s"$base/staging", finalPath = s"$base/final",
      metadataDir = s"$base/meta"))
    assert(steps.forall(_.ok))
    StatsStore.save(s"$base/meta", TableStats.collectStats(
      graft.Tables.load(spark, sf("sf0.001"), "nation"), "nation",
      partitionKey = Some(col("n_regionkey"))))

    val srv = Listener.start(spark, s"$base/meta")
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val status = get(s"$root/api/system/status/")
      assert(status.statusCode() == 200)
      assert(status.body().contains("\"offloaded_tables\": 1"))

      val inv = get(s"$root/api/orchestration/offloads/")
      assert(inv.statusCode() == 200 &&
        inv.body().contains("\"source_table\": \"nation\""))
      val one = get(s"$root/api/orchestration/offloads/nation/")
      assert(one.statusCode() == 200 &&
        one.body().contains("\"offload_type\": \"FULL\""))
      assert(get(s"$root/api/orchestration/offloads/ghost/")
        .statusCode() == 404)

      val cols = get(s"$root/api/system/schemas/nation/columns/")
      assert(cols.statusCode() == 200 &&
        cols.body().contains("\"name\": \"n_name\""))
      val parts = get(s"$root/api/system/schemas/nation/partitions/")
      assert(parts.statusCode() == 200 && parts.body().contains("\"rows\":"))

      // sanitized configuration (reference system.py get_configuration)
      val conf = get(s"$root/api/system/configuration/")
      assert(conf.statusCode() == 200)
      assert(conf.body().contains("\"metadata_backend\": \"file\""))
      assert(conf.body().contains("\"spark_version\""))
      assert(conf.body().contains("\"engine_version\""))

      // schemas inventory (reference system.py:87-106): "nation" has no
      // schema qualifier, so it groups under "default" with count 1
      val schemas = get(s"$root/api/system/schemas/")
      assert(schemas.statusCode() == 200)
      assert(schemas.body().contains("\"schema_name\": \"default\"") &&
        schemas.body().contains("\"table_count\": 1"), schemas.body())

      // docs route: an OpenAPI-shaped inventory naming every route the
      // dispatcher serves (reference listener/api/routes/docs.py).
      // CANNOT DRIFT: both the docs JSON and dispatch render from one
      // route table — assert the inventory equals that table exactly.
      val docs = get(s"$root/api/docs/")
      assert(docs.statusCode() == 200)
      assert(docs.body().contains("\"openapi\""))
      srv.routes.foreach { r =>
        assert(docs.body().contains(
          "\"" + r.pattern + "\": {\"" + r.method.toLowerCase + "\""),
          s"docs missing dispatched route ${r.method} ${r.pattern}")
      }
      // and every documented path string is a dispatched pattern
      val documented = "\"(/api/[^\"]*)\"".r
        .findAllMatchIn(docs.body()).map(_.group(1)).toSet
      assert(documented == srv.routes.map(_.pattern).toSet,
        s"docs/dispatch drift: $documented vs ${srv.routes.map(_.pattern)}")
      // the dispatch table covers the full documented surface, including
      // the route this spec exercises above
      assert(srv.routes.map(_.pattern).contains("/api/system/schemas"))
    } finally srv.stop()
  }

  test("views endpoint serves hybrid-view info with boundary clauses") {
    import graft.meta.{MetadataStore, OffloadMetadata}
    val base = Files.createTempDirectory("graft_listener_views").toString
    // incremental table: residual clause must come from the HWM tuple
    MetadataStore.save(s"$base/meta", OffloadMetadata(
      sourceTable = "orders", backendTable = "orders_b",
      offloadType = "INCREMENTAL",
      incrementalKey = Seq("o_orderdate", "o_orderkey"),
      incrementalHighValue = Seq("DATE '1998-01-01'", "15000")))
    // full-offloaded table: everything offloaded, no residual
    MetadataStore.save(s"$base/meta", OffloadMetadata(
      sourceTable = "nation", backendTable = "nation_b",
      offloadType = "FULL"))
    // predicate-based offload: the stored DSL is the offloaded clause
    MetadataStore.save(s"$base/meta", OffloadMetadata(
      sourceTable = "li", backendTable = "li_b",
      offloadType = "INCREMENTAL",
      incrementalPredicateType = Some("PREDICATE"),
      incrementalPredicateValue =
        Seq("(column(l_returnflag) = string(\"A\"))")))
    // copied stats feed the drilldown estimates: two partitions at or
    // below the HWM's first key (offloaded), one beyond (residual)
    import graft.meta.{PartitionStatsRec, StatsStore, TableStatsRecord}
    StatsStore.save(s"$base/meta", TableStatsRecord(
      table = "orders", numRows = 600L, numBytes = 6000L, avgRowLen = 10.0,
      partitions = Seq(
        PartitionStatsRec("p97", "DATE '1997-01-01'", 100L, 1000L),
        PartitionStatsRec("p98", "DATE '1998-01-01'", 200L, 2000L),
        PartitionStatsRec("p99", "DATE '1999-01-01'", 300L, 3000L))))
    StatsStore.save(s"$base/meta", TableStatsRecord(
      table = "nation", numRows = 25L, numBytes = 2500L, avgRowLen = 100.0))

    val srv = Listener.start(spark, s"$base/meta")
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val inc = get(s"$root/api/system/views/orders/")
      assert(inc.statusCode() == 200, inc.body())
      assert(inc.body().contains("\"hybrid_view\": \"orders_hv\""))
      // NULL-key rows must land on exactly one side (residual) or the
      // offloaded/residual pair would not partition the table
      assert(inc.body().contains(
        "\"residual_clause\": \"((o_orderdate > DATE '1998-01-01') OR " +
        "(o_orderdate = DATE '1998-01-01' AND o_orderkey > 15000)) " +
        "OR o_orderdate IS NULL\""))
      assert(inc.body().contains("\"offloaded_clause\": \"NOT ("))
      assert(inc.body().contains("AND o_orderdate IS NOT NULL"))
      // drilldown estimates: p97+p98 at/below the HWM key offloaded,
      // p99 beyond it residual (boundary partition counts offloaded)
      assert(inc.body().contains("\"offloaded_rows_est\": 300"))
      assert(inc.body().contains("\"offloaded_bytes_est\": 3000"))
      assert(inc.body().contains("\"residual_rows_est\": 300"))
      assert(inc.body().contains("\"residual_bytes_est\": 3000"))

      val full = get(s"$root/api/system/views/nation/")
      assert(full.statusCode() == 200)
      assert(full.body().contains("\"offloaded_clause\": \"TRUE\"") &&
        full.body().contains("\"residual_clause\": \"FALSE\""))
      // FULL: whole stats rowcount offloaded, zero residual
      assert(full.body().contains("\"offloaded_rows_est\": 25"))
      assert(full.body().contains("\"residual_rows_est\": 0"))

      val pred = get(s"$root/api/system/views/li/")
      assert(pred.statusCode() == 200, pred.body())
      assert(pred.body().contains("l_returnflag = 'A'"))
      // predicate offloads report unknown, never a guess
      assert(pred.body().contains("\"offloaded_rows_est\": null"))
      assert(pred.body().contains("\"residual_rows_est\": null"))
      assert(get(s"$root/api/system/views/ghost/").statusCode() == 404)
    } finally srv.stop()
  }

  test("runs endpoint serves persisted command audit history") {
    val base = Files.createTempDirectory("graft_listener_runs").toString
    val steps = OffloadRunner.offload(spark, OffloadRunner.OffloadConfig(
      sourceTable = "region",
      sourcePath = sf("sf0.001") + "/region.parquet",
      stagingPath = s"$base/staging", finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      executionId = Some("exec-listener-1")))
    assert(steps.forall(_.ok))

    val srv = Listener.start(spark, s"$base/meta")
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val all = get(s"$root/api/orchestration/runs/")
      assert(all.statusCode() == 200, all.body())
      assert(all.body().contains("\"execution_id\": \"exec-listener-1\""))
      assert(all.body().contains("\"command_type\": \"OFFLOAD\""))
      assert(all.body().contains("\"status\": \"SUCCESS\""))
      assert(all.body().contains("\"step\": \"stage_and_load\""))

      val one = get(s"$root/api/orchestration/runs/exec-listener-1/")
      assert(one.statusCode() == 200)
      assert(one.body().contains("\"command_input\": \"region\""))
      assert(get(s"$root/api/orchestration/runs/ghost/").statusCode() == 404)

      // plain-text execution log rendered from the audit timeline
      val log = get(s"$root/api/orchestration/runs/exec-listener-1/log/")
      assert(log.statusCode() == 200)
      assert(log.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/plain"))
      assert(log.body().contains("OFFLOAD region [exec-listener-1]"))
      assert(log.body().contains("step stage_and_load: SUCCESS"))
      assert(log.body().contains("command SUCCESS"))
      assert(get(s"$root/api/orchestration/runs/ghost/log/")
        .statusCode() == 404)
    } finally srv.stop()
  }

  test("SSE progress stream delivers step frames before command_end") {
    val base = Files.createTempDirectory("graft_listener_sse").toString
    val srv = Listener.start(spark, s"$base/meta")
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      // open the stream first; the handler subscribes to the bus BEFORE
      // committing response headers, so once sendAsync completes (headers
      // received) the subscription is live and no published frame can be
      // missed by this client
      val resp = client.sendAsync(
        HttpRequest.newBuilder(URI.create(s"$root/api/orchestration/progress/"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofLines()).join()
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type")
        .orElse("").startsWith("text/event-stream"))
      val frames = new java.util.concurrent.LinkedBlockingQueue[String]()
      // heartbeat frames are keep-alives; command-progress clients skip them
      val reader = new Thread(() =>
        resp.body().forEach(l => if (l.startsWith("data: ") &&
            !l.contains("\"event\":\"heartbeat\"")) {
          frames.add(l.stripPrefix("data: ")); ()
        }))
      reader.setDaemon(true)
      reader.start()

      // a dry-run offload publishes begin, per-step and end frames live
      val posted = post(s"$root/api/orchestration/offload/",
        s"""{"source": "${sf("sf0.001")}/region.parquet",
           | "table": "region",
           | "final": "$base/final",
           | "meta": "$base/meta",
           | "dry_run": "true"}""".stripMargin)
      assert(posted.statusCode() == 200, posted.body())

      val seen = scala.collection.mutable.Buffer[String]()
      var done = false
      while (!done) {
        val f = frames.poll(20, java.util.concurrent.TimeUnit.SECONDS)
        assert(f != null, s"stream stalled after: ${seen.mkString("; ")}")
        seen += f
        if (f.contains("\"event\":\"command_end\"")) done = true
      }
      reader.join(5000)

      assert(seen.head.contains("\"event\":\"command_begin\""))
      val stepIdx = seen.indexWhere(_.contains("\"event\":\"step\""))
      val endIdx = seen.indexWhere(_.contains("\"event\":\"command_end\""))
      assert(stepIdx > 0, s"no step frame in: ${seen.mkString("; ")}")
      assert(stepIdx < endIdx, "step frames must precede command_end")
      assert(endIdx == seen.length - 1, "stream must close at command_end")
      assert(seen(stepIdx).contains("\"table\":\"region\"") &&
        seen(stepIdx).contains("\"ok\":true"))
    } finally srv.stop()
  }

  test("progress bus bounds slow consumers: 1024 events, drop oldest") {
    val bus = new Listener.ProgressBus
    val sub = bus.subscribe()
    (1 to 1500).foreach(i => bus.publish(s"e$i"))
    assert(sub.size() == 1024)
    // the 476 oldest events were dropped; the head is e477, tail e1500
    assert(sub.peek() == "e477")
    val drained = new java.util.ArrayList[String]()
    sub.drainTo(drained)
    assert(drained.get(drained.size() - 1) == "e1500")
    // a fresh subscriber sees nothing retroactively
    val late = bus.subscribe()
    bus.publish("post")
    assert(late.poll() == "post" && late.poll() == null)
    bus.unsubscribe(sub); bus.unsubscribe(late)
  }

  test("heartbeat endpoint reports liveness and the bus carries beat frames") {
    val base = Files.createTempDirectory("graft_listener_beat").toString
    // 1 s interval so the spec observes a live beat without long sleeps
    val srv = Listener.start(spark, s"$base/meta", heartbeatSeconds = 1)
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val hb = get(s"$root/api/system/heartbeat/")
      assert(hb.statusCode() == 200, hb.body())
      assert(hb.body().contains("\"status\": \"ok\""))
      assert(hb.body().contains("\"alive\": true"))
      assert(hb.body().contains("\"interval_s\": 1"))
      assert(hb.body().contains("\"listener_id\": \""))

      // the periodic publisher must land heartbeat frames on the bus
      val sub = srv.bus.subscribe()
      try {
        val frame = sub.poll(10, java.util.concurrent.TimeUnit.SECONDS)
        assert(frame != null, "no heartbeat frame within 10 s")
        assert(frame.contains("\"event\":\"heartbeat\""))
        assert(frame.contains("\"uptime_s\":"))
      } finally srv.bus.unsubscribe(sub)

      // freshness contract: alive ⇔ last beat within 2× interval. After
      // stop() the beater is down, so a sufficiently-later check via the
      // same math would go stale — asserted directly on the contract here:
      val body = hb.body()
      val beat = "\"last_beat_ms\": (\\d+)".r
        .findFirstMatchIn(body).get.group(1).toLong
      assert(System.currentTimeMillis() - beat < 60000)
    } finally srv.stop()
  }

  test("token auth guards every route; POST offload runs end-to-end") {
    val base = Files.createTempDirectory("graft_listener_post").toString
    val srv = Listener.start(spark, s"$base/meta", token = Some("s3cret"))
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      assert(get(s"$root/api/system/status/").statusCode() == 401)
      assert(get(s"$root/api/system/status/",
        "x-api-token" -> "s3cret").statusCode() == 200)

      // POST offload (authed): a real run through the runner
      val body =
        s"""{"source": "${sf("sf0.001")}/region.parquet",
           | "table": "region",
           | "final": "$base/final",
           | "meta": "$base/meta"}""".stripMargin
      val resp = client.send(HttpRequest.newBuilder(
          URI.create(s"$root/api/orchestration/offload/"))
        .header("x-api-token", "s3cret")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      assert(resp.body().contains("\"step\": \"stage_and_load\""))
      assert(spark.read.parquet(s"$base/final").count() == 5)
      // and the new offload is visible in the inventory
      val inv = get(s"$root/api/orchestration/offloads/region/",
        "x-api-token" -> "s3cret")
      assert(inv.statusCode() == 200)
      // malformed body is a 422
      val bad = post(s"$root/api/orchestration/offload/", "{}")
      assert(bad.statusCode() == 401) // unauthenticated post also guarded
    } finally srv.stop()
  }

  test("POST offload with a JSON boolean dry_run writes no final table") {
    val base = Files.createTempDirectory("graft_listener_dry").toString
    val srv = Listener.start(spark, s"$base/meta")
    try {
      val resp = post(s"http://127.0.0.1:${srv.port}/api/orchestration/offload/",
        s"""{"source": "${sf("sf0.001")}/region.parquet",
           | "table": "region", "final": "$base/final",
           | "dry_run": true}""".stripMargin)
      assert(resp.statusCode() == 200, resp.body())
      assert(resp.body().contains("\"step\": \"stage_and_load\""))
      assert(!Files.exists(java.nio.file.Paths.get(s"$base/final")))
    } finally srv.stop()
  }

  test("POST offload takes incremental_key as a JSON array and answers " +
      "a body that is not JSON with a 422") {
    val base = Files.createTempDirectory("graft_listener_body").toString
    val srv = Listener.start(spark, s"$base/meta")
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val resp = post(s"$root/api/orchestration/offload/",
        s"""{"source": "${sf("sf0.001")}/region.parquet",
           | "table": "region", "final": "$base/final",
           | "incremental_key": ["r_regionkey"]}""".stripMargin)
      assert(resp.statusCode() == 200, resp.body())
      assert(spark.read.parquet(s"$base/final").count() == 5)
      val meta = get(s"$root/api/orchestration/offloads/region/")
      assert(meta.body().contains(
        "\"incremental_key\": [\"r_regionkey\"]"), meta.body())
      val bad = post(s"$root/api/orchestration/offload/", "{\"source\": ")
      assert(bad.statusCode() == 422, bad.body())
      assert(bad.body().contains("\"detail\": \"body is not a JSON object"),
        bad.body())
    } finally srv.stop()
  }

  test("the listener serves a JDBC-repository metadata dir: POST " +
      "offload commits to the database, inventory and runs read it back") {
    val base = Files.createTempDirectory("graft_listener_jdbc").toString
    val url = s"jdbc:derby:$base/repo"
    val srv = Listener.start(spark, url)
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val body =
        s"""{"source": "${sf("sf0.001")}/region.parquet",
           | "table": "region",
           | "final": "$base/final"}""".stripMargin
      val resp = client.send(HttpRequest.newBuilder(
          URI.create(s"$root/api/orchestration/offload/"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      assert(spark.read.parquet(s"$base/final").count() == 5)
      // inventory comes from the repo's offload_metadata table
      val status = get(s"$root/api/system/status/")
      assert(status.body().contains("\"offloaded_tables\": 1"))
      assert(get(s"$root/api/orchestration/offloads/region/")
        .statusCode() == 200)
      // the audit run history comes from command_execution rows
      val runs = get(s"$root/api/orchestration/runs/")
      assert(runs.statusCode() == 200 &&
        runs.body().contains("\"command_input\": \"region\"") &&
        runs.body().contains("\"status\": \"SUCCESS\""))
      // configuration reports the backend the listener is serving
      assert(get(s"$root/api/system/configuration/").body()
        .contains("\"metadata_backend\": \"jdbc_repo\""))
    } finally srv.stop()
  }

  test("quality routes serve the streaming expectations store; 404 " +
      "when unconfigured") {
    import graft.verify.Expectations._
    import spark.implicits._
    val base = Files.createTempDirectory("graft_listener_q").toString
    val qc = graft.streaming.StreamingExpectations.Config(
      storeDir = s"$base/quality", checkpointDir = s"$base/ckpt",
      rules = Seq(NotNull("stream", "k")))
    graft.streaming.StreamingExpectations.processBatch(
      Seq(Some(1L), None, Some(2L)).toDF("k"), 0L, qc)
    graft.streaming.StreamingExpectations.processBatch(
      Seq(Some(3L)).toDF("k"), 1L, qc)

    val srv = Listener.start(spark, s"$base/meta",
      qualityDir = Some(s"$base/quality"))
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val tot = get(s"$root/api/quality/totals/")
      assert(tot.statusCode() == 200)
      assert(tot.body().contains("\"rule_id\": \"not_null:stream.k\""))
      assert(tot.body().contains("\"n_rows\": 4"))
      assert(tot.body().contains("\"n_violations\": 1"))
      assert(tot.body().contains("\"n_batches\": 2"))
      val hist = get(s"$root/api/quality/history/")
      assert(hist.statusCode() == 200)
      assert(hist.body().contains("\"batch_id\": 0") &&
        hist.body().contains("\"batch_id\": 1"))
      // the docs inventory includes the new routes (route-table driven)
      val docs = get(s"$root/api/docs/")
      assert(docs.body().contains("/api/quality/totals") &&
        docs.body().contains("/api/quality/history"))
    } finally srv.stop()

    val bare = Listener.start(spark, s"$base/meta")
    try {
      assert(get(s"http://127.0.0.1:${bare.port}/api/quality/totals/")
        .statusCode() == 404)
    } finally bare.stop()
  }

  test("graded quality route applies warn_if/error_if budgets; 404 " +
      "without a budget file") {
    import graft.verify.Expectations._
    import spark.implicits._
    val base = Files.createTempDirectory("graft_listener_gq").toString
    val qc = graft.streaming.StreamingExpectations.Config(
      storeDir = s"$base/quality", checkpointDir = s"$base/ckpt",
      rules = Seq(NotNull("stream", "k")))
    graft.streaming.StreamingExpectations.processBatch(
      Seq(Some(1L), None, Some(2L)).toDF("k"), 0L, qc) // 1 violation
    graft.streaming.StreamingExpectations.processBatch(
      Seq(Some(3L)).toDF("k"), 1L, qc) // clean
    val rulesFile = java.nio.file.Paths.get(base, "budgets.jsonl")
    Files.write(rulesFile, java.util.Arrays.asList(
      """{"type":"not_null","table":"stream","column":"k","warn_if":0,"error_if":5}"""))

    val srv = Listener.start(spark, s"$base/meta",
      qualityDir = Some(s"$base/quality"),
      qualityRules = Some(rulesFile.toString))
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val g = get(s"$root/api/quality/graded/")
      assert(g.statusCode() == 200)
      // batch 0's single violation fits the error budget: warn, passed
      assert(g.body().contains("\"severity\": \"warn\""))
      assert(g.body().contains("\"severity\": \"pass\""))
      assert(!g.body().contains("\"severity\": \"error\""))
      assert(get(s"$root/api/docs/").body()
        .contains("/api/quality/graded"))
    } finally srv.stop()

    // store configured but no budgets: the graded route is absent (404),
    // the raw routes still serve
    val raw = Listener.start(spark, s"$base/meta",
      qualityDir = Some(s"$base/quality"))
    try {
      val root = s"http://127.0.0.1:${raw.port}"
      assert(get(s"$root/api/quality/graded/").statusCode() == 404)
      assert(get(s"$root/api/quality/totals/").statusCode() == 200)
    } finally raw.stop()
  }

  test("rank route serves the incremental PageRank store's top nodes") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_listener_r").toString
    val rc = graft.streaming.StreamingRank.Config(
      storeDir = s"$base/rank", checkpointDir = s"$base/rckpt",
      buckets = 4)
    graft.streaming.StreamingRank.ingestBatch(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b"),
      0L, rc)
    graft.streaming.StreamingRank.refreshRanks(spark, rc)
    graft.streaming.StreamingRank.refreshRanks(spark, rc) // logs drift

    val srv = Listener.start(spark, s"$base/meta",
      rankDir = Some(s"$base/rank"))
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val top = get(s"$root/api/rank/top/2/")
      assert(top.statusCode() == 200)
      // node 3 bridges the triangle and the pendant: highest rank
      assert(top.body().startsWith("""[{"node": 3,"""))
      assert(top.body().count(_ == '}') == 2)
      // the drift route serves the refresh-over-refresh stability log
      val drift = get(s"$root/api/rank/drift/")
      assert(drift.statusCode() == 200)
      assert(drift.body().contains("\"refresh_seq\": 1"))
      assert(drift.body().contains("\"footrule\":"))
      // docs inventory lists the routes (route-table driven)
      assert(get(s"$root/api/docs/").body()
        .contains("/api/rank/top/{n}"))
      assert(get(s"$root/api/docs/").body()
        .contains("/api/rank/drift"))
      assert(get(s"$root/api/quality/totals/").statusCode() == 404)
    } finally srv.stop()
  }

  test("sampler state route serves per-source mass and the last " +
      "batch's pick count; 404 when unconfigured") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_listener_s").toString
    val cfg = Listener.samplerCfg(s"$base/sampler")
    // stride 100: batch 0 (a: 60+60 crosses 100 → 1 pick), batch 1
    // (a: 90 → 120..210 crosses 200 → 1 pick; b: 40 → no pick)
    graft.streaming.StreamingSampler.processBatch(
      Seq(("a", 1L, 60L), ("a", 2L, 60L))
        .toDF("source", "doc_id", "n_chars"), 0L,
      cfg.copy(strideChars = 100L))
    graft.streaming.StreamingSampler.processBatch(
      Seq(("a", 3L, 90L), ("b", 10L, 40L))
        .toDF("source", "doc_id", "n_chars"), 1L,
      cfg.copy(strideChars = 100L))
    // compact folds the committed deltas — the route must read the
    // folded store identically (the boundedness the comment claims)
    graft.streaming.StreamingSampler.compact(spark, cfg)
    val srv = Listener.start(spark, s"$base/meta",
      samplerDir = Some(s"$base/sampler"))
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val st = get(s"$root/api/sampler/state/")
      assert(st.statusCode() == 200)
      assert(st.body().contains(""""last_batch": 1"""))
      assert(st.body().contains(""""last_batch_picks": 1"""))
      assert(st.body().contains(
        """{"source": "a", "mass": 210}"""))
      assert(st.body().contains(
        """{"source": "b", "mass": 40}"""))
      // route-table driven docs inventory
      assert(get(s"$root/api/docs/").body()
        .contains("/api/sampler/state"))
    } finally srv.stop()
    val bare = Listener.start(spark, s"$base/meta2")
    try assert(get(s"http://127.0.0.1:${bare.port}/api/sampler/state/")
      .statusCode() == 404)
    finally bare.stop()
  }

  test("communities route serves the label store's largest families " +
      "off the same rank store dir") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("lst_comm").toString
    val c = graft.streaming.StreamingRank.Config(
      storeDir = s"$base/rank", checkpointDir = s"$base/ckpt",
      buckets = 4)
    graft.streaming.StreamingRank.ingestBatch(Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L)).toDF("id_a", "id_b"), 0L, c)
    graft.streaming.StreamingCommunities.refresh(spark, c)
    val srv = Listener.start(spark, s"$base/meta",
      rankDir = Some(s"$base/rank"))
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val top = get(s"$root/api/communities/top/5/")
      assert(top.statusCode() == 200)
      // bridged triangles -> exactly two 3-member families
      assert(top.body().count(_ == '}') == 2)
      assert("\"n_members\": (\\d+)".r
        .findAllMatchIn(top.body()).map(_.group(1).toInt).toSeq
        === Seq(3, 3))
      assert(get(s"$root/api/docs/").body()
        .contains("/api/communities/top/{n}"))
      // drift route: empty log after one refresh, one perfect-agreement
      // row after a no-change second refresh — triggered over HTTP via
      // the POST refresh route (r14 ask #6), cold mode
      assert(get(s"$root/api/communities/drift/").body() === "[]")
      val cold = post(s"$root/api/communities/refresh/cold", "")
      assert(cold.statusCode() == 200)
      assert(cold.body().contains("\"mode\": \"cold\""))
      val drift = get(s"$root/api/communities/drift/")
      assert(drift.statusCode() == 200)
      assert(drift.body().contains("\"refresh_seq\": 1"))
      assert(drift.body().contains("\"rand_ppm\": 1000000"))
      // head columns ride the same row (r14 ask #4): identical
      // generations → full head overlap, zero footrule
      assert(drift.body().contains("\"head_overlap\": 2"))
      assert(drift.body().contains("\"head_footrule\": 0"))
      // warm mode passes the flag through to the seeded operator; on
      // the unchanged store it must agree with cold exactly (the
      // fixed-point contract), logging another perfect-agreement row
      val warm = post(s"$root/api/communities/refresh/warm", "")
      assert(warm.statusCode() == 200)
      assert(warm.body().contains("\"mode\": \"warm\""))
      val drift2 = get(s"$root/api/communities/drift/").body()
      assert(drift2.contains("\"refresh_seq\": 2"))
      // an unknown mode is a client error, never a silent cold run
      assert(post(s"$root/api/communities/refresh/tepid", "")
        .statusCode() == 422)
      assert(get(s"$root/api/docs/").body()
        .contains("/api/communities/drift"))
      assert(get(s"$root/api/docs/").body()
        .contains("/api/communities/refresh/{mode}"))
    } finally srv.stop()
  }

  test("sessions sweep route: per-gap session stats, sessions " +
      "monotonically non-increasing in the gap; 404 unconfigured, " +
      "422 on garbage gaps") {
    val base = java.nio.file.Files
      .createTempDirectory("lst_sweep").toString
    val srv = Listener.start(spark, s"$base/meta",
      eventsDir = Some(sf("sf0.001")))
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val ok = get(s"$root/api/sessions/sweep/5,60,15/")
      assert(ok.statusCode() == 200)
      // gaps echo back sorted; a LARGER gap can only merge sessions,
      // so n_sessions is non-increasing across 5 → 15 → 60
      val gaps = "\"gap_minutes\": (\\d+)".r
        .findAllMatchIn(ok.body()).map(_.group(1).toInt).toSeq
      assert(gaps === Seq(5, 15, 60))
      val ns = "\"n_sessions\": (\\d+)".r
        .findAllMatchIn(ok.body()).map(_.group(1).toLong).toSeq
      assert(ns.length === 3 && ns.forall(_ >= 1L))
      assert(ns(0) >= ns(1) && ns(1) >= ns(2))
      // total event count is gap-independent (sessions partition events)
      val ne = "\"n_events\": (\\d+)".r
        .findAllMatchIn(ok.body()).map(_.group(1).toLong).toSeq
      assert(ne.toSet.size === 1)
      assert(get(s"$root/api/sessions/sweep/zz/").statusCode() == 422)
      // route-table docs list it
      assert(get(s"$root/api/docs/").body()
        .contains("/api/sessions/sweep/{gaps}"))
    } finally srv.stop()
    val bare = Listener.start(spark, s"$base/meta2")
    try assert(get(s"http://127.0.0.1:${bare.port}" +
      "/api/sessions/sweep/30/").statusCode() == 404)
    finally bare.stop()
  }

  test("repo lock contention maps to 503-retry, not a generic 500: " +
      "Derby lock/deadlock/query-timeout SQLStates anywhere in the " +
      "cause chain") {
    def sql(state: String) = new java.sql.SQLException("boom", state)
    assert(Listener.isRepoBusy(sql("40XL1")))  // lock wait timeout
    assert(Listener.isRepoBusy(sql("40001")))  // deadlock victim
    assert(Listener.isRepoBusy(sql("XCL52")))  // read query timeout
    // wrapped: the repo surfaces SQLExceptions inside RuntimeExceptions
    assert(Listener.isRepoBusy(
      new RuntimeException("wrap", sql("40XL1"))))
    // everything else stays a real 500
    assert(!Listener.isRepoBusy(sql("X0Y32")))
    assert(!Listener.isRepoBusy(new RuntimeException("plain")))
    assert(!Listener.isRepoBusy(new java.sql.SQLException("no state")))
  }

  test("bench history route serves the trend file's trailing window; " +
      "[] for a missing file, 404 unconfigured") {
    val base = Files.createTempDirectory("graft_listener_bh").toString
    val hist = java.nio.file.Paths.get(base, "history.jsonl")
    // 102 runs: the route must serve only the trailing 100
    val lines = (1 to 102).map(i =>
      graft.tools.BenchStats.historyLine(1000L * i, "/d/sf0.1",
        nQueries = 280 + i, failed = 0, totalSec = 190.0 + i,
        wallSec = 900.0, reps = 3, contended = i % 2 == 0,
        nRemeasured = 1, nSuspect = 0))
    Files.write(hist, String.join("\n",
      lines: _*).getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val srv = Listener.start(spark, s"$base/meta",
      benchHistory = Some(hist.toString))
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val r = get(s"$root/api/bench/history/")
      assert(r.statusCode() == 200)
      assert(r.body().startsWith("[") && r.body().endsWith("]"))
      // trailing window: the 2 oldest runs fall out, the newest is there
      assert(!r.body().contains("\"n_queries\":281"))
      assert(!r.body().contains("\"n_queries\":282"))
      assert(r.body().contains("\"n_queries\":283"))
      assert(r.body().contains("\"n_queries\":382"))
      assert(r.body().contains("\"total_sec\":292.000"))
      assert(r.body().contains("\"contended\":true"))
      // the RING rides beside the history file: bounded whole-file
      // serve, torn last line withheld
      val ringP = java.nio.file.Paths.get(base, "ring.jsonl")
      Files.write(ringP,
        (graft.tools.BenchStats.ringLine(1L, "/d/sf0.1",
          contended = false, Seq("q01" -> 1.5)) + "\n" +
          """{"ts_ms":2,"sf":"/d/sf0.1","contended":false,"quer""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val ring = get(s"$root/api/bench/ring/")
      assert(ring.statusCode() == 200)
      assert(ring.body().contains("\"q01\":1.500"))
      assert(!ring.body().contains("\"ts_ms\":2")) // torn line withheld
      assert(get(s"$root/api/docs/").body()
        .contains("/api/bench/ring"))
      // configured but not yet written: an empty trend, not an error
      // (own subdir — the ring resolves BESIDE the history file, and
      // this test's real ring.jsonl must not leak into the ghost's)
      val ghost = Listener.start(spark, s"$base/meta",
        benchHistory = Some(s"$base/ghost/nothing.jsonl"))
      try {
        assert(get(s"http://127.0.0.1:${ghost.port}/api/bench/history/")
          .body() === "[]")
        assert(get(s"http://127.0.0.1:${ghost.port}/api/bench/ring/")
          .body() === "[]")
      } finally ghost.stop()
    } finally srv.stop()

    val bare = Listener.start(spark, s"$base/meta")
    try {
      assert(get(s"http://127.0.0.1:${bare.port}/api/bench/history/")
        .statusCode() == 404)
      assert(get(s"http://127.0.0.1:${bare.port}/api/bench/ring/")
        .statusCode() == 404)
    } finally bare.stop()
  }

  test("bench history tail boundaries (r14 advice): a boundary-aligned " +
      "window keeps its first record; a torn in-progress last line is " +
      "withheld until it completes") {
    val base = Files.createTempDirectory("graft_listener_bh2").toString
    val hist = java.nio.file.Paths.get(base, "history.jsonl")
    // 80 records of EXACTLY 4096 bytes (incl newline): the 256 KiB cap
    // is then 64 records, so the window start (size − cap) lands
    // exactly on the start of record 17 — the boundary-aligned case
    // that used to lose one valid record to the unconditional
    // first-line drop
    def rec(i: Int): String = {
      val head = s"""{"n_queries":$i,"pad":""""
      head + ("x" * (4093 - head.length)) + "\"}"
    }
    Files.write(hist, (1 to 80).map(rec).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val srv = Listener.start(spark, s"$base/meta",
      benchHistory = Some(hist.toString))
    try {
      val root = s"http://127.0.0.1:${srv.port}"
      val served = get(s"$root/api/bench/history/").body()
      // ALL 64 window records served — record 17 included
      assert(""""n_queries":(\d+)""".r.findAllMatchIn(served)
        .map(_.group(1).toInt).toSeq === (17 to 80))
      // a torn in-progress last line (the appender's newline and
      // closing brace not yet landed) is withheld...
      Files.write(hist,
        """{"n_queries":81,"trunc"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.APPEND)
      assert(!get(s"$root/api/bench/history/").body()
        .contains("\"n_queries\":81"))
      // ...and served once complete ('}' landed), even before the
      // trailing newline does
      Files.write(hist,
        """:1}""".getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.APPEND)
      assert(get(s"$root/api/bench/history/").body()
        .contains("\"n_queries\":81"))
    } finally srv.stop()
  }
}
