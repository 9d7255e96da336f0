package graft

import org.apache.spark.sql.SparkSession

import graft.orchestrate.{OffloadRunner, StatusReport}
import graft.verify.CrossValidator

/** Command-line entry points — the engine's `offload` / `agg-validate` /
  * `status-report` commands (reference `bin/offload`,
  * `scripts/agg_validate.py`, `offload_status_report.py` CLIs).
  *
  * Usage:
  * {{{
  *   graft.Cli offload --source <parquet> --final <path> --meta <dir>
  *     [--<field> <value>]...  (the fields OffloadConfig.fromFields
  *     reads, `-` for `_`: --partition-by c1,c2, --dry-run [true|false])
  *   graft.Cli agg-validate --left <parquet> --right <parquet>
  *     [--group-by c1,c2] [--columns c1,c2]
  *   graft.Cli status-report --meta <dir>
  * }}}
  */
object Cli {

  private def parsePairs(args: Seq[String]): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"expected --option, got $a")
      val key = a.stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        out += key -> args(i + 1); i += 2
      } else { out += key -> "true"; i += 1 }
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Cli <offload|agg-validate|status-report> ...")
    val cmd = args.head
    val pairs = parsePairs(args.tail.toSeq)
    val opts = pairs.toMap // last occurrence wins for scalar flags
    // reuse an active session when embedded (tests/notebooks); only stop a
    // session this main itself created
    val reused = SparkSession.getActiveSession
    val spark = reused.getOrElse(GraftSession())
    try {
      cmd match {
        case "offload" =>
          // `--partition-by` is the offload field partition_by
          OffloadRunner.offload(spark, OffloadRunner.OffloadConfig.fromFields(
            spark, pairs.groupMap(_._1.replace('-', '_'))(_._2)))
            .foreach(s => println(s.line))

        case "agg-validate" =>
          val left = spark.read.parquet(opts("left"))
          val right = spark.read.parquet(opts("right"))
          val groupCols = opts.get("group-by")
            .map(_.split(',').toSeq).getOrElse(Nil)
          val valueCols = opts.get("columns").map(_.split(',').toSeq)
            .getOrElse(left.columns.toSeq.filterNot(groupCols.contains).take(5))
          val ok = CrossValidator.aggValidate(left, right, groupCols, valueCols)
          println(if (ok) "VALIDATED" else "MISMATCH")
          if (!ok) {
            CrossValidator.diff(
              CrossValidator.aggFrame(left, groupCols, valueCols),
              CrossValidator.aggFrame(right, groupCols, valueCols),
              groupCols).show(20, truncate = false)
            sys.exit(1)
          }

        case "status-report" =>
          val rows = StatusReport.rows(spark, opts("meta"))
          opts.get("csv").foreach(f => java.nio.file.Files.writeString(
            java.nio.file.Path.of(f), StatusReport.toCsv(rows)))
          opts.get("html").foreach(f => java.nio.file.Files.writeString(
            java.nio.file.Path.of(f), StatusReport.toHtml(rows)))
          if (!opts.contains("csv") && !opts.contains("html"))
            StatusReport.report(spark, opts("meta")).show(100, truncate = false)

        case "connect" =>
          // Environment checker (reference `src/goe/connect/*.py`): verify
          // the session, storage and config are usable BEFORE a long
          // offload discovers they are not. Each check prints pass/fail;
          // exit 1 when any fails.
          val sourceDir = opts.get("source-dir")
          val metaDir = opts.get("meta")
          var failures = 0
          def check(name: String)(body: => String): Unit = {
            val result =
              try Right(body)
              catch { case e: Exception =>
                Left(Option(e.getMessage).getOrElse(e.getClass.getName)) }
            result match {
              case Right(detail) => println(f"ok  $name%-28s $detail")
              case Left(err) =>
                println(f"ERR $name%-28s ${err.linesIterator.take(1).mkString}")
                failures += 1
            }
          }
          check("spark_session") {
            s"version=${spark.version} master=${spark.sparkContext.master}"
          }
          check("shuffle_partitions") {
            val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
            val cores = spark.sparkContext.defaultParallelism
            require(n > 0, "shuffle partitions must be positive")
            s"partitions=$n cores=$cores" +
              (if (n < cores) " (WARN: fewer partitions than cores)" else "")
          }
          check("session_timezone") {
            graft.plans.TimeZoneGuard.sessionTz(spark)
          }
          check("codegen") {
            // a whole-stage codegen pipeline must actually compile
            val df = spark.range(100).selectExpr("sum(id * 2) AS s")
            require(df.head().getLong(0) == 9900L)
            "whole-stage codegen executes"
          }
          sourceDir.foreach { dir =>
            check("source_readable") {
              val tables = new java.io.File(dir).listFiles()
              require(tables != null && tables.nonEmpty, s"$dir is empty")
              val n = spark.read.parquet(
                tables.filter(_.getName.endsWith(".parquet"))
                  .head.getAbsolutePath).count()
              s"${tables.length} entries, probe read $n rows"
            }
          }
          metaDir.foreach { dir =>
            check("metadata_writable") {
              val probe = graft.meta.OffloadMetadata(
                "__connect_probe", "none", "FULL")
              graft.meta.MetadataStore.save(dir, probe)
              require(graft.meta.MetadataStore
                .load(dir, "__connect_probe").contains(probe))
              java.nio.file.Files.deleteIfExists(
                java.nio.file.Paths.get(dir, "__connect_probe.json"))
              s"$dir round-trips"
            }
          }
          if (failures > 0) { println(s"$failures check(s) failed"); sys.exit(1) }
          println("all checks passed")

        case "listen" =>
          // listen --meta <dir> [--port N] [--token T]
          //        [--quality-dir <StreamingExpectations store>]
          //        [--quality-rules <JSONL rules with warn_if/error_if>]
          //        [--rank-dir <StreamingRank store>]
          //        [--events-dir <table dir with events.parquet>]
          //        [--bench-history <bench/history.jsonl>]
          //        [--sampler-dir <StreamingSampler base: picks + mass
          //         siblings under it — point sampler-compact at
          //         --picks <dir>/picks --mass <dir>/mass>]
          val srv = graft.orchestrate.Listener.start(spark, opts("meta"),
            port = opts.get("port").map(_.toInt).getOrElse(0),
            token = opts.get("token"),
            qualityDir = opts.get("quality-dir"),
            qualityRules = opts.get("quality-rules"),
            rankDir = opts.get("rank-dir"),
            eventsDir = opts.get("events-dir"),
            benchHistory = opts.get("bench-history"),
            samplerDir = opts.get("sampler-dir"))
          println(s"listening on http://127.0.0.1:${srv.port}")
          // foreground server: block until interrupted
          Thread.currentThread().join()

        case "collect-stats" =>
          import org.apache.spark.sql.functions.{col, date_format}
          val df = spark.read.parquet(opts("source"))
          val key = opts.get("month-key")
            .map(c => date_format(col(c), "yyyy-MM"))
          val rec = graft.source.TableStats.collectStats(df,
            opts.getOrElse("table",
              opts("source").split('/').last.stripSuffix(".parquet")), key)
          graft.meta.StatsStore.save(opts("meta"), rec)
          println(s"stats saved: rows=${rec.numRows} " +
            s"partitions=${rec.partitions.length}")

        case "curate" =>
          // end-to-end corpus curation: verdicts -> near-dup survivorship
          // -> deterministic split, written partitioned by split
          val docs = spark.read.parquet(opts("source"))
          val (out, summary) = graft.operators.Curation.run(docs,
            minQuality = opts.get("min-quality").map(_.toDouble)
              .getOrElse(0.3),
            maxDupFrac = opts.get("max-dup-frac").map(_.toDouble)
              .getOrElse(0.5))
          out.write.mode("overwrite").partitionBy("split")
            .parquet(opts("out"))
          out.unpersist()
          println(summary.toJson)

        case "mix" =>
          // rate-based mixture sampling to a training-mix recipe:
          //   mix --source <parquet> --out <path> [--group-col lang]
          //       [--rates "en=0.6,de=0.3"] [--default-rate 0.15]
          val docs = spark.read.parquet(opts("source"))
          val rates = opts.get("rates")
            .map(_.split(",").map { kv =>
              val Array(k, v) = kv.split("=", 2); k -> v.toDouble
            }.toMap).getOrElse(Map.empty[String, Double])
          graft.operators.DatasetOps.mixtureSample(docs,
              groupCol = opts.getOrElse("group-col", "lang"), rates,
              defaultRate = opts.get("default-rate").map(_.toDouble)
                .getOrElse(0.15))
            .write.mode("overwrite").parquet(opts("out"))
          println(s"""{"kept": ${
            spark.read.parquet(opts("out")).count()}, "of": ${docs.count()}}""")

        case "classify" =>
          // Naive Bayes train-and-score (integer-bits, bit-reproducible):
          //   classify --train <parquet> --score <parquet> --out <path>
          //            [--label-col source] [--model-out <path>]
          val train = spark.read.parquet(opts("train"))
          val labelCol = opts.getOrElse("label-col", "source")
          val model = graft.operators.Classifier.nbTrain(train, labelCol)
          val priors = graft.operators.Classifier.nbPriors(train, labelCol)
          opts.get("model-out").foreach { p =>
            model.write.mode("overwrite").parquet(s"$p/model")
            priors.write.mode("overwrite").parquet(s"$p/priors")
          }
          graft.operators.Classifier
            .nbScore(spark.read.parquet(opts("score")), model, priors)
            .write.mode("overwrite").parquet(opts("out"))
          val byClass = spark.read.parquet(opts("out"))
            .groupBy("predicted").count().collect()
            .map(r => s""""${r.getString(0)}": ${r.getLong(1)}""")
            .sorted.mkString(", ")
          println(s"""{"predicted": {$byClass}}""")

        case "select-tokens" =>
          // quality-ranked selection under a token budget:
          //   select-tokens --source <parquet> --out <path> --budget <n>
          val docs = spark.read.parquet(opts("source"))
          graft.operators.DatasetOps.tokenBudgetSelect(docs,
              tokenBudget = opts("budget").toLong)
            .write.mode("overwrite").parquet(opts("out"))
          val kept = spark.read.parquet(opts("out"))
          // coalesce: sum over an empty selection is NULL, not 0
          println(s"""{"kept": ${kept.count()}, "tokens": ${
            kept.agg(org.apache.spark.sql.functions.coalesce(
                org.apache.spark.sql.functions.sum("n_tokens"),
                org.apache.spark.sql.functions.lit(0L)))
              .head().getLong(0)}}""")

        case "stratify" =>
          // exact-proportion stratified split to partitioned parquet:
          //   stratify --source <parquet> --out <path> [--strata-col lang]
          //            [--fractions "train=0.8,val=0.1,test=0.1"]
          val docs = spark.read.parquet(opts("source"))
          val fractions = opts.get("fractions")
            .map(_.split(",").toSeq.map { kv =>
              val Array(k, v) = kv.split("=", 2); k -> v.toDouble
            })
            .getOrElse(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          graft.operators.DatasetOps.stratifiedSplit(docs,
              strataCol = opts.getOrElse("strata-col", "lang"),
              fractions = fractions)
            .write.mode("overwrite").partitionBy("split")
            .parquet(opts("out"))
          val counts = spark.read.parquet(opts("out"))
            .groupBy("split").count().collect()
            .map(r => s""""${r.getString(0)}": ${r.getLong(1)}""")
            .sorted.mkString(", ")
          println(s"{$counts}")

        case "datacard" =>
          // per-slice corpus summary card:
          //   datacard --source <parquet> [--group-cols source,lang]
          //            [--out <path>]
          val docs = spark.read.parquet(opts("source"))
          val card = graft.operators.TextAnalysis.dataCard(docs,
            groupCols = opts.getOrElse("group-cols", "source,lang")
              .split(",").toSeq.map(_.trim))
          opts.get("out").foreach(p =>
            card.coalesce(1).write.mode("overwrite").parquet(p))
          card.orderBy(card.columns.take(2).map(
              org.apache.spark.sql.functions.col): _*)
            .collect().foreach(r => println(r.mkString("\t")))

        case "skew" =>
          // join-key skew profile (the salting decision input):
          //   skew --source <parquet> --key <col> [--bucket-width 4]
          import org.apache.spark.sql.functions._
          val cnts = spark.read.parquet(opts("source"))
            .groupBy(col(opts("key"))).agg(count(lit(1)).as("cnt"))
          val q = graft.operators.Quantiles
            .exactQuantiles(cnts, "cnt", Seq(50, 90, 99),
              opts.getOrElse("bucket-width", "4").toLong)
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          val row = cnts.agg(count(lit(1)).as("nk"),
            sum(col("cnt")).as("tot"), max(col("cnt")).as("mx")).head()
          val (nk, tot, mx) =
            (row.getLong(0), row.getLong(1), row.getLong(2))
          println(s"""{"n_keys": $nk, "total_rows": $tot,""" +
            s""" "max_cnt": $mx, "p50": ${q(50)}, "p90": ${q(90)},""" +
            s""" "p99": ${q(99)},""" +
            s""" "top_share_ppm": ${mx * 1000000L / tot}}""")

        case "quantiles" =>
          // Exact no-global-sort percentiles of a long column:
          //   quantiles --source <parquet> --column <col> [--pcts 50,90,99]
          //             [--weight-col <col>] [--group-col <col>]
          //             [--bucket-width 64]
          val pcts = opts.getOrElse("pcts", "50,90,99")
            .split(',').toSeq.map(_.trim.toInt)
          val width = opts.getOrElse("bucket-width", "64").toLong
          val src = spark.read.parquet(opts("source"))
          val vc = opts("column")
          import graft.operators.Quantiles
          val out = (opts.get("group-col"), opts.get("weight-col")) match {
            case (Some(g), Some(w)) =>
              Quantiles.exactGroupWeightedQuantiles(src, g, vc, w, pcts,
                width).orderBy(org.apache.spark.sql.functions.col(g),
                  org.apache.spark.sql.functions.col("pct"))
            case (Some(g), None) =>
              Quantiles.exactGroupQuantiles(src, g, vc, pcts, width)
                .orderBy(org.apache.spark.sql.functions.col(g),
                  org.apache.spark.sql.functions.col("pct"))
            case (None, Some(w)) =>
              Quantiles.exactWeightedQuantiles(src, vc, w, pcts, width)
                .orderBy(org.apache.spark.sql.functions.col("pct"))
            case (None, None) =>
              Quantiles.exactQuantiles(src, vc, pcts, width)
                .orderBy(org.apache.spark.sql.functions.col("pct"))
          }
          out.collect().foreach(r =>
            println(r.toSeq.mkString("\t")))

        case "search" =>
          // Lexical retrieval over a document table:
          //   search --source <parquet> --terms a,b,c [--k 10]
          //          [--method bm25|tfidf] [--id-col doc_id] [--text-col text]
          val terms = opts("terms").split(',').toSeq.map(_.trim)
            .filter(_.nonEmpty)
          val k = opts.getOrElse("k", "10").toInt
          val src = spark.read.parquet(opts("source"))
          val idc = opts.getOrElse("id-col", "doc_id")
          val tc = opts.getOrElse("text-col", "text")
          val hits = opts.getOrElse("method", "bm25") match {
            case "tfidf" => graft.operators.TextAnalysis
              .tfIdfSearch(src, terms, k, idc, tc)
            case "phrase" => graft.operators.TextAnalysis
              .phraseSearch(src, terms, k, idc, tc) // terms IN ORDER
            case _ => graft.operators.TextAnalysis
              .bm25Search(src, terms, k, idc, tc)
          }
          hits.collect().foreach { r =>
            println(r.toSeq.mkString("\t"))
          }

        case "join-size" =>
          // CMS inner-product equi-join cardinality estimate (no join run):
          //   join-size --left <parquet> --right <parquet>
          //             --left-key <col> --right-key <col>
          //             [--depth 4] [--hex-chars 3]
          import graft.operators.Sketches
          val depth = opts.getOrElse("depth", "4").toInt
          val hex = opts.getOrElse("hex-chars", "3").toInt
          val est = Sketches.cmsInnerProduct(
            Sketches.countMinValues(spark.read.parquet(opts("left")),
              opts("left-key"), depth, hex),
            Sketches.countMinValues(spark.read.parquet(opts("right")),
              opts("right-key"), depth, hex)).head()
          println(s"""{"join_size_est": ${est.getLong(0)}}""")

        case "distinct" =>
          // Distinct-count estimates per group:
          //   distinct --source <parquet> [--group-col source]
          //            [--value-col text] [--k 64] [--method kmv|hll]
          // kmv (default): exact below k, (k−1)·SPACE/h_k at k slots.
          // hll: 256-register raw harmonic estimator (large cardinalities).
          import graft.operators.Sketches
          val gc = opts.getOrElse("group-col", "source")
          val vc = opts.getOrElse("value-col", "text")
          val src = spark.read.parquet(opts("source"))
          val est = opts.getOrElse("method", "kmv") match {
            case "hll" =>
              Sketches.hllEstimate(Sketches.hllRegisters(src, gc, vc))
                .withColumnRenamed("hll_estimate", "distinct_est")
            case _ =>
              val k = opts.getOrElse("k", "64").toInt
              Sketches.kmvEstimate(Sketches.kmvSketch(src, k, gc, vc), k)
          }
          val parts = est.collect()
            .map(r => s""""${r.get(0)}": ${
              r.getLong(r.fieldIndex("distinct_est"))}""")
            .sorted.mkString(", ")
          println(s"{$parts}")

        case "advise-join" =>
          // Pre-flight join strategy advice (sizes + CMS cardinality
          // bound + skew shares -> broadcast | sort_merge[_salted]);
          // with --execute + --out the advised strategy actually runs
          // and the result lands as parquet (same-named key required):
          //   advise-join --left <parquet> --right <parquet>
          //               --left-key <col> --right-key <col>
          //               [--broadcast-rows 500000] [--skew-ppm 100000]
          //               [--execute --out <path> [--join-type inner]]
          val bl = opts.getOrElse("broadcast-rows", "500000").toLong
          val sp = opts.getOrElse("skew-ppm", "100000").toLong
          if (opts.contains("execute")) {
            require(opts("left-key") == opts("right-key"),
              "--execute requires the same key name on both sides " +
                "(rename the column or use the advisory mode)")
            val (joined, advice) = graft.plan.JoinAdvisor.adviseAndJoin(
              spark.read.parquet(opts("left")),
              spark.read.parquet(opts("right")), opts("left-key"),
              joinType = opts.getOrElse("join-type", "inner"),
              broadcastRowLimit = bl, skewSharePpm = sp)
            joined.write.mode("overwrite").parquet(opts("out"))
            val n = spark.read.parquet(opts("out")).count()
            println(graft.plan.JoinAdvisor.renderJson(advice)
              .stripSuffix("}") + s""", "rows_written": $n}""")
          } else {
            val advice = graft.plan.JoinAdvisor.advise(
              spark.read.parquet(opts("left")), opts("left-key"),
              spark.read.parquet(opts("right")), opts("right-key"),
              broadcastRowLimit = bl, skewSharePpm = sp)
            println(graft.plan.JoinAdvisor.renderJson(advice))
          }

        case "anomaly" =>
          // Daily-total anomaly flags vs the trailing-median fence:
          //   anomaly --source <parquet> [--ts-col o_orderdate]
          //           [--amount-col o_totalprice] [--high-x 3] [--low-div 8]
          import graft.operators.TimeSeries
          val flags = TimeSeries.anomalyFlags(
            TimeSeries.dailyTotals(spark.read.parquet(opts("source")),
              opts.getOrElse("ts-col", "o_orderdate"),
              opts.getOrElse("amount-col", "o_totalprice")),
            opts.getOrElse("high-x", "3").toLong,
            opts.getOrElse("low-div", "8").toLong)
          flags.orderBy(org.apache.spark.sql.functions.col("day"))
            .collect().foreach(r => println(r.mkString("\t")))

        case "fd" =>
          // Functional-dependency check (does A determine B?):
          //   fd --source <parquet> --from <colA> --to <colB>
          import org.apache.spark.sql.functions._
          val res = spark.read.parquet(opts("source"))
            .groupBy(col(opts("from")))
            .agg(countDistinct(col(opts("to"))).as("nd"))
            .agg(count(lit(1)).as("nk"),
              coalesce(sum(when(col("nd") > 1, 1L).otherwise(0L)),
                lit(0L)).as("nv")).head()
          println(s"""{"n_keys": ${res.getLong(0)},""" +
            s""" "n_violating": ${res.getLong(1)},""" +
            s""" "holds": ${res.getLong(1) == 0L}}""")

        case "orphans" =>
          // Referential-integrity orphan count (child keys with no parent):
          //   orphans --child <parquet> --child-key <col>
          //           --parent <parquet> --parent-key <col>
          import org.apache.spark.sql.functions._
          val n = spark.read.parquet(opts("child"))
            .select(col(opts("child-key")))
            .join(spark.read.parquet(opts("parent"))
                .select(col(opts("parent-key"))),
              col(opts("child-key")) === col(opts("parent-key")),
              "left_anti")
            .count()
          println(s"""{"n_orphans": $n}""")

        case "sample" =>
          // Deterministic stratified hash sample (reproducible; change
          // --salt to redraw):
          //   sample --source <parquet> [--k 5] [--strata-col source]
          //          [--id-col doc_id] [--salt smp] [--out <path>]
          val out = graft.operators.DatasetOps.hashSample(
            spark.read.parquet(opts("source")),
            k = opts.getOrElse("k", "5").toInt,
            salt = opts.getOrElse("salt", "smp"),
            strataCol = opts.getOrElse("strata-col", "source"),
            idCol = opts.getOrElse("id-col", "doc_id"))
          opts.get("out").foreach(p =>
            out.write.mode("overwrite").parquet(p))
          out.orderBy(out.columns.map(
              org.apache.spark.sql.functions.col): _*)
            .collect().foreach(r => println(r.mkString("\t")))

        case "overlap" =>
          // Pairwise group content overlap from KMV shingle sketches
          // (union / intersection / Jaccard estimates, no pair scan):
          //   overlap --source <parquet> [--group-col source]
          //           [--text-col text] [--k 64] [--ngram 3]
          import graft.operators.{Dedup, Sketches}
          import org.apache.spark.sql.functions.{col, explode}
          val k = opts.getOrElse("k", "64").toInt
          val gc = opts.getOrElse("group-col", "source")
          val sh = spark.read.parquet(opts("source"))
            .select(col(gc),
              explode(Dedup.shingles(
                col(opts.getOrElse("text-col", "text")),
                opts.getOrElse("ngram", "3").toInt)).as("shingle"))
          val sk = Sketches.kmvSketch(sh, k, gc, "shingle").persist()
          Sketches.kmvPairSimilarity(sk, k, gc)
            .orderBy(col("src_lo"), col("src_hi"))
            .collect().foreach(r => println(r.mkString("\t")))
          sk.unpersist()

        case "schema-sync" =>
          // detect source-side schema drift vs an offloaded target and
          // print the evolution plan (ALTERs for DDL-applying engines);
          // --apply appends a zero-row typed slice so the parquet target's
          // merged schema picks the new columns up immediately
          val source = spark.read.parquet(opts("source"))
          // mergeSchema: a previously-applied zero-row widening slice must
          // be visible to drift detection, or --apply never converges
          val target = spark.read.option("mergeSchema", "true")
            .parquet(opts("target"))
          val plan = graft.sink.SchemaSync.analyze(source, target,
            opts.getOrElse("table", "target"))
          plan.addedColumns.foreach(f =>
            println(s"ADD    ${f.name} ${f.dataType.sql}"))
          plan.removedColumns.foreach(f =>
            println(s"GONE   ${f.name} ${f.dataType.sql} (not auto-dropped)"))
          plan.alterStatements.foreach(println)
          if (plan.addedColumns.isEmpty && plan.removedColumns.isEmpty)
            println("schemas in sync")
          if (opts.contains("apply") && plan.addedColumns.nonEmpty) {
            import org.apache.spark.sql.functions.lit
            val widened = plan.addedColumns.foldLeft(target)((df, f) =>
              df.withColumn(f.name, lit(null).cast(f.dataType)))
            widened.limit(0).write.mode("append").parquet(opts("target"))
            println(s"applied: ${plan.addedColumns.length} column(s)")
          }

        case "scd-merge" =>
          // Merge one batch of change events into the bucketed SCD-2 run
          // store (idempotent per --batch-id; late events quarantined):
          //   scd-merge --events <parquet> --store <dir> --batch-id <n>
          //             [--buckets 16]
          // --batch-id is REQUIRED: a default would make a second merge
          // with the same implicit id silently skip every bucket while
          // still printing a success-looking count.
          val cfg = graft.streaming.StreamingScd.Config(
            storeDir = opts("store"),
            checkpointDir = opts("store") + "/_ckpt",
            buckets = opts.getOrElse("buckets", "16").toInt)
          graft.streaming.StreamingScd.processBatch(
            spark.read.parquet(opts("events")),
            opts("batch-id").toLong, cfg)
          val n = graft.streaming.StreamingScd.read(spark, cfg).count()
          println(s"""{"runs": $n, "buckets": ${cfg.buckets}}""")

        case "scd-history" =>
          // One key's version history from the SCD-2 store (reads exactly
          // one bucket): scd-history --store <dir> --user <id>
          //              [--buckets 16]
          val cfg = graft.streaming.StreamingScd.Config(
            storeDir = opts("store"),
            checkpointDir = opts("store") + "/_ckpt",
            buckets = opts.getOrElse("buckets", "16").toInt)
          graft.streaming.StreamingScd
            .userHistory(spark, cfg, opts("user").toLong)
            .collect().foreach(r => println(r.mkString("\t")))

        case "cc-merge" =>
          // Merge a batch of candidate pairs into the incremental
          // connected-components store (idempotent — min-union needs no
          // batch id): cc-merge --pairs <parquet> --store <dir>
          //             [--buckets 16]
          val cfg = graft.streaming.StreamingCc.Config(
            storeDir = opts("store"),
            checkpointDir = opts("store") + "/_ckpt",
            buckets = opts.getOrElse("buckets", "16").toInt)
          graft.streaming.StreamingCc.mergeBatch(
            spark.read.parquet(opts("pairs")), cfg)
          val labels = graft.streaming.StreamingCc.resolved(spark, cfg)
          val parts = labels.select(org.apache.spark.sql.functions
            .countDistinct(org.apache.spark.sql.functions.col("root")))
            .head.getLong(0)
          println(s"""{"nodes": ${labels.count()}, """ +
            s""""components": $parts}""")

        case "pps-sample" =>
          // Deterministic systematic PPS sample (the q322 stride walk):
          //   pps-sample --source <parquet> --out <path> [--stride 2000]
          //              [--group-col source] [--order-col doc_id]
          //              [--weight-col n_chars]
          import org.apache.spark.sql.expressions.Window
          import org.apache.spark.sql.functions._
          val stride = opts.getOrElse("stride", "2000").toLong
          require(stride > 0, "stride must be positive")
          val g = opts.getOrElse("group-col", "source")
          val o = opts.getOrElse("order-col", "doc_id")
          val wcol = opts.getOrElse("weight-col", "n_chars")
          val w = Window.partitionBy(col(g)).orderBy(col(o))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val picks = spark.read.parquet(opts("source"))
            .withColumn("cum", sum(col(wcol)).over(w))
            .filter(
              expr(s"cum div $stride > (cum - $wcol) div $stride"))
            .drop("cum")
          picks.write.mode("overwrite").parquet(opts("out"))
          val n = spark.read.parquet(opts("out")).count()
          println(s"""{"picked": $n, "stride": $stride}""")

        case "sampler-compact" =>
          // Fold the streaming PPS sampler's committed per-batch mass
          // deltas into one partition:
          //   sampler-compact --picks <dir> --mass <dir>
          val cfg = graft.streaming.StreamingSampler.Config(
            picksPath = opts("picks"), massPath = opts("mass"),
            checkpointDir = opts("mass") + "/_ckpt")
          graft.streaming.StreamingSampler.compact(spark, cfg)
          println(s"""{"compacted": true}""")

        case "cc-compact" =>
          // Fold alias chains into the label relation:
          //   cc-compact --store <dir> [--buckets 16]
          val cfg = graft.streaming.StreamingCc.Config(
            storeDir = opts("store"),
            checkpointDir = opts("store") + "/_ckpt",
            buckets = opts.getOrElse("buckets", "16").toInt)
          graft.streaming.StreamingCc.compact(spark, cfg)
          println(s"""{"compacted": true}""")

        case "hist-merge" =>
          // Merge a batch of rows into the streaming histogram store
          // (idempotent per --batch-id):
          //   hist-merge --source <parquet> --store <dir> --value-col <c>
          //              --batch-id <n> [--bucket-width 100]
          val cfg = graft.streaming.StreamingHistogram.Config(
            storeDir = opts("store"),
            checkpointDir = opts("store") + "/_ckpt",
            valueCol = opts("value-col"),
            bucketWidth = opts.getOrElse("bucket-width", "100").toLong)
          graft.streaming.StreamingHistogram.processBatch(
            spark.read.parquet(opts("source")),
            opts("batch-id").toLong, cfg)
          val n = graft.streaming.StreamingHistogram.read(spark, cfg)
            .agg(org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.col("cnt")))
            .head.getLong(0)
          println(s"""{"rows": $n}""")

        case "hist-quantiles" =>
          // Percentile bounds from the resident histogram (error ≤ one
          // bucket width): hist-quantiles --store <dir> --value-col <c>
          //               [--pcts 25,50,90] [--bucket-width 100]
          val cfg = graft.streaming.StreamingHistogram.Config(
            storeDir = opts("store"),
            checkpointDir = opts("store") + "/_ckpt",
            valueCol = opts.getOrElse("value-col", "v"),
            bucketWidth = opts.getOrElse("bucket-width", "100").toLong)
          graft.streaming.StreamingHistogram.quantileBounds(spark, cfg,
              opts.getOrElse("pcts", "25,50,90").split(',')
                .toSeq.map(_.trim.toInt))
            .collect().foreach(r => println(r.mkString("\t")))

        case "prepare-corpus" =>
          // End-to-end training-corpus preparation — the composed
          // pipeline a user runs before a training job: exact-dup/quality
          // curation → near-dup canonicalisation (MinHash-LSH pairs →
          // connected components, keep each cluster's min-id doc) →
          // deterministic stratified split → per-stratum data card.
          //   prepare-corpus --source <docs parquet> --out <dir>
          //     [--min-quality 0.3] [--max-dup-frac 0.5]
          //     [--num-hashes 16] [--bands 4] [--strata-col source]
          import org.apache.spark.sql.functions.{coalesce, col, count, lit}
          import graft.operators.{Dedup, DatasetOps, TextAnalysis}
          val out = opts("out")
          val docs = spark.read.parquet(opts("source"))
          val verdicts = TextAnalysis.curate(docs,
            opts.getOrElse("min-quality", "0.3").toDouble,
            opts.getOrElse("max-dup-frac", "0.5").toDouble)
          val kept = docs.join(
            verdicts.filter(col("keep")).select("doc_id"), "doc_id")
            .persist()
          val nh = opts.getOrElse("num-hashes", "16").toInt
          val nb = opts.getOrElse("bands", "4").toInt
          val pairs = Dedup.lshCandidates(
            Dedup.minhashSignatures(kept, nh), nh, nb)
          // the shared survivorship operator (min-id representative:
          // constant keep score + id tiebreak; singletons stay canonical)
          val surv = Dedup.canonicalize(kept,
            Dedup.connectedComponents(pairs), lit(0))
          val canonical = kept.join(
            surv.filter(col("is_canonical")).select("doc_id"), "doc_id")
          val strata = opts.getOrElse("strata-col", "source")
          val split = DatasetOps.stratifiedSplit(canonical, strata)
          split.write.mode("overwrite").partitionBy("split")
            .parquet(s"$out/corpus")
          // quarantine with provenance: curation reasons + near-dup drops
          val nearDropped = surv.filter(!col("is_canonical"))
            .select(col("doc_id"),
              lit("near_duplicate").as("drop_reason"))
          verdicts.filter(!col("keep"))
            .select(col("doc_id"), col("drop_reason"))
            .unionByName(nearDropped)
            .write.mode("overwrite").parquet(s"$out/quarantine")
          TextAnalysis.dataCard(split, groupCols = Seq("split", strata))
            .write.mode("overwrite").parquet(s"$out/datacard")
          val counts = spark.read.parquet(s"$out/corpus")
            .groupBy(col("split")).agg(count(lit(1)).as("n"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          kept.unpersist()
          val dropped = spark.read.parquet(s"$out/quarantine").count()
          println(s"""{"kept": ${counts.values.sum}, """ +
            s""""dropped": $dropped, """ +
            s""""train": ${counts.getOrElse("train", 0L)}, """ +
            s""""val": ${counts.getOrElse("val", 0L)}, """ +
            s""""test": ${counts.getOrElse("test", 0L)}}""")

        case "audit-rotate" =>
          // Seal the active command-audit segment (reference bin/logmgr):
          //   audit-rotate --meta <dir>
          graft.meta.CommandAudit.open(opts("meta")) match {
            case f: graft.meta.FileCommandAudit =>
              f.rotate()
              println(s"""{"rotated": true}""")
            case _ =>
              // a JDBC repository has no log segments to manage
              println(s"""{"rotated": false, "backend": "jdbc"}""")
          }

        case "text-index-compact" =>
          // Fold the streaming text index's per-batch partitions:
          //   text-index-compact --index <dir> --lengths <dir>
          //                      --totals <dir> [--term-buckets 64]
          val cfg = graft.streaming.StreamingTextIndex.Config(
            indexPath = opts("index"), lengthsPath = opts("lengths"),
            totalsPath = opts("totals"),
            checkpointDir = opts("totals") + "/_ckpt",
            termBuckets = opts.getOrElse("term-buckets", "64").toInt)
          graft.streaming.StreamingTextIndex.compact(spark, cfg)
          println(s"""{"compacted": true, "index_files": ${
            spark.read.parquet(opts("index")).inputFiles.length}}""")

        case "dedup-index-compact" =>
          // Fold the streaming dedup band index's per-batch partitions
          // (batch_id=-1 per bucket — the generic compact pass would
          // preserve the batch dimension this exists to remove):
          //   dedup-index-compact --index <dir>
          val res = graft.streaming.StreamingDedup.compactIndex(spark,
            opts("index"))
          println(s"""{"files_before": ${res.filesBefore}, """ +
            s""""files_after": ${res.filesAfter}, "rows": ${res.rows}}""")

        case "advise-config" =>
          // Recommend scale-sensitive session settings for a table from
          // its file stats (the partition-sizing arithmetic the 100 TB
          // deployment needs done BEFORE the job, not after the spill):
          //   advise-config --source <parquet>
          //                 [--target-partition-mb 128] [--cores 32]
          //                 [--shuffle-expansion-pct 200]
          val stats = graft.source.TableStats
            .forPath(spark, opts("source"))
          val targetBytes = opts.getOrElse("target-partition-mb", "128")
            .toLong * 1024 * 1024
          val cores = opts.getOrElse("cores", "32").toInt
          // parquet is columnar-compressed; shuffle rows are not —
          // size the shuffle for the decompressed expansion
          val expansionPct =
            opts.getOrElse("shuffle-expansion-pct", "200").toLong
          val shuffleBytes = stats.bytes * expansionPct / 100
          val rawParts = (shuffleBytes + targetBytes - 1) / targetBytes
          val shufflePartitions = math.min(20000L,
            math.max(cores.toLong, rawParts))
          val broadcastable =
            stats.bytes <= 10L * 1024 * 1024 // spark default threshold
          val avgRow =
            if (stats.rows > 0) stats.bytes / stats.rows else 0L
          val smallFiles = stats.files > 1 &&
            stats.bytes / stats.files < targetBytes / 4
          println(s"""{"rows": ${stats.rows}, """ +
            s""""bytes": ${stats.bytes}, "files": ${stats.files}, """ +
            s""""avg_row_bytes": $avgRow, """ +
            s""""spark.sql.shuffle.partitions": $shufflePartitions, """ +
            s""""spark.sql.files.maxPartitionBytes": $targetBytes, """ +
            s""""spark.sql.adaptive.enabled": true, """ +
            s""""broadcast_candidate": $broadcastable, """ +
            s""""needs_compaction": $smallFiles}""")

        case "expect" =>
          // Evaluate a JSONL expectations file over a table directory
          // (one JSON rule per line — see Expectations.parseGradedRules;
          // rules may carry warn_if / error_if violation budgets):
          //   expect --rules <jsonl> --dir <tableDir>
          //          [--fail-on-violation]
          // Without budgets the graded evaluator IS the strict one
          // (warn=error=0: any violation is an error), so plain rule
          // files behave exactly as before — with budgets the report
          // gains the severity verdict and --fail-on-violation exits 1
          // only for error-level rules (a warn is visible, not fatal).
          val graded = graft.verify.Expectations
            .parseGradedRules(spark, opts("rules"))
          val report = graft.verify.Expectations.evaluateGraded(spark,
            name => graft.Tables.load(spark, opts("dir"), name), graded)
          val rows = report.collect()
          // rule ids embed user-supplied table/column/rule names — escape
          // quotes and control characters so no name breaks a JSON line
          rows.foreach { r =>
            println(s"""{"rule": ${Json.quote(r.getAs[String]("rule_id"))}, """ +
              s""""rows": ${r.getAs[Long]("n_rows")}, """ +
              s""""violations": ${r.getAs[Long]("n_violations")}, """ +
              s""""severity": ${Json.quote(r.getAs[String]("severity"))}, """ +
              s""""passed": ${r.getAs[Boolean]("passed")}}""")
          }
          if (opts.contains("fail-on-violation") &&
              rows.exists(_.getAs[String]("severity") == "error"))
            sys.exit(1)

        case "quality-prune" =>
          // Retention for the streaming expectations report log:
          //   quality-prune --store <dir> [--keep 1000]
          val dropped = graft.streaming.StreamingExpectations.prune(
            spark, opts("store"),
            opts.getOrElse("keep", "1000").toLong)
          println(s"""{"dropped_batches": $dropped}""")

        case "rank-merge" =>
          // Merge a batch of co-occurrence pairs into the incremental
          // PageRank edge store (exactly-once per --batch-id), then
          // refresh the rank relation with the configured power steps.
          // --buckets applies on store CREATION only (the layout is a
          // persisted store property afterwards):
          //   rank-merge --pairs <parquet> --store <dir> --batch-id <n>
          //              [--buckets 16] [--iterations 5] [--no-refresh]
          val cfg = graft.streaming.StreamingRank.Config(
            storeDir = opts("store"),
            checkpointDir = opts("store") + "/_ckpt",
            buckets = opts.getOrElse("buckets", "16").toInt,
            iterations = opts.getOrElse("iterations", "5").toInt)
          graft.streaming.StreamingRank.ingestBatch(
            spark.read.parquet(opts("pairs")),
            opts("batch-id").toLong, cfg)
          if (!opts.contains("no-refresh"))
            graft.streaming.StreamingRank.refreshRanks(spark, cfg)
          val ranks = graft.streaming.StreamingRank.ranks(spark, cfg)
          println(s"""{"edges": ${
            graft.streaming.StreamingRank.edges(spark, cfg).count()
          }, "nodes": ${ranks.count()}}""")

        case "rank-refresh" =>
          // Run the power steps over the committed edge set only:
          //   rank-refresh --store <dir> [--iterations 5] [--top 20]
          val cfg = graft.streaming.StreamingRank.Config(
            storeDir = opts("store"),
            checkpointDir = opts("store") + "/_ckpt",
            iterations = opts.getOrElse("iterations", "5").toInt)
          graft.streaming.StreamingRank.refreshRanks(spark, cfg)
          graft.streaming.StreamingRank.ranks(spark, cfg)
            .orderBy(org.apache.spark.sql.functions.col("rank_e6").desc,
              org.apache.spark.sql.functions.col("node"))
            .limit(opts.getOrElse("top", "20").toInt)
            .collect()
            .foreach(r => println(s"${r.getLong(0)}\t${r.getLong(1)}"))

        case "community-refresh" =>
          // Fixed-round LPA over the committed edge set (the same store
          // rank-merge ingests — one graph, two maintained views). Cold
          // identity seeding by default; --warm-start seeds from the
          // previous stored assignment (stable regions converge in ~1
          // round, label ids stay comparable across generations):
          //   community-refresh --store <dir> [--rounds 4] [--top 20]
          //     [--warm-start]
          val cfg = graft.streaming.StreamingRank.Config(
            storeDir = opts("store"),
            checkpointDir = opts("store") + "/_ckpt")
          graft.streaming.StreamingCommunities.refresh(spark, cfg,
            rounds = opts.getOrElse("rounds", "4").toInt,
            warmStart = opts.contains("warm-start"))
          graft.streaming.StreamingCommunities.summary(spark, cfg)
            .limit(opts.getOrElse("top", "20").toInt)
            .collect()
            .foreach(r => println(
              s"${r.getLong(0)}\t${r.getLong(1)}\t${r.getLong(2)}\t" +
                s"${r.getLong(3)}"))

        case "rank-drift" =>
          // Refresh-over-refresh rank-head stability (one row per
          // refresh after the first):
          //   rank-drift --store <dir>
          val cfg = graft.streaming.StreamingRank.Config(
            storeDir = opts("store"),
            checkpointDir = opts("store") + "/_ckpt")
          graft.streaming.StreamingRank.rankDrift(spark, cfg)
            .collect()
            .foreach(r => println(
              s"${r.getLong(0)}\t${r.getLong(1)}\t${r.getLong(2)}\t" +
                s"${r.getLong(3)}"))

        case "community-drift" =>
          // Refresh-over-refresh stability log (one Rand-index row per
          // refresh after the first):
          //   community-drift --store <dir>
          val cfg = graft.streaming.StreamingRank.Config(
            storeDir = opts("store"),
            checkpointDir = opts("store") + "/_ckpt")
          graft.streaming.StreamingCommunities.drift(spark, cfg)
            .collect()
            .foreach(r => println(
              s"${r.getLong(0)}\t${r.getLong(1)}\t${r.getLong(2)}\t" +
                s"${r.getLong(3)}\t${r.getAs[Long]("rand_ppm")}"))

        case "rank-compact" =>
          // Fold the edge store's per-batch partitions (the store's
          // persisted bucket layout is preserved):
          //   rank-compact --store <dir>
          val cfg = graft.streaming.StreamingRank.Config(
            storeDir = opts("store"),
            checkpointDir = opts("store") + "/_ckpt")
          val res = graft.streaming.StreamingRank.compactEdges(spark, cfg)
          println(s"""{"files_before": ${res.filesBefore}, """ +
            s""""files_after": ${res.filesAfter}, "rows": ${res.rows}}""")

        case "compact" =>
          val res = graft.sink.Compaction.compact(spark, opts("path"),
            targetBytes = opts.get("target-bytes").map(_.toLong)
              .getOrElse(128L * 1024 * 1024),
            sortCols = opts.get("sort-by")
              .map(_.split(',').toSeq).getOrElse(Nil))
          println(s"""{"files_before": ${res.filesBefore}, """ +
            s""""files_after": ${res.filesAfter}, """ +
            s""""bytes": ${res.bytes}, "rows": ${res.rows}}""")

        case other =>
          System.err.println(s"unknown command: $other")
          sys.exit(2)
      }
    } finally if (reused.isEmpty) spark.stop()
  }
}
