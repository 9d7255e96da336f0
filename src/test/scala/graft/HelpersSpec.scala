package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.plan.SyntheticPartition
import graft.sink.{StagedLoad, Views}
import graft.source.TableStats
import graft.types.TypeMapper

class TableStatsSpec extends SparkSpec {

  test("path stats report rows, bytes, files") {
    val stats = TableStats.forPath(spark, sf("sf0.001") + "/orders.parquet")
    assert(stats.rows == 1500L)
    assert(stats.bytes > 0 && stats.files >= 1)
  }

  test("bucket column choice picks highest NDV, exact and approx") {
    val li = Tables.load(spark, sf("sf0.001"), "lineitem")
    val cands = Seq("l_partkey", "l_suppkey", "l_returnflag")
    assert(TableStats.chooseBucketColumn(li, cands) == "l_partkey")
    assert(TableStats.chooseBucketColumn(li, cands, approx = true) == "l_partkey")
  }

  test("partition profile feeds the chunker") {
    val li = Tables.load(spark, sf("sf0.001"), "lineitem")
      .withColumn("m", SyntheticPartition.dateStringKey(col("l_shipdate"), "M"))
    val profile = TableStats.partitionProfile(li, "m").collect()
    assert(profile.map(_.getAs[Long]("rows")).sum == li.count())
  }
}

class ViewsSpec extends SparkSpec {

  test("conversion view presents the cast projection") {
    val orders = Tables.load(spark, sf("sf0.001"), "orders")
    val schema = TypeMapper.fromStructType(orders.schema)
    val v = Views.conversionView(spark, orders, schema, "orders_conv")
    assert(v.count() == orders.count())
    assert(spark.catalog.tableExists("orders_conv"))
    Views.drop(spark, "orders_conv")
    assert(!spark.catalog.tableExists("orders_conv"))
  }

  test("result cache view is queryable by name") {
    val agg = Tables.load(spark, sf("sf0.001"), "orders")
      .groupBy("o_orderstatus").count()
    Views.resultCacheView(spark, agg, "orders_by_status")
    val n = spark.sql("SELECT SUM(count) FROM orders_by_status")
      .head().getLong(0)
    assert(n == 1500L)
    Views.drop(spark, "orders_by_status")
  }
}

class PartitionFunctionSpec extends SparkSpec {

  test("registered deterministic UDF works as a partition key") {
    spark.udf.register("price_band",
      (x: Double) => (math.floor(x / 1000.0) * 1000.0).toLong)
    val orders = Tables.load(spark, sf("sf0.001"), "orders")
    val keyed = orders.withColumn("band",
      SyntheticPartition.functionKey(spark, "price_band", col("o_totalprice")))
    val bands = keyed.select("band").distinct().count()
    assert(bands > 10)
    assert(keyed.filter(col("band") % 1000 =!= 0).count() == 0)
  }

  test("unregistered partition function is rejected") {
    assert(SyntheticPartition
      .validatePartitionFunction(spark, "no_such_fn").isLeft)
    intercept[IllegalArgumentException] {
      SyntheticPartition.functionKey(spark, "no_such_fn", col("x"))
    }
  }
}

class SortColumnsSpec extends SparkSpec {

  test("stageAndLoad sortCols clusters files by the sort key") {
    val base = Files.createTempDirectory("graft_sort").toString
    val li = Tables.load(spark, sf("sf0.001"), "lineitem").repartition(4)
    val schema = TypeMapper.fromStructType(li.schema)
    val out = StagedLoad.stageAndLoad(li, s"$base/stage", s"$base/final",
      schema, hwmKeys = Nil, sortCols = Seq("l_orderkey"))
    assert(out.isRight)
    // per-file min/max ranges should be narrow after clustering: read each
    // file and check rows are locally sorted by the key
    val files = Files.list(java.nio.file.Paths.get(s"$base/final"))
      .iterator()
    var checked = 0
    files.forEachRemaining { f =>
      if (f.toString.endsWith(".parquet")) {
        val keys = spark.read.parquet(f.toString)
          .select("l_orderkey").collect().map(_.getLong(0))
        assert(keys.sameElements(keys.sorted), s"file $f not clustered")
        checked += 1
      }
    }
    assert(checked > 0)
  }
}

class CliSpec extends SparkSpec {

  test("offload + status-report commands run end-to-end") {
    val base = Files.createTempDirectory("graft_cli").toString
    Cli.main(Array("offload",
      "--source", sf("sf0.001") + "/orders.parquet",
      "--table", "orders",
      "--final", s"$base/final",
      "--meta", s"$base/meta",
      "--incremental-key", "o_orderkey"))
    assert(spark.read.parquet(s"$base/final").count() == 1500L)
    Cli.main(Array("status-report", "--meta", s"$base/meta"))
  }

  test("schema-sync detects drift and --apply widens the target") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_cli_sync").toString
    val orders = spark.read.parquet(sf("sf0.001") + "/orders.parquet")
    orders.write.parquet(s"$base/target")
    val drifted = orders.withColumn("o_prio_digit",
      substring(col("o_orderpriority"), 1, 1).try_cast("int"))
    drifted.write.parquet(s"$base/source")
    Cli.main(Array("schema-sync",
      "--source", s"$base/source", "--target", s"$base/target",
      "--table", "orders_b", "--apply", "true"))
    // merged read now exposes the new column, null on old rows
    val evolved = graft.sink.SchemaSync.evolvedRead(spark, s"$base/target")
    assert(evolved.columns.contains("o_prio_digit"))
    assert(evolved.filter(col("o_prio_digit").isNotNull).count() == 0)
    assert(evolved.count() == orders.count())
  }

  test("mix and select-tokens commands write sampled corpora") {
    val base = Files.createTempDirectory("graft_cli_mix").toString
    val src = sf("sf0.001") + "/documents.parquet"
    Cli.main(Array("mix", "--source", src, "--out", s"$base/mixed",
      "--rates", "en=0.5,de=0.25", "--default-rate", "0.1"))
    val mixed = spark.read.parquet(s"$base/mixed")
    assert(mixed.count() > 0 && mixed.count() <
      spark.read.parquet(src).count())
    Cli.main(Array("select-tokens", "--source", src,
      "--out", s"$base/sel", "--budget", "5000"))
    val sel = spark.read.parquet(s"$base/sel")
    import org.apache.spark.sql.functions.sum
    assert(sel.agg(sum("n_tokens")).head().getLong(0) <= 5000L)
  }

  test("classify command trains, persists and scores") {
    val base = Files.createTempDirectory("graft_cli_classify").toString
    val src = sf("sf0.001") + "/documents.parquet"
    Cli.main(Array("classify", "--train", src, "--score", src,
      "--out", s"$base/scored", "--model-out", s"$base/nb"))
    val scored = spark.read.parquet(s"$base/scored")
    val n = spark.read.parquet(src).count()
    assert(scored.count() == n)
    assert(scored.columns.toSet ==
      Set("doc_id", "predicted", "cost_bits"))
    // persisted model artifacts exist and are loadable
    assert(spark.read.parquet(s"$base/nb/model").count() > 0)
    assert(spark.read.parquet(s"$base/nb/priors").count() > 0)
  }

  test("stratify and datacard commands run end-to-end") {
    val base = Files.createTempDirectory("graft_cli_strat").toString
    val src = sf("sf0.001") + "/documents.parquet"
    Cli.main(Array("stratify", "--source", src, "--out", s"$base/split",
      "--strata-col", "lang"))
    val out = spark.read.parquet(s"$base/split")
    assert(out.count() == spark.read.parquet(src).count())
    // split is the partition column of the landed layout
    assert(out.inputFiles.forall(_.contains("split=")))
    assert(out.select("split").distinct().count() == 3)
    Cli.main(Array("datacard", "--source", src,
      "--out", s"$base/card"))
    val card = spark.read.parquet(s"$base/card")
    assert(card.columns.toSeq ==
      Seq("source", "lang", "n_docs", "tok_sum", "chars_sum",
        "n_unique_texts", "min_id", "max_id"))
    assert(card.count() > 0)
  }

  test("sample and overlap commands print deterministic output") {
    val docs = sf("sf0.001") + "/documents.parquet"
    def run(args: String*): Seq[String] = {
      val cap = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(cap, true, "UTF-8")) {
        Cli.main(args.toArray)
      }
      cap.toString("UTF-8").trim.split("\n").toSeq
    }
    val s1 = run("sample", "--source", docs, "--k", "3")
    val s2 = run("sample", "--source", docs, "--k", "3")
    assert(s1 === s2)                       // same draw every run
    assert(s1.nonEmpty && s1.forall(_.split("\t").length == 3))
    val redraw = run("sample", "--source", docs, "--k", "3",
      "--salt", "other")
    assert(redraw !== s1)                   // salt changes the draw
    val ov = run("overlap", "--source", docs, "--k", "16")
    // every pair line: src_lo src_hi n_u union_est inter_cnt jacc inter
    assert(ov.nonEmpty && ov.forall(_.split("\t").length == 7))
  }

  test("anomaly, fd, orphans and phrase-search commands run end-to-end") {
    val orders = sf("sf0.001") + "/orders.parquet"
    val li = sf("sf0.001") + "/lineitem.parquet"
    val docs = sf("sf0.001") + "/documents.parquet"
    def run(args: String*): Seq[String] = {
      val cap = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(cap, true, "UTF-8")) {
        Cli.main(args.toArray)
      }
      cap.toString("UTF-8").trim.split("\n").toSeq.filter(_.nonEmpty)
    }
    val an = run("anomaly", "--source", orders)
    assert(an.forall(_.split("\t").length == 4))
    val fdHolds = run("fd", "--source", orders,
      "--from", "o_orderkey", "--to", "o_custkey").last
    assert(fdHolds.contains("\"holds\": true"))
    val fdViolated = run("fd", "--source", li,
      "--from", "l_orderkey", "--to", "l_returnflag").last
    assert(fdViolated.contains("\"holds\": false"))
    val orp = run("orphans", "--child", li, "--child-key", "l_orderkey",
      "--parent", orders, "--parent-key", "o_orderkey").last
    assert(orp.contains("\"n_orphans\": 0"))
    val ph = run("search", "--source", docs, "--method", "phrase",
      "--terms", "table,hash", "--k", "3")
    assert(ph.nonEmpty && ph.forall(_.split("\t").length == 2))
  }

  test("skew and distinct commands print sane profiles") {
    val src = sf("sf0.001") + "/orders.parquet"
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap, true, "UTF-8")) {
      Cli.main(Array("skew", "--source", src, "--key", "o_custkey"))
      Cli.main(Array("distinct", "--source",
        sf("sf0.001") + "/documents.parquet", "--group-col", "source",
        "--k", "8"))
    }
    val Array(skewLine, distinctLine) =
      outCap.toString("UTF-8").trim.split("\n").takeRight(2)
    // skew: percentiles ordered, hottest-key share within (0, 1e6] ppm
    assert(skewLine.contains("\"n_keys\"") &&
      skewLine.contains("\"top_share_ppm\""))
    val ppm = "\"top_share_ppm\": (\\d+)".r
      .findFirstMatchIn(skewLine).get.group(1).toLong
    assert(ppm > 0L && ppm <= 1000000L)
    // distinct: one estimate per source, all positive
    val ests = "\": (\\d+)".r.findAllMatchIn(distinctLine)
      .map(_.group(1).toLong).toSeq
    assert(ests.nonEmpty && ests.forall(_ > 0L))

    // --method hll takes the register-sketch path
    val hllCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(hllCap, true, "UTF-8")) {
      Cli.main(Array("distinct", "--source",
        sf("sf0.001") + "/documents.parquet", "--group-col", "source",
        "--method", "hll"))
    }
    val hllEsts = "\": (\\d+)".r
      .findAllMatchIn(hllCap.toString("UTF-8").trim.linesIterator.toSeq.last)
      .map(_.group(1).toLong).toSeq
    assert(hllEsts.nonEmpty && hllEsts.forall(_ > 0L))
  }

  test("search and join-size commands run the retrieval/estimator paths") {
    val docs = sf("sf0.001") + "/documents.parquet"
    val orders = sf("sf0.001") + "/orders.parquet"
    val cap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap, true, "UTF-8")) {
      Cli.main(Array("search", "--source", docs,
        "--terms", "dup,vector", "--k", "5"))
      Cli.main(Array("join-size", "--left", orders, "--right", orders,
        "--left-key", "o_custkey", "--right-key", "o_custkey"))
    }
    val lines = cap.toString("UTF-8").trim.split("\n").toSeq
    // search: up to k tab-separated (id, score, n_terms_hit) rows
    val hits = lines.dropRight(1)
    assert(hits.nonEmpty && hits.forall(_.split("\t").length == 3))
    // join-size: the self-join estimate dominates the key count and is
    // bounded by n^2
    val est = "\"join_size_est\": (\\d+)".r
      .findFirstMatchIn(lines.last).get.group(1).toLong
    val n = spark.read.parquet(orders).count()
    assert(est >= n && est <= n * n)
  }

  test("offload --ddl-file flows through the CLI to the artifact") {
    val base = java.nio.file.Files
      .createTempDirectory("cli_ddl_file").toString
    val ddl = s"$base/nation.sql"
    Cli.main(Array("offload",
      "--source", sf("sf0.001") + "/nation.parquet",
      "--final", s"$base/final", "--meta", s"$base/meta",
      "--ddl-file", ddl, "--ddl-dialect", "snowflake"))
    val written = new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(ddl)), "UTF-8")
    assert(written.contains("CREATE TABLE"))
    // snowflake dialect renders NUMBER types, and no table was created
    assert(written.contains("NUMBER"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/final")))
  }

  test("quantiles command covers all four operator forms") {
    val orders = sf("sf0.001") + "/orders.parquet"
    def run(extra: String*): Seq[String] = {
      val cap = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(cap, true, "UTF-8")) {
        Cli.main(Array("quantiles", "--source", orders,
          "--column", "o_custkey", "--pcts", "50,90") ++ extra)
      }
      cap.toString("UTF-8").trim.split("\n").toSeq
    }
    assert(run().length == 2)                                   // plain
    assert(run("--weight-col", "o_orderkey").length == 2)       // weighted
    val grouped = run("--group-col", "o_orderstatus")           // grouped
    assert(grouped.length >= 2 && grouped.forall(_.split("\t").length == 3))
    assert(run("--group-col", "o_orderstatus",
      "--weight-col", "o_orderkey").length == grouped.length)   // both
  }

  test("agg-validate validates a table against itself") {
    val src = sf("sf0.001") + "/orders.parquet"
    Cli.main(Array("agg-validate", "--left", src, "--right", src,
      "--group-by", "o_orderstatus", "--columns", "o_totalprice"))
  }

  test("missing required option is rejected") {
    intercept[NoSuchElementException] {
      Cli.main(Array("offload", "--source", "x.parquet")) // no --final/--meta
    }
  }

  test("type-override flags drive an overridden offload") {
    val base = Files.createTempDirectory("graft_cli_tov").toString
    Cli.main(Array("offload",
      "--source", sf("sf0.001") + "/orders.parquet",
      "--table", "orders",
      "--final", s"$base/final",
      "--meta", s"$base/meta",
      "--integer-4-columns", "o_orderkey",
      "--decimal-columns", "o_totalprice",
      "--decimal-columns-type", "12,2",
      "--date-columns", "o_orderdate"))
    val out = spark.read.parquet(s"$base/final")
    val types = out.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    assert(types("o_orderkey") == "INT")
    assert(types("o_totalprice") == "DECIMAL(12,2)")
    assert(types("o_orderdate") == "DATE")
  }

  test("repeatable decimal pairs and csv/html report outputs") {
    import graft.types.{CanonicalType, TypeOverrides}
    // two decimal groups with different types, reference-style repetition
    val o = Cli.overridesFrom(Seq(
      "decimal-columns-type" -> "18,2", "decimal-columns" -> "price,cost",
      "decimal-columns-type" -> "6,4", "decimal-columns" -> "ratio"))
    assert(o.decimals == Seq(
      TypeOverrides.DecimalOverride(Seq("price", "cost"), 18, 2),
      TypeOverrides.DecimalOverride(Seq("ratio"), 6, 4)))
    // unpaired lists are rejected
    intercept[IllegalArgumentException] {
      Cli.overridesFrom(Seq("decimal-columns" -> "price"))
    }
    // status-report --csv/--html write the rendered files
    val base = Files.createTempDirectory("graft_cli_csv").toString
    Cli.main(Array("offload",
      "--source", sf("sf0.001") + "/nation.parquet",
      "--table", "nation",
      "--final", s"$base/final", "--meta", s"$base/meta"))
    Cli.main(Array("status-report", "--meta", s"$base/meta",
      "--csv", s"$base/report.csv", "--html", s"$base/report.html"))
    val csv = Files.readString(java.nio.file.Path.of(s"$base/report.csv"))
    assert(csv.startsWith("source_table,") && csv.contains("nation"))
    assert(Files.readString(java.nio.file.Path.of(s"$base/report.html"))
      .contains("<td>nation</td>"))
  }

  test("connect env-checker passes on a healthy environment") {
    val base = Files.createTempDirectory("graft_cli_connect").toString
    Cli.main(Array("connect",
      "--source-dir", sf("sf0.001"),
      "--meta", s"$base/meta"))
    // probe metadata cleaned up after itself
    assert(graft.meta.MetadataStore.load(s"$base/meta", "__connect_probe").isEmpty)
  }

  test("scd-merge and scd-history maintain and query the run store") {
    val store = java.nio.file.Files.createTempDirectory("scdcli").toString
    val events = sf("sf0.001") + "/events.parquet"
    val mergeCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(mergeCap, true, "UTF-8")) {
      Cli.main(Array("scd-merge", "--events", events, "--store", store,
        "--batch-id", "0", "--buckets", "4"))
    }
    val mergeLine = mergeCap.toString("UTF-8").trim.linesIterator.toSeq.last
    val runs = "\"runs\": (\\d+)".r
      .findFirstMatchIn(mergeLine).get.group(1).toLong
    assert(runs > 0L)
    // replay with the same batch id: run count unchanged (per-bucket HWM)
    val replayCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(replayCap, true, "UTF-8")) {
      Cli.main(Array("scd-merge", "--events", events, "--store", store,
        "--batch-id", "0", "--buckets", "4"))
    }
    val runs2 = "\"runs\": (\\d+)".r.findFirstMatchIn(
      replayCap.toString("UTF-8").trim.linesIterator.toSeq.last)
      .get.group(1).toLong
    assert(runs2 === runs)
    val uid = spark.read.parquet(events)
      .agg(org.apache.spark.sql.functions.min("user_id")).head.getLong(0)
    val histCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(histCap, true, "UTF-8")) {
      Cli.main(Array("scd-history", "--store", store,
        "--user", uid.toString, "--buckets", "4"))
    }
    assert(histCap.toString("UTF-8").trim.linesIterator.nonEmpty)
  }

  test("cc-merge and cc-compact maintain the component store") {
    val store = java.nio.file.Files.createTempDirectory("cccli").toString
    val pairs = java.nio.file.Files.createTempDirectory("ccpairs")
      .toString + "/pairs.parquet"
    import spark.implicits._
    Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
      .write.mode("overwrite").parquet(pairs)
    val cap1 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap1, true, "UTF-8")) {
      Cli.main(Array("cc-merge", "--pairs", pairs, "--store", store,
        "--buckets", "4"))
    }
    assert(cap1.toString("UTF-8").contains("\"components\": 2"))
    // A bridging pair merges the components; compact then folds aliases.
    Seq((2L, 3L)).toDF("id_a", "id_b")
      .write.mode("overwrite").parquet(pairs)
    val cap2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap2, true, "UTF-8")) {
      Cli.main(Array("cc-merge", "--pairs", pairs, "--store", store,
        "--buckets", "4"))
      Cli.main(Array("cc-compact", "--store", store, "--buckets", "4"))
    }
    assert(cap2.toString("UTF-8").contains("\"components\": 1"))
    assert(cap2.toString("UTF-8").contains("\"compacted\": true"))
  }

  test("advise-config sizes the shuffle from file stats and flags " +
      "broadcast candidates") {
    def run(args: String*): String = {
      val cap = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(cap, true, "UTF-8")) {
        Cli.main(args.toArray)
      }
      cap.toString("UTF-8")
    }
    val big = run("advise-config", "--source",
      sf("sf0.001") + "/lineitem.parquet", "--cores", "8")
    // floor: never fewer shuffle partitions than cores
    assert(big.contains("\"spark.sql.shuffle.partitions\": 8"))
    assert(big.contains("\"broadcast_candidate\": true")) // tiny at sf0.001
    val dim = run("advise-config", "--source",
      sf("sf0.001") + "/nation.parquet")
    assert(dim.contains("\"broadcast_candidate\": true"))
    assert(dim.contains("\"spark.sql.adaptive.enabled\": true"))
  }

  test("expect command reports each rule as a JSON line") {
    val f = java.nio.file.Files.createTempDirectory("expcli")
      .resolve("rules.jsonl")
    java.nio.file.Files.write(f, java.util.Arrays.asList(
      """{"type":"unique","table":"orders","columns":["o_orderkey"]}""",
      """{"type":"in_range","table":"lineitem","column":"l_tax","lo_e6":0,"hi_e6":50000}"""))
    val cap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap, true, "UTF-8")) {
      Cli.main(Array("expect", "--rules", f.toString,
        "--dir", sf("sf0.001")))
    }
    val out = cap.toString("UTF-8")
    assert(out.contains(
      """"rule": "unique:orders.o_orderkey""""))
    assert(out.contains(""""passed": true"""))
    // the tax range rule fails on this data
    assert(out.linesIterator.exists(l =>
      l.contains("in_range:lineitem.l_tax") &&
        l.contains(""""passed": false""")))
  }

  test("expect output stays one valid JSON line when a rule name " +
      "carries a tab") {
    val f = java.nio.file.Files.createTempDirectory("expcli")
      .resolve("rules.jsonl")
    java.nio.file.Files.write(f, java.util.Arrays.asList(
      """{"type":"expression","table":"orders","name":"key\tpositive","predicate":"o_orderkey > 0"}"""))
    val cap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap, true, "UTF-8")) {
      Cli.main(Array("expect", "--rules", f.toString,
        "--dir", sf("sf0.001")))
    }
    val lines = cap.toString("UTF-8").linesIterator.toSeq
    val line = lines.find(_.contains("expression:orders.key"))
    assert(line.nonEmpty, lines.mkString("\n"))
    assert(!line.get.exists(_ < ' '), line.get)
    assert(line.get.contains(
      "\"rule\": \"expression:orders.key\\u0009positive\""))
  }

  test("rank-merge, rank-refresh and rank-compact maintain the " +
      "PageRank store") {
    val store = java.nio.file.Files.createTempDirectory("rankcli").toString
    val pairs = java.nio.file.Files.createTempDirectory("rankpairs")
      .toString + "/pairs.parquet"
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
      .write.mode("overwrite").parquet(pairs)
    val cap1 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap1, true, "UTF-8")) {
      Cli.main(Array("rank-merge", "--pairs", pairs, "--store", store,
        "--batch-id", "0", "--buckets", "4"))
    }
    assert(cap1.toString("UTF-8").contains("\"edges\": 3"))
    assert(cap1.toString("UTF-8").contains("\"nodes\": 3"))
    // symmetric triangle: every node must hold the same rank
    val r1 = spark.read.parquet(s"$store/ranks")
      .select("rank_e6").distinct().count()
    assert(r1 === 1L)
    Seq((3L, 4L)).toDF("id_a", "id_b")
      .write.mode("overwrite").parquet(pairs)
    val cap2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap2, true, "UTF-8")) {
      Cli.main(Array("rank-merge", "--pairs", pairs, "--store", store,
        "--batch-id", "1", "--buckets", "4", "--no-refresh"))
      Cli.main(Array("rank-compact", "--store", store, "--buckets", "4"))
      Cli.main(Array("rank-refresh", "--store", store, "--top", "4"))
    }
    val out2 = cap2.toString("UTF-8")
    assert(out2.contains("\"edges\": 4"))
    assert(out2.contains("\"files_before\""))
    // refresh prints node\trank lines; 3 bridges and outranks 4
    val ranks = out2.linesIterator.filter(_.contains("\t"))
      .map { l => val p = l.split("\t"); p(0).toLong -> p(1).toLong }
      .toMap
    assert(ranks.size === 4)
    assert(ranks(3L) > ranks(4L))
  }

  test("community-refresh maintains the label view over the same " +
      "edge store rank-merge ingests") {
    val store = java.nio.file.Files
      .createTempDirectory("commcli").toString
    val pairs = java.nio.file.Files.createTempDirectory("commpairs")
      .toString + "/pairs.parquet"
    import spark.implicits._
    // two triangles over one bridge
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L)).toDF("id_a", "id_b")
      .write.mode("overwrite").parquet(pairs)
    val cap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap, true, "UTF-8")) {
      Cli.main(Array("rank-merge", "--pairs", pairs, "--store", store,
        "--batch-id", "0", "--buckets", "4", "--no-refresh"))
      Cli.main(Array("community-refresh", "--store", store,
        "--rounds", "4", "--top", "5"))
    }
    // summary lines: community\tn_members\tmin\tmax — two 3-node families
    val fams = cap.toString("UTF-8").linesIterator
      .filter(_.count(_ == '\t') == 3)
      .map(_.split("\t")(1).toLong).toSeq
    assert(fams === Seq(3L, 3L))
    // a second, no-change refresh logs one perfect-agreement drift row,
    // and community-drift prints it
    val cap2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap2, true, "UTF-8")) {
      Cli.main(Array("community-refresh", "--store", store,
        "--rounds", "4", "--top", "5"))
      Cli.main(Array("community-drift", "--store", store))
    }
    // drift lines: seq\tn_nodes\tn_comm_prev\tn_comm_next\trand_ppm
    val drift = cap2.toString("UTF-8").linesIterator
      .filter(_.count(_ == '\t') == 4).map(_.split("\t")).toSeq
    assert(drift.length === 1)
    assert(drift.head(0).toLong === 1L)
    assert(drift.head(1).toLong === 6L)
    assert(drift.head(4).toLong === 1000000L)
  }

  test("hist-merge and hist-quantiles serve bounded percentiles") {
    val store = java.nio.file.Files.createTempDirectory("histcli").toString
    val docs = sf("sf0.001") + "/documents.parquet"
    val cap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap, true, "UTF-8")) {
      Cli.main(Array("hist-merge", "--source", docs, "--store", store,
        "--value-col", "n_chars", "--batch-id", "0",
        "--bucket-width", "64"))
      Cli.main(Array("hist-quantiles", "--store", store,
        "--pcts", "50,90", "--bucket-width", "64"))
    }
    val lines = cap.toString("UTF-8").trim.linesIterator.toSeq
    val nRows = "\"rows\": (\\d+)".r
      .findFirstMatchIn(lines.head).get.group(1).toLong
    assert(nRows === spark.read.parquet(docs).count())
    // two percentile rows, each lo <= hi with width-1 span
    val qs = lines.tail.map(_.split("\t").map(_.toLong))
    assert(qs.length === 2)
    assert(qs.forall(r => r(2) - r(1) === 63L))
  }

  test("collect-stats persists a plannable stats copy") {
    val base = Files.createTempDirectory("graft_cli_stats").toString
    Cli.main(Array("collect-stats",
      "--source", sf("sf0.001") + "/lineitem.parquet",
      "--table", "lineitem",
      "--meta", s"$base/meta",
      "--month-key", "l_shipdate"))
    val rec = graft.meta.StatsStore.load(s"$base/meta", "lineitem").get
    assert(rec.numRows > 0 && rec.partitions.nonEmpty)
    assert(graft.meta.StatsStore
      .chunkFromStats(rec, maxBytes = Long.MaxValue, maxCount = 10).nonEmpty)
  }

  test("advise-join --execute runs the advised strategy and writes the " +
      "join; advisory mode just reports") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_cli_advise").toString
    val li = sf("sf0.001") + "/lineitem.parquet"
    // small dim keyed like the fact: l_partkey stats per part
    spark.read.parquet(li).groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines")).write.parquet(s"$base/dim")
    Cli.main(Array("advise-join",
      "--left", li, "--right", s"$base/dim",
      "--left-key", "l_partkey", "--right-key", "l_partkey",
      "--execute", "--out", s"$base/joined"))
    val joined = spark.read.parquet(s"$base/joined")
    val expected = spark.read.parquet(li)
      .join(spark.read.parquet(s"$base/dim"), Seq("l_partkey"))
    assert(joined.count() === expected.count())
    assert(joined.columns.toSet === expected.columns.toSet)
    // advisory mode: no --out required, nothing materialised
    Cli.main(Array("advise-join",
      "--left", li, "--right", s"$base/dim",
      "--left-key", "l_partkey", "--right-key", "l_partkey"))
  }

  test("prepare-corpus runs the composed pipeline: curate, near-dup " +
      "canonicalise, split, data card — partitioning the input exactly") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_cli_prep").toString
    val src = sf("sf0.001") + "/documents.parquet"
    Cli.main(Array("prepare-corpus", "--source", src,
      "--out", s"$base/prep"))
    val corpus = spark.read.parquet(s"$base/prep/corpus")
    val quarantine = spark.read.parquet(s"$base/prep/quarantine")
    val card = spark.read.parquet(s"$base/prep/datacard")
    val total = spark.read.parquet(src).count()
    // kept + dropped partition the input; no doc lands on both sides
    assert(corpus.count() + quarantine.count() === total)
    assert(corpus.select("doc_id")
      .intersect(quarantine.select("doc_id")).count() === 0L)
    // exact dedup held: every surviving text is unique
    assert(corpus.select(countDistinct(col("text"))).head.getLong(0) ===
      corpus.count())
    // every doc has a split label; the card covers every (split, source)
    assert(corpus.filter(!col("split").isin("train", "val", "test"))
      .count() === 0L)
    assert(card.columns.contains("split") && card.count() > 0)
    assert(quarantine.select("drop_reason").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(
        Set("low_quality", "repetitive", "duplicate", "near_duplicate")))
    // deterministic: a second run reproduces the corpus exactly
    Cli.main(Array("prepare-corpus", "--source", src,
      "--out", s"$base/prep2"))
    val corpus2 = spark.read.parquet(s"$base/prep2/corpus")
    assert(corpus.exceptAll(corpus2).isEmpty &&
      corpus2.exceptAll(corpus).isEmpty)
  }

  test("pps-sample picks exactly the q322 stride walk") {
    val base = Files.createTempDirectory("graft_cli_pps").toString
    val src = sf("sf0.001") + "/documents.parquet"
    Cli.main(Array("pps-sample", "--source", src,
      "--out", s"$base/picks", "--stride", "2000"))
    val picked = spark.read.parquet(s"$base/picks")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val docs = spark.read.parquet(src)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Long]("n_chars")))
    val want = docs.groupBy(_._1).values.flatMap { xs =>
      var cum = 0L
      xs.sortBy(_._2).flatMap { case (_, id, c) =>
        val prev = cum; cum += c
        if (cum / 2000 > prev / 2000) Some(id) else None
      }
    }.toSet
    assert(picked === want)
    assert(picked.nonEmpty)
  }
}
