package graft.orchestrate

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sink.{DdlRenderer, SchemaSync}
import graft.types.{CanonicalColumn, CanonicalType}

class StatusReportSpec extends SparkSpec {
  import graft.meta.{MetadataStore, OffloadMetadata}
  import graft.plan.{Boundary, SourcePartition}

  private def cat(hvs: (String, Long)*): Seq[SourcePartition] =
    hvs.zipWithIndex.map { case ((hv, rows), i) =>
      SourcePartition(s"p$i", i, Seq(Boundary.Value(hv)), bytes = rows * 100,
        rows = rows)
    }

  test("status report inventories offloaded tables") {
    val base = Files.createTempDirectory("graft_status").toString
    val steps = OffloadRunner.offload(spark, OffloadRunner.OffloadConfig(
      sourceTable = "orders",
      sourcePath = sf("sf0.001") + "/orders.parquet",
      stagingPath = s"$base/staging",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      incrementalKey = Seq("o_orderkey")))
    assert(steps.forall(_.ok))
    val report = StatusReport.report(spark, s"$base/meta").collect()
    assert(report.length == 1)
    val row = report.head
    assert(row.getAs[String]("source_table") == "orders")
    assert(row.getAs[String]("offload_type") == "INCREMENTAL")
    assert(row.getAs[Boolean]("backend_exists"))
    assert(row.getAs[Long]("offloaded_rows") > 0)
    assert(row.getAs[Long]("offloaded_bytes") > 0)
    assert(row.getAs[String]("incremental_high_value").nonEmpty)
  }

  test("retention analysis splits the catalog at the HWM (metadata only)") {
    val base = Files.createTempDirectory("graft_status_ret").toString
    // multi-table metadata dir: one INCREMENTAL, one FULL, one PREDICATE
    MetadataStore.save(s"$base/meta", OffloadMetadata(
      sourceTable = "sales", backendTable = s"$base/none1",
      offloadType = "INCREMENTAL", incrementalKey = Seq("m"),
      incrementalHighValue = Seq("1996-03")))
    MetadataStore.save(s"$base/meta", OffloadMetadata(
      sourceTable = "dim", backendTable = s"$base/none2",
      offloadType = "FULL"))
    MetadataStore.save(s"$base/meta", OffloadMetadata(
      sourceTable = "pred", backendTable = s"$base/none3",
      offloadType = "FULL",
      incrementalPredicateType = Some("PREDICATE")))
    val catalogs = Map(
      "sales" -> cat("1996-01" -> 10L, "1996-02" -> 20L, "1996-03" -> 30L,
        "1996-04" -> 40L, "1996-05" -> 50L),
      "dim" -> cat("a" -> 5L, "b" -> 6L),
      "pred" -> cat("x" -> 7L))
    val rows = StatusReport.rows(spark, s"$base/meta", catalogs)
    val byName = rows.map(r => r.source_table -> r).toMap
    // INCREMENTAL: parts at/below HWM reclaimable, above retained
    assert(byName("sales").reclaimable_parts == 3 &&
           byName("sales").reclaimable_rows == 60 &&
           byName("sales").retained_parts == 2 &&
           byName("sales").retained_rows == 90)
    // FULL without IPA: everything reclaimable
    assert(byName("dim").reclaimable_parts == 2 &&
           byName("dim").retained_parts == 0)
    // PREDICATE: nothing provably reclaimable
    assert(byName("pred").reclaimable_parts == 0 &&
           byName("pred").retained_parts == 1)
    // fleet summary totals
    val s = StatusReport.summary(rows)
    assert(s.reclaimable_parts == 5 && s.retained_parts == 3)
    assert(s.reclaimable_rows == 60 + 11 && s.retained_rows == 90 + 7)
    assert(s.offloaded_tables == 0) // none of the backend paths exist
  }

  test("numeric HWM comparison parses literals, not string order") {
    val meta = OffloadMetadata(
      sourceTable = "t", backendTable = "/nope",
      offloadType = "INCREMENTAL", incrementalKey = Seq("k"),
      incrementalHighValue = Seq("900")) // "1000" < "900" as STRINGS
    val catalog = cat("900" -> 1L, "1000" -> 2L)
    val (reclaimable, retained) = StatusReport.reclaim(meta, catalog)
    assert(reclaimable.map(_.name) == Seq("p0")) // 900 <= 900
    assert(retained.map(_.name) == Seq("p1"))    // 1000 > 900 numerically
  }

  test("csv and html renderings carry the retention grid") {
    val base = Files.createTempDirectory("graft_status_csv").toString
    MetadataStore.save(s"$base/meta", OffloadMetadata(
      sourceTable = "sales", backendTable = s"$base/none",
      offloadType = "INCREMENTAL", incrementalKey = Seq("m"),
      incrementalHighValue = Seq("1996-02")))
    val rows = StatusReport.rows(spark, s"$base/meta",
      Map("sales" -> cat("1996-01" -> 10L, "1996-02" -> 20L, "1996-03" -> 5L)))
    val csv = StatusReport.toCsv(rows)
    val lines = csv.trim.split("\n")
    assert(lines.length == 2)
    assert(lines.head.startsWith("source_table,backend_table,offload_type"))
    assert(lines(1).contains("sales") && lines(1).contains("INCREMENTAL"))
    // reclaimable_rows=30 (2 parts), retained_rows=5 (1 part)
    assert(lines(1).endsWith("1,5,500,2,30,3000"))
    val html = StatusReport.toHtml(rows)
    assert(html.contains("<th>reclaimable_rows</th>"))
    assert(html.contains("<td>sales</td>"))
    assert(html.contains("Reclaimable rows</th><td>30</td>"))
  }

  test("html report is well-formed XML with exact row/cell parity to csv") {
    val base = Files.createTempDirectory("graft_status_html").toString
    // two tables, one with markup-hostile characters in its name
    MetadataStore.save(s"$base/meta", OffloadMetadata(
      sourceTable = "sales<&>", backendTable = s"$base/none",
      offloadType = "INCREMENTAL", incrementalKey = Seq("m"),
      incrementalHighValue = Seq("1996-02")))
    MetadataStore.save(s"$base/meta", OffloadMetadata(
      sourceTable = "dim", backendTable = s"$base/none2",
      offloadType = "FULL", incrementalKey = Nil,
      incrementalHighValue = Nil))
    val rows = StatusReport.rows(spark, s"$base/meta",
      Map("sales<&>" -> cat("1996-01" -> 10L, "1996-03" -> 5L),
          "dim" -> cat("all" -> 3L)))
    val html = StatusReport.toHtml(rows)
    // well-formedness: a DOM consumer can parse the whole document
    val doc = scala.xml.XML.loadString(html)
    assert((doc \\ "style").nonEmpty) // self-contained, no external assets
    val tables = doc \\ "table"
    assert(tables.exists(t => (t \ "@class").text == "summary"))
    val detail = tables.find(t => (t \ "@class").text == "detail").get
    val trs = (detail \ "tr").toList
    // row parity: header + one tr per csv data line
    val csvLines = StatusReport.toCsv(rows).trim.split("\n").toList
    assert(trs.length == csvLines.length)
    assert((trs.head \ "th").map(_.text) ==
      csvLines.head.split(",").toSeq)
    // cell parity, unescaped text vs csv cells (no commas in this fixture's
    // values, so the csv line splits cleanly)
    val htmlCells = trs.tail.map(tr => (tr \ "td").map(_.text))
    val csvCells = csvLines.tail.map(_.split(",").toSeq)
    assert(htmlCells.map(_.mkString("|")).sorted ==
      csvCells.map(_.mkString("|")).sorted)
    // the hostile name survived escaping and round-trips exactly
    assert(htmlCells.exists(_.head == "sales<&>"))
  }

  test("empty metadata dir yields empty report") {
    val base = Files.createTempDirectory("graft_status_empty").toString
    assert(StatusReport.report(spark, base).count() == 0)
  }
}

class TaskMetricsListenerSpec extends SparkSpec {

  test("listener records rows written by a parquet write") {
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val base = Files.createTempDirectory("graft_listener").toString
      val n = 1000L
      spark.range(n).toDF("id").write.parquet(s"$base/out")
      // listener events are posted asynchronously — poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      while (listener.totalRecordsWritten < n && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(listener.totalRecordsWritten == n)
      assert(listener.snapshot.nonEmpty)
      assert(listener.snapshot.forall(_.durationMs >= 0))
      listener.reset()
      assert(listener.totalRecordsWritten == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

class DdlRendererSpec extends SparkSpec {
  import CanonicalType._

  private val cols = Seq(
    CanonicalColumn("id", Integer8, nullable = false),
    CanonicalColumn("amount", Decimal(Some(10), Some(2))),
    CanonicalColumn("big", Decimal(Some(38), Some(10))),
    CanonicalColumn("ts", Timestamp),
    CanonicalColumn("name", VariableString))

  test("Spark SQL DDL golden") {
    val ddl = DdlRenderer.createTable("db.t", cols, DdlRenderer.Dialect.SparkSql,
      partitionBy = Seq("ts"))
    assert(ddl ==
      """CREATE TABLE db.t (
        |  id BIGINT NOT NULL,
        |  amount DECIMAL(10,2),
        |  big DECIMAL(38,10),
        |  ts TIMESTAMP_NTZ,
        |  name STRING
        |) USING parquet
        |PARTITIONED BY (ts);""".stripMargin)
  }

  test("BigQuery DDL golden: NUMERIC vs BIGNUMERIC rule") {
    val ddl = DdlRenderer.createTable("ds.t", cols, DdlRenderer.Dialect.BigQuery,
      partitionBy = Seq("ts"), clusterBy = Seq("id", "name"))
    assert(ddl.contains("amount NUMERIC(10, 2)"))
    assert(ddl.contains("big BIGNUMERIC(38, 10)")) // scale 10 > 9
    assert(ddl.contains("id INT64 NOT NULL"))
    assert(ddl.contains("ts DATETIME"))
    assert(ddl.contains("PARTITION BY ts"))
    assert(ddl.contains("CLUSTER BY id, name"))
  }

  test("BigQuery clustering caps at 4 columns") {
    val many = (1 to 6).map(i => CanonicalColumn(s"c$i", Integer4))
    val ddl = DdlRenderer.createTable("ds.t", many,
      DdlRenderer.Dialect.BigQuery, clusterBy = many.map(_.name))
    assert(ddl.contains("CLUSTER BY c1, c2, c3, c4"))
    assert(!ddl.contains("c5,"))
  }

  test("Hive DDL golden: partition column leaves the projection, STORED AS ORC") {
    val ddl = DdlRenderer.createTable("db.t", cols, DdlRenderer.Dialect.Hive,
      partitionBy = Seq("ts"))
    assert(ddl ==
      """CREATE TABLE db.t (
        |  id BIGINT NOT NULL,
        |  amount DECIMAL(18,2),
        |  big DECIMAL(38,10),
        |  name STRING
        |)
        |PARTITIONED BY (ts TIMESTAMP)
        |STORED AS ORC;""".stripMargin)
  }

  test("Hive type matrix: BIGINT collapse, UDF-aligned decimals, TIME/interval as STRING") {
    import DdlRenderer.{renderType, Dialect}
    def r(t: CanonicalType) = renderType(CanonicalColumn("c", t), Dialect.Hive)
    assert(r(Integer1) == "BIGINT" && r(Integer2) == "BIGINT" &&
      r(Integer4) == "BIGINT" && r(Integer8) == "BIGINT")
    assert(r(Integer38) == "DECIMAL(38,0)")
    // odd scale rounds to even, precision absorbs the bump then lands on 18
    // (hadoop_backend_api.py:259-302)
    assert(r(Decimal(Some(10), Some(3))) == "DECIMAL(18,4)")
    assert(r(Decimal(Some(20), Some(4))) == "DECIMAL(38,4)")
    assert(r(Decimal(Some(38), Some(9))) == "DECIMAL(38,9)") // at max: no bump
    // bare DECIMAL = the reference's default numeric column (38,18), not
    // (38,0) which would silently truncate fractions
    assert(r(Decimal(None, None)) == "DECIMAL(38,18)")
    assert(renderType(CanonicalColumn("c", Decimal(None, None)),
      Dialect.Snowflake) == "NUMBER(38,18)")
    assert(r(Time) == "STRING" && r(IntervalDs) == "STRING")
    assert(r(TimestampTz) == "TIMESTAMP")
  }

  test("Impala matrix: Hive mapping except binaries as STRING; parquet storage") {
    import DdlRenderer.{renderType, Dialect}
    def r(t: CanonicalType) = renderType(CanonicalColumn("c", t), Dialect.Impala)
    // the single divergence from Hive (impala_backend_api.py:484-489)
    assert(r(Binary) == "STRING" && r(LargeBinary) == "STRING")
    // everything else shares the Hadoop mapping
    assert(r(Integer4) == "BIGINT")
    assert(r(Decimal(Some(10), Some(3))) == "DECIMAL(18,4)")
    assert(r(Timestamp) == "TIMESTAMP" && r(TimestampTz) == "TIMESTAMP")
    val ddl = DdlRenderer.createTable("db.t", cols, Dialect.Impala,
      partitionBy = Seq("ts"))
    assert(ddl.endsWith("STORED AS PARQUET;"), ddl)
    assert(ddl.contains("PARTITIONED BY (ts TIMESTAMP)"))
  }

  test("Synapse type matrix: smallint widening, (max) strings, datetime2") {
    import DdlRenderer.{renderType, Dialect}
    def r(t: CanonicalType) = renderType(CanonicalColumn("c", t), Dialect.Synapse)
    // tinyint is unsigned on the MSSQL family: INTEGER_1 must widen
    // (synapse_backend_api.py:2676-2678)
    assert(r(Integer1) == "SMALLINT" && r(Integer2) == "SMALLINT")
    assert(r(Integer4) == "INT" && r(Integer8) == "BIGINT")
    assert(r(Integer38) == "NUMERIC(38,0)")
    assert(r(Decimal(Some(20), Some(4))) == "NUMERIC(20,4)")
    assert(r(Decimal(None, None)) == "NUMERIC(38,18)") // default numeric
    assert(r(VariableString) == "VARCHAR(max)")
    assert(r(LargeBinary) == "VARBINARY(max)")
    assert(r(Float4) == "REAL" && r(Double8) == "FLOAT")
    assert(r(Timestamp) == "DATETIME2" && r(TimestampTz) == "DATETIMEOFFSET")
    assert(r(Time) == "TIME" && r(Boolean1) == "BIT")
    assert(r(IntervalDs) == "VARCHAR(100)")
  }

  test("Synapse DDL golden: WITH options, CCI ORDER, no partitioning") {
    val ddl = DdlRenderer.createTable("db.t", cols, DdlRenderer.Dialect.Synapse,
      clusterBy = Seq("id", "ts"), distribution = Some("HASH([id])"))
    assert(ddl ==
      """CREATE TABLE db.t (
        |  [id] BIGINT NOT NULL,
        |  [amount] NUMERIC(10,2),
        |  [big] NUMERIC(38,10),
        |  [ts] DATETIME2,
        |  [name] VARCHAR(max)
        |)
        |WITH (
        |    CLUSTERED COLUMNSTORE INDEX ORDER ([id], [ts])
        |,   DISTRIBUTION = HASH([id])
        |);""".stripMargin)
    // default distribution is ROUND_ROBIN (synapse_backend_table.py:1452-1453)
    val plain = DdlRenderer.createTable("db.t", cols, DdlRenderer.Dialect.Synapse)
    assert(plain.contains("DISTRIBUTION = ROUND_ROBIN"))
    assert(!plain.contains("COLUMNSTORE INDEX ORDER"))
    intercept[IllegalArgumentException] {
      DdlRenderer.createTable("db.t", cols, DdlRenderer.Dialect.Synapse,
        partitionBy = Seq("ts"))
    }
    // distribution is Synapse-only
    intercept[IllegalArgumentException] {
      DdlRenderer.createTable("db.t", cols, DdlRenderer.Dialect.Hive,
        distribution = Some("REPLICATE"))
    }
  }

  test("Snowflake DDL golden: CLUSTER BY, no partitioning") {
    val ddl = DdlRenderer.createTable("db.t", cols, DdlRenderer.Dialect.Snowflake,
      clusterBy = Seq("id", "ts"))
    assert(ddl ==
      """CREATE TABLE db.t (
        |  id NUMBER(19,0) NOT NULL,
        |  amount NUMBER(10,2),
        |  big NUMBER(38,10),
        |  ts TIMESTAMP_NTZ,
        |  name TEXT
        |)
        |CLUSTER BY (id, ts);""".stripMargin)
    intercept[IllegalArgumentException] {
      DdlRenderer.createTable("db.t", cols, DdlRenderer.Dialect.Snowflake,
        partitionBy = Seq("ts"))
    }
  }
}

class SchemaSyncSpec extends SparkSpec {

  test("analyze detects added columns and renders ALTERs; removal is safe") {
    val v1 = graft.Tables.load(spark, sf("sf0.001"), "orders")
      .drop("o_orderpriority")
    val v2 = graft.Tables.load(spark, sf("sf0.001"), "orders")
      .withColumn("extra", lit(1))
    val plan = SchemaSync.analyze(v2, v1, "backend.orders")
    assert(plan.addedColumns.map(_.name) == Seq("o_orderpriority", "extra"))
    assert(plan.removedColumns.isEmpty)
    assert(plan.alterStatements.exists(
      _ == "ALTER TABLE backend.orders ADD COLUMN extra INT;"))
    // reverse direction: dropped column is reported, no ALTER generated
    val reverse = SchemaSync.analyze(v1, v2, "backend.orders")
    assert(reverse.removedColumns.map(_.name) == Seq("o_orderpriority", "extra"))
  }

  test("evolvedRead merges schemas across parquet slices") {
    val base = Files.createTempDirectory("graft_evo").toString
    val orders = graft.Tables.load(spark, sf("sf0.001"), "orders")
    orders.write.parquet(s"$base/t")
    orders.withColumn("extra", lit(7)).write.mode("append").parquet(s"$base/t")
    val merged = SchemaSync.evolvedRead(spark, s"$base/t")
    assert(merged.columns.contains("extra"))
    assert(merged.count() == orders.count() * 2)
    assert(merged.filter(col("extra").isNull).count() == orders.count())
  }
}
