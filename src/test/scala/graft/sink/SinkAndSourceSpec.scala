package graft.sink

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.types.{CanonicalColumn, CanonicalType}
import graft.verify.CrossValidator

class StagedLoadSpec extends SparkSpec {
  import spark.implicits._

  test("cast violations found for unsafe narrow mapping") {
    val staged = Seq("1", "2", "not_a_number").toDF("v")
    val schema = Seq(CanonicalColumn("v", CanonicalType.Integer4,
      safeMapping = false))
    val bad = StagedLoad.castViolations(staged, schema).collect()
    assert(bad.map(_.getString(0)).toSeq == Seq("not_a_number"))
  }

  test("not-null violations found") {
    val staged = Seq(Some("a"), None, Some("b")).toDF("v")
    val schema = Seq(CanonicalColumn("v", CanonicalType.VariableString,
      nullable = false))
    assert(StagedLoad.notNullViolations(staged, schema).count() == 1)
  }

  test("decimal overflow probe") {
    val staged = Seq(BigDecimal("999.99"), BigDecimal("1000.00"))
      .toDF("v")
    assert(StagedLoad.decimalOverflow(staged, "v", 5, 2).count() == 1)
  }

  test("nan policy maps NaN and infinities to null") {
    val df = Seq(1.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity).toDF("v")
    val out = df.select(StagedLoad.nanToNull(col("v")).as("v"))
    assert(out.filter(col("v").isNull).count() == 3)
  }

  test("stageAndLoad round-trips data through staging with partitioning") {
    val base = Files.createTempDirectory("graft_stage_spec").toString
    val src = graft.Tables.load(spark, sf("sf0.001"), "orders")
      .withColumn("part_m", date_format(col("o_orderdate"), "yyyy-MM"))
    val schema = graft.types.TypeMapper.fromStructType(src.schema)
    val out = StagedLoad.stageAndLoad(src, s"$base/staging", s"$base/final",
      schema, hwmKeys = Nil, partitionCols = Seq("part_m"))
    assert(out.isRight)
    val loaded = spark.read.parquet(s"$base/final")
    assert(loaded.count() == src.count())
    // partition pruning works on the synthetic key
    val plan = loaded.filter(col("part_m") === "2023-01")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || loaded.count() > 0)
  }

  /** Stage and load `df`, then check the observed [[StagedLoad.Staged]]
    * against the recount it replaces: a fresh count of the staged files,
    * now moved into the final table, and `CrossValidator.maxProbe` over
    * them, compared as rendered HWM strings. Staging is gone after the
    * move. */
  private def observedMatchesRecount(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String], partitionCols: Seq[String] = Nil,
      sortCols: Seq[String] = Nil): StagedLoad.Staged = {
    val base = Files.createTempDirectory("graft_observed").toString
    val schema = graft.types.TypeMapper.fromStructType(df.schema)
    val out = StagedLoad.stageAndLoad(df, s"$base/staging", s"$base/final",
      schema, keys, partitionCols, sortCols = sortCols)
    assert(out.isRight)
    val st = out.toOption.get
    val loaded = spark.read.parquet(s"$base/final")
    assert(st.rows == loaded.count())
    def rendered(h: Option[Seq[Any]]) = h.map(_.map(String.valueOf))
    assert(rendered(st.hwm) == rendered(CrossValidator.maxProbe(loaded, keys)))
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/staging")))
    st
  }

  test("observed rows and HWM equal the staging recount: plain lineitem") {
    val li = graft.Tables.load(spark, sf("sf0.001"), "lineitem")
    val st = observedMatchesRecount(li, Seq("l_orderkey", "l_linenumber"))
    assert(st.rows == li.count() && st.hwm.isDefined)
  }

  test("observed rows and HWM equal the staging recount: partitioned and " +
      "sorted load") {
    val li = graft.Tables.load(spark, sf("sf0.001"), "lineitem")
      .withColumn("part_m", date_format(col("l_shipdate"), "yyyy-MM"))
    val st = observedMatchesRecount(li, Seq("l_orderkey"),
      partitionCols = Seq("part_m"), sortCols = Seq("l_orderkey"))
    assert(st.rows == li.count())
  }

  test("observed HWM is the lexicographic max tuple, not per-column maxes") {
    // per-column maxes would be ("b", 9); the largest real row is ("b", 5)
    val df = Seq(("a", 9L), ("b", 5L), ("b", 2L)).toDF("k1", "k2")
    val st = observedMatchesRecount(df, Seq("k1", "k2"))
    assert(st.hwm.contains(Seq("b", 5L)))
  }

  test("observed HWM equals the staging recount on timestamp, NTZ and date " +
      "keys") {
    val li = graft.Tables.load(spark, sf("sf0.001"), "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"),
        to_date(col("l_shipdate")).as("ship_day"),
        col("l_shipdate").cast("timestamp_ntz").as("ship_ntz"))
    observedMatchesRecount(li, Seq("l_shipdate"))
    observedMatchesRecount(li, Seq("ship_day", "ship_ntz", "l_orderkey"))
  }

  test("an empty slice observes zero rows and no HWM") {
    val li = graft.Tables.load(spark, sf("sf0.001"), "lineitem")
      .filter(col("l_orderkey") < 0)
    val st = observedMatchesRecount(li, Seq("l_orderkey"))
    assert(st.rows == 0L && st.hwm.isEmpty)
  }

  test("a failed staged validation reports a capped sample with examples") {
    val base = Files.createTempDirectory("graft_violations").toString
    val df = (Seq("1", "2") ++ (1 to 12).map(i => s"bad$i")).toDF("v")
    val schema = Seq(CanonicalColumn("v", CanonicalType.Integer4,
      safeMapping = false))
    val out = StagedLoad.stageAndLoad(df, s"$base/staging", s"$base/final",
      schema, hwmKeys = Nil)
    assert(out.isLeft)
    val msg = StagedLoad.violationMessage(out.swap.toOption.get)
    assert(msg.contains("10 offending rows in a sample capped at 10"), msg)
    assert("\\[bad".r.findAllIn(msg).length == 3, msg)
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/final")))
  }

  private def dataFiles(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString)
      .filterNot(_.split('/').last.matches("[_.].*")).toSet
  }

  test("an overwrite load replaces a final table holding other files") {
    val base = Files.createTempDirectory("graft_move_overwrite").toString
    Seq(("x", 1)).toDF("a", "b").write.parquet(s"$base/final")
    val old = dataFiles(s"$base/final")
    val li = graft.Tables.load(spark, sf("sf0.001"), "lineitem")
    val out = StagedLoad.stageAndLoad(li, s"$base/staging", s"$base/final",
      graft.types.TypeMapper.fromStructType(li.schema), hwmKeys = Nil)
    assert(out.toOption.get.rows == li.count())
    val now = dataFiles(s"$base/final")
    assert(now.nonEmpty && (now intersect old).isEmpty, now)
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/final/staging")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/staging")))
    assert(spark.read.parquet(s"$base/final").count() == li.count())
  }

  test("an append load moves each file under its partition directory") {
    val base = Files.createTempDirectory("graft_move_append").toString
    val li = graft.Tables.load(spark, sf("sf0.001"), "lineitem")
      .withColumn("part_m", date_format(col("l_shipdate"), "yyyy"))
    val schema = graft.types.TypeMapper.fromStructType(li.schema)
    val (first, second) =
      (li.filter(col("l_orderkey") < 700), li.filter(col("l_orderkey") >= 700))
    def load(df: org.apache.spark.sql.DataFrame, mode: String) =
      StagedLoad.stageAndLoad(df, s"$base/staging", s"$base/final", schema,
        hwmKeys = Nil, partitionCols = Seq("part_m"), finalMode = mode)
    assert(load(first, "overwrite").isRight)
    val old = dataFiles(s"$base/final")
    assert(load(second, "append").toOption.get.rows == second.count())
    val now = dataFiles(s"$base/final")
    assert(old.subsetOf(now) && now.size > old.size)
    assert(now.forall(_.matches("part_m=\\d{4}/[^/]+\\.parquet")), now)
    // every file holds only its directory's partition value
    (now -- old).foreach { f =>
      val year = f.stripPrefix("part_m=").take(4)
      val years = spark.read.parquet(s"$base/final/$f")
        .select(date_format(col("l_shipdate"), "yyyy")).distinct()
        .collect().map(_.getString(0)).toSeq
      assert(years == Seq(year), f)
    }
    val loaded = spark.read.parquet(s"$base/final")
    assert(loaded.count() == li.count())
    assert(loaded.groupBy("part_m").count().collect().map(r =>
      r.get(0).toString -> r.getLong(1)).toMap ==
      li.groupBy("part_m").count().collect().map(r =>
        r.getString(0) -> r.getLong(1)).toMap)
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/staging")))
  }

  test("an append into a final partitioned by a column named _p keeps " +
      "every row") {
    val base = Files.createTempDirectory("graft_move_underscore").toString
    val df = (1 to 40).map(i => (i, s"k${i % 4}")).toDF("v", "_p")
    val schema = graft.types.TypeMapper.fromStructType(df.schema)
    def load(part: org.apache.spark.sql.DataFrame, mode: String) =
      StagedLoad.stageAndLoad(part, s"$base/staging", s"$base/final", schema,
        hwmKeys = Nil, partitionCols = Seq("_p"), finalMode = mode)
    assert(load(df.filter(col("v") <= 10), "overwrite").isRight)
    assert(load(df.filter(col("v") > 10), "append").toOption.get.rows == 30)
    assert(dataFiles(s"$base/final").forall(_.matches("_p=k\\d/[^/]+")))
    val loaded = spark.read.parquet(s"$base/final")
    assert(loaded.count() == 40)
    assert(loaded.groupBy("_p").count().collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap ==
      (0 to 3).map(i => s"k$i" -> 10L).toMap)
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/staging")))
  }

  test("staging on another filesystem than final is refused before any " +
      "write") {
    val base = Files.createTempDirectory("graft_move_fs").toString
    spark.sparkContext.hadoopConfiguration
      .setClass("fs.otherfs.impl", classOf[OtherSchemeFs],
        classOf[org.apache.hadoop.fs.FileSystem])
    val df = Seq(1, 2).toDF("v")
    val e = intercept[IllegalArgumentException] {
      StagedLoad.stageAndLoad(df, s"otherfs://$base/staging",
        s"$base/final", graft.types.TypeMapper.fromStructType(df.schema),
        hwmKeys = Nil)
    }
    assert(e.getMessage.contains(s"otherfs://$base/staging") &&
      e.getMessage.contains(s"$base/final"), e.getMessage)
    assert(Files.list(java.nio.file.Paths.get(base)).count() == 0L)
  }

  test("transforms: suppress drops, null nulls, translate/regexp rewrite") {
    import StagedLoad.Transform
    val df = Seq(("a#b", "hello", 1.0, 5)).toDF("t", "r", "p", "s")
    val out = StagedLoad.applyTransforms(df, Map(
      "t" -> Transform.Translate("#", "_"),
      "r" -> Transform.RegexpReplace("l+", "L"),
      "p" -> Transform.Null,
      "s" -> Transform.Suppress))
    assert(out.columns.toSeq == Seq("t", "r", "p"))
    val row = out.head()
    assert(row.getString(0) == "a_b")
    assert(row.getString(1) == "heLo")
    assert(row.isNullAt(2))
  }
}

/** The local filesystem under a second scheme: a staging path on it is a
  * different filesystem from a `file:` final path. */
class OtherSchemeFs extends org.apache.hadoop.fs.FilterFileSystem(
    new org.apache.hadoop.fs.LocalFileSystem()) {
  override def getScheme: String = "otherfs"
  override def getUri: java.net.URI = java.net.URI.create("otherfs:///")
}

class CompactionSpec extends SparkSpec {

  test("compaction collapses small files, preserves data, swaps safely") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    // 64 tiny files
    (1 to 4096).map(i => (i.toLong, i * 1.5)).toDF("id", "v")
      .repartition(64).write.parquet(dir)
    val before = spark.read.parquet(dir)
    val sumBefore = before.agg(sum($"v")).head().getDouble(0)

    val res = Compaction.compact(spark, dir, targetBytes = 512L * 1024)
    assert(res.filesBefore == 64)
    assert(res.filesAfter < res.filesBefore)
    assert(res.rows == 4096L)

    val after = spark.read.parquet(dir)
    assert(after.count() == 4096L)
    assert(after.agg(sum($"v")).head().getDouble(0) == sumBefore)
    // no leftover temp/old dirs
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles().exists(_.getName.contains("__compact")))
  }

  test("compaction preserves a hive-partitioned layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact_p").toString + "/t"
    (1 to 600).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "g")
      .repartition(8).write.partitionBy("g").parquet(dir)
    val res = Compaction.compact(spark, dir, targetBytes = 1L << 30)
    assert(res.rows == 600L)
    // k=v directories survive, pruning still works
    val sub = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("g=")).sorted
    assert(sub.sameElements(Array("g=g0", "g=g1", "g=g2")))
    val pruned = spark.read.parquet(dir).filter($"g" === "g1")
    assert(pruned.count() == 200L)
    assert(spark.read.parquet(dir).select("id").distinct().count() == 600L)
  }

  test("compaction with sort columns keeps in-file ordering") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact_s").toString + "/t"
    (1 to 1000).map(i => ((i * 7919) % 1000).toLong).toDF("k")
      .repartition(16).write.parquet(dir)
    Compaction.compact(spark, dir, targetBytes = 1L << 30,
      sortCols = Seq("k"))
    // single output file, globally sorted within it
    val vals = spark.read.parquet(dir).collect().map(_.getLong(0))
    assert(vals.length == 1000)
    // read order within one parquet file follows row order
    assert(vals.sameElements(vals.sorted))
  }
}

class CrossValidatorSpec extends SparkSpec {

  test("agg validation passes for identical frames, fails on mutation") {
    val a = graft.Tables.load(spark, sf("sf0.001"), "orders")
    val b = graft.Tables.load(spark, sf("sf0.001"), "orders")
    assert(CrossValidator.aggValidate(a, b, Seq("o_orderstatus"),
      Seq("o_totalprice", "o_custkey")))
    val mutated = b.withColumn("o_totalprice",
      when(col("o_orderstatus") === "O", col("o_totalprice") + 1)
        .otherwise(col("o_totalprice")))
    assert(!CrossValidator.aggValidate(a, mutated, Seq("o_orderstatus"),
      Seq("o_totalprice")))
  }

  test("diffAttributed names exactly the diverging aggregates and " +
      "returns the same groups as diff") {
    val a = graft.Tables.load(spark, sf("sf0.001"), "orders")
    val mutated = a.withColumn("o_totalprice",
      when(col("o_orderstatus") === "O", col("o_totalprice") + 1)
        .otherwise(col("o_totalprice")))
    val g = Seq("o_orderstatus")
    val vals = Seq("o_totalprice", "o_custkey")
    val la = CrossValidator.aggFrame(a, g, vals)
    val ra = CrossValidator.aggFrame(mutated, g, vals)
    val attributed = CrossValidator.diffAttributed(la, ra, g).collect()
    // only the "O" group diverges, only on the o_totalprice aggregates
    assert(attributed.map(_.getAs[String]("o_orderstatus")).toSeq ===
      Seq("O"))
    val cols = attributed.head.getAs[String]("mismatched_cols")
      .split(",").toSet
    assert(cols.nonEmpty)
    assert(cols.forall(_.contains("o_totalprice")))
    assert(!cols.exists(_.contains("o_custkey")))
    assert(!cols.contains("row_count"))
    assert(CrossValidator.diff(la, ra, g).count() ===
      attributed.length.toLong)
  }

  test("count validation with boundary filter") {
    val a = graft.Tables.load(spark, sf("sf0.001"), "orders")
    val (s, t) = CrossValidator.countValidate(a, a,
      Some(col("o_totalprice") > 1000.0))
    assert(s == t)
  }

  test("max probe returns the HWM vector") {
    val a = graft.Tables.load(spark, sf("sf0.001"), "orders")
    val probe = CrossValidator.maxProbe(a, Seq("o_orderkey", "o_custkey"))
    assert(probe.isDefined)
    assert(probe.get.head.asInstanceOf[Long] > 0L)
  }

  test("empty target yields no HWM") {
    val a = graft.Tables.load(spark, sf("sf0.001"), "orders")
      .filter(col("o_orderkey") < 0)
    assert(CrossValidator.maxProbe(a, Seq("o_orderkey")).isEmpty)
  }

  test("max probe is the lexicographic max TUPLE, not per-column maxes") {
    import spark.implicits._
    // per-column maxes would give (3, 9) — a row that does not exist; the
    // strictly-greater boundary on (3, 9) would then skip real row (3, 5)
    // forever.
    val df = Seq((1L, 9L), (3L, 5L), (2L, 7L)).toDF("k1", "k2")
    val probe = CrossValidator.maxProbe(df, Seq("k1", "k2"))
    assert(probe.contains(Seq(3L, 5L)))
  }
}
