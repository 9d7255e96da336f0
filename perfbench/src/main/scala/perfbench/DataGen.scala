package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic input tables with the schema and value domains of the
  * engine's test data (TESTDATA.md / FIXTURES.md §B): a TPC-H-like star
  * schema plus `events`, `documents` and `embeddings`.
  *
  * Every value is a pure function of (seed, table, column, row id) through
  * `xxhash64`, so the files are identical for one seed whatever the
  * partitioning or core count. Sizes follow the test data's per-sf row
  * counts (lineitem = 6 M × sf, orders = 1.5 M × sf, ...).
  */
object DataGen {

  /** Row counts per table at scale factor `sf`. */
  def rows(sf: Double): Map[String, Long] = {
    def n(perSf: Double, floor: Long = 1L) =
      math.max(floor, math.round(perSf * sf))
    Map("region" -> 5L, "nation" -> 25L,
      "customer" -> n(150000), "supplier" -> n(10000), "part" -> n(200000),
      "orders" -> n(1500000), "lineitem" -> n(6000000),
      "events" -> n(1000000), "documents" -> n(50000, 500),
      "embeddings" -> n(20000, 500))
  }

  private val Vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "big", "customer", "query", "stream", "group", "filter", "vector")
  private val Colors = Seq("blue", "cold", "hot", "large", "new", "old",
    "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring",
    "rod", "widget")

  /** One generated table: a seeded-hash value source over `spark.range`. */
  private final class Gen(spark: SparkSession, seed: Long, table: String,
      n: Long) {
    val base: DataFrame = spark.range(n).withColumnRenamed("id", "rid")
    /** Non-negative 63-bit hash of (seed, table, salt, row). */
    def h(salt: String, extra: Column*): Column =
      xxhash64((Seq(lit(seed), lit(table), lit(salt), col("rid")) ++ extra)
        : _*).bitwiseAND(lit(Long.MaxValue))
    def int(salt: String, lo: Long, hi: Long): Column =
      pmod(h(salt), lit(hi - lo + 1)) + lit(lo)
    /** Uniform double in [0, 1). */
    def unif(salt: String): Column = h(salt) / lit(9.223372036854775807e18)
    def pick(salt: String, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), int(salt, 1, xs.size).cast("int"))
    def money(salt: String, lo: Double, hi: Double): Column =
      round(lit(lo) + unif(salt) * lit(hi - lo), 2)
    def day(salt: String, from: String, days: Int): Column =
      to_timestamp(date_add(lit(from).cast("date"),
        int(salt, 0, days - 1).cast("int")))
  }

  private def build(spark: SparkSession, seed: Long, sf: Double,
      table: String): DataFrame = {
    val r = rows(sf)
    val g = new Gen(spark, seed, table, r(table))
    import g._
    val df = table match {
      case "region" => base.select(col("rid").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST").map(lit): _*), (col("rid") + 1).cast("int"))
          .as("r_name"))
      case "nation" => base.select(col("rid").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("rid")).as("n_name"),
        pmod(col("rid"), lit(5)).cast("int").as("n_regionkey"))
      case "customer" => base.select(col("rid").as("c_custkey"),
        format_string("Customer#%09d", col("rid")).as("c_name"),
        int("nation", 0, 24).cast("int").as("c_nationkey"),
        money("acctbal", -999.99, 9999.99).as("c_acctbal"),
        pick("segment", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
      case "supplier" => base.select(col("rid").as("s_suppkey"),
        format_string("Supplier#%09d", col("rid")).as("s_name"),
        int("nation", 0, 24).cast("int").as("s_nationkey"),
        money("acctbal", -999.99, 9999.99).as("s_acctbal"))
      case "part" => base.select(col("rid").as("p_partkey"),
        concat_ws(" ", pick("color", Colors), pick("noun", Nouns))
          .as("p_name"),
        concat(lit("Brand#"), int("brand", 1, 25)).as("p_brand"),
        pick("type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
          "STANDARD")).as("p_type"),
        int("size", 1, 50).cast("int").as("p_size"),
        (lit(900.0) + pmod(col("rid"), lit(1000)) / lit(10.0))
          .as("p_retailprice"))
      case "orders" => ordersFrom(g, col("rid"), r("customer"))
      case "lineitem" => base.select(
        int("order", 0, r("orders") - 1).as("l_orderkey"),
        int("part", 0, r("part") - 1).as("l_partkey"),
        int("supp", 0, r("supplier") - 1).as("l_suppkey"),
        int("line", 1, 7).cast("int").as("l_linenumber"),
        int("qty", 1, 50).cast("double").as("l_quantity"),
        money("price", 900.0, 105000.0).as("l_extendedprice"),
        (int("disc", 0, 10) / lit(100.0)).as("l_discount"),
        (int("tax", 0, 8) / lit(100.0)).as("l_tax"),
        pick("flag", Seq("A", "N", "R")).as("l_returnflag"),
        pick("status", Seq("F", "O")).as("l_linestatus"),
        day("ship", "1995-01-02", 2498).as("l_shipdate"))
      case "events" => base.select(col("rid").as("event_id"),
        (lit(1704067200L) + (col("rid") * lit(2592000L)) / lit(r("events"))
          + unif("jitter") * lit(200.0)).cast("timestamp").as("ts"),
        int("user", 0, math.max(15L, r("events") / 66) - 1).as("user_id"),
        pick("type", Seq("click", "error", "purchase", "signup", "view"))
          .as("event_type"),
        round(-log(lit(1.0) - unif("value") * lit(0.9999)) * lit(50.0) +
          lit(0.01), 2).as("value"),
        format_string("{\"k\": %d}", int("k", 0, 99)).as("props"))
      case "documents" =>
        // every tenth document is a near-copy of the one before it (one
        // word changed), so the dedup operators find pairs
        val dup = pmod(col("rid"), lit(10)) === lit(9)
        val tmpl = col("rid") - when(dup, lit(1L)).otherwise(lit(0L))
        def th(salt: String, extra: Column*): Column =
          xxhash64((Seq(lit(seed), lit(table), lit(salt), tmpl) ++ extra): _*)
            .bitwiseAND(lit(Long.MaxValue))
        val vocab = array(Vocab.map(lit): _*)
        val words = transform(
          sequence(lit(1), (pmod(th("len"), lit(81L)) + 10).cast("int")),
          i => element_at(vocab, (pmod(
            when(dup && i === lit(1), h("alt")).otherwise(th("word", i)),
            lit(Vocab.size.toLong)) + 1).cast("int")))
        base.select(col("rid").as("doc_id"),
          array_join(words, " ").as("text"),
          pick("lang", Seq("en", "en", "en", "de", "es", "fr", "zh"))
            .as("lang"),
          concat(lit("src"), pmod(col("rid"), lit(20))).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // a sum of four uniforms per coordinate approximates a Gaussian,
        // so the unit-normalised vectors spread over the sphere
        val raw = transform(sequence(lit(1), lit(64)), i =>
          Seq("g1", "g2", "g3", "g4").map(s =>
            h(s, i) / lit(9.223372036854775807e18)).reduce(_ + _) - lit(2.0))
        base.select(col("rid").as("vec_id"), raw.as("raw"),
          int("label", 0, 9).cast("int").as("label"))
          .select(col("vec_id"), transform(col("raw"), x =>
            (x / sqrt(aggregate(col("raw"), lit(0.0),
              (acc, y) => acc + y * y))).cast("float")).as("embedding"),
            col("label"))
    }
    df
  }

  private def ordersFrom(g: Gen, key: Column, customers: Long): DataFrame = {
    import g._
    base.select(key.as("o_orderkey"),
      int("cust", 0, customers - 1).as("o_custkey"),
      pick("status", Seq("F", "O", "P")).as("o_orderstatus"),
      money("price", 1000.0, 500000.0).as("o_totalprice"),
      day("date", "1995-01-01", 2404).as("o_orderdate"),
      pick("prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
  }

  /** One table alone, as [[writeAll]] would write it. */
  def table(spark: SparkSession, seed: Long, sf: Double, name: String)
      : DataFrame = build(spark, seed, sf, name)

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Write every table as `<dir>/<table>.parquet` unless `<dir>/_DONE`
    * exists (an earlier run with the same key wrote it completely). */
  def writeAll(spark: SparkSession, seed: Long, sf: Double, dir: String)
      : Unit = {
    val done = Paths.get(dir, "_DONE")
    if (Files.exists(done)) return
    for (t <- Tables) {
      val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
        (rows(sf)(t) / 200000L).toInt))
      build(spark, seed, sf, t).coalesce(parts)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    Files.createDirectories(done.getParent)
    Files.write(done, Array.emptyByteArray)
  }
}
