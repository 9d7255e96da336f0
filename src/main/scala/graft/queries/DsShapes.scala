package graft.queries

import graft.Cut.CutOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{DirCache, Tables}

/** TPC-DS-style decision-support shapes over the driver star schema —
  * the pattern space TPC-H leaves uncovered (VERDICT r9 "stretch"):
  * multi-channel union reporting (DS Q5), grouping-sets cube slices
  * (DS Q27/Q36), year-over-year self-comparison (DS Q74), and
  * cross-channel customer intersection (DS Q38/Q87).
  *
  * The schema has no store/web/catalog triplicate tables, so the channel
  * dimension is DERIVED deterministically (`o_orderkey % 3` →
  * store/web/catalog) — same literal rule in the Spark plan and the
  * DuckDB oracle, which keeps every shape hash-comparable while
  * exercising the real plan patterns: union-then-rollup over a derived
  * dimension, partial-aggregate reuse across grouping sets, and a
  * self-join on the aggregate relation (never on the fact).
  *
  * Money stays in e4/e2 fixed-point DECIMAL(38,0) through every
  * aggregate (the TpchShapes contract) and lands as BIGINT.
  */
object DsShapes {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Deterministic synthetic channel — the DS store/web/catalog axis.
    * Shared across query modules (q262 reuses it): the mapping must
    * have exactly ONE definition. Parameterized by the order-key column
    * so lineitem-side queries (q279 keys on l_orderkey and skips the
    * orders join entirely) share the same mapping. */
  private[queries] def channelCol(key: Column): Column =
    when(pmod(key, lit(3)) === 0, "store")
      .when(pmod(key, lit(3)) === 1, "web")
      .otherwise("catalog")

  private[queries] def channelCol: Column = channelCol(col("o_orderkey"))

  private[queries] def channelSql(key: String): String =
    s"""CASE $key % 3 WHEN 0 THEN 'store' WHEN 1 THEN 'web'
       ELSE 'catalog' END"""

  private[queries] val ChannelSql = channelSql("o_orderkey")

  /** The order-date MONTH INDEX (months since the synthetic calendar's
    * 1995-01 epoch) — ONE definition for every order-month time grid
    * (q344 cohort retention, q348 seasonal index), with [[MonthIdxSql]]
    * as its DuckDB face, so the epoch can never drift between the
    * queries that share a time axis. */
  private def monthIdxCol: Column =
    ((year(col("o_orderdate")) - 1995) * 12 +
      (month(col("o_orderdate")) - 1)).cast("long")

  /** [[monthIdxCol]]'s DuckDB face. */
  private val MonthIdxSql =
    """CAST((year(o_orderdate) - 1995) * 12
         + (month(o_orderdate) - 1) AS BIGINT)"""

  /** The (order-value, per-channel count) VALUE-GRAIN relation — ONE
    * definition (parameterized by the channel set, so the web/store
    * distributional pair q328/q337 and the three-channel
    * Kruskal–Wallis q346 share the cents cast, the channel split, and
    * the $10k `bkt` band the two-phase prefix sums partition by) —
    * mirrored in SQL by [[channelValsSql]]. The channel FILTER runs
    * before the grouping, so each caller's value set contains exactly
    * its own channels' values (a catalog-only value must not appear
    * as an all-zero row in the two-channel comparisons' argmax
    * tie-breaks). */
  private def valueGrain(s: SparkSession, dir: String,
      channels: Seq[String]): DataFrame = {
    val counts = channels.map(c =>
      sum(when(channelCol === c, 1L).otherwise(0L)).as("c_" + c))
    Tables.load(s, dir, "orders")
      .filter(channelCol.isin(channels: _*))
      .groupBy((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("v"))
      .agg(counts.head, counts.tail: _*)
      .withColumn("bkt", expr("v div 1000000"))
  }

  private def channelValueGrain(s: SparkSession,
      dir: String): DataFrame = valueGrain(s, dir, Seq("web", "store"))

  /** [[valueGrain]]'s DuckDB face (CTE named `vals`). */
  private def channelValsSql(channels: Seq[String]): String = {
    val cols = channels.map(c =>
      s"""SUM(CASE WHEN $ChannelSql = '$c' THEN 1 ELSE 0 END)
           AS c_$c""").mkString(",\n         ")
    val in = channels.map(c => s"'$c'").mkString(", ")
    s"""vals AS (SELECT
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
           AS v,
         $cols
       FROM orders WHERE $ChannelSql IN ($in)
       GROUP BY 1)"""
  }

  /** Inclusive per-channel cumulative counts over [[channelValueGrain]]
    * via the TWO-PHASE distributed prefix sum (the Quantiles offsets
    * shape): per-bucket sums → one cumulative over the BOUNDED bucket
    * grain → within-bucket cumulative partitioned by bucket — no
    * unpartitioned window ever touches the value grain. ONE definition
    * (with [[ChannelCumSql]] as its DuckDB face) under BOTH
    * distributional comparisons — the inclusive-vs-exclusive frame,
    * where an off-by-one would actually live, exists exactly once. */
  private def channelCum(vals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bsum = vals.groupBy(col("bkt"))
      .agg(sum(col("c_web")).as("bw"), sum(col("c_store")).as("bs"))
    val wOff = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = bsum
      .withColumn("ow", sum(col("bw")).over(wOff) - col("bw"))
      .withColumn("os", sum(col("bs")).over(wOff) - col("bs"))
      .select(col("bkt"), col("ow"), col("os"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vals
      .withColumn("cw_in", sum(col("c_web")).over(wIn))
      .withColumn("cs_in", sum(col("c_store")).over(wIn))
      .join(broadcast(offs), "bkt")
      .select(col("v"), col("c_web"), col("c_store"),
        (col("cw_in") + col("ow")).as("cw"),
        (col("cs_in") + col("os")).as("cs"))
  }

  /** [[channelCum]]'s DuckDB face (CTE named `cum`, composing after
    * [[ChannelValsSql]]'s `vals`). */
  private val ChannelCumSql =
    """cum AS (SELECT v, c_web, c_store,
         SUM(c_web) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(c_store) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
           AS cs
       FROM vals)"""

  /** [[channelValueGrain]]'s DuckDB face (the two-channel
    * [[channelValsSql]] instance q328/q337 compose with). */
  private lazy val ChannelValsSql = channelValsSql(Seq("web", "store"))

  /** The (part, year, channel) SALES GRAIN — distinct-order count and
    * exact e4 revenue per cell, `p_type` carried from the broadcast
    * part dim — ONE definition shared by the cross-channel item
    * classics (q339 frequent-item set, q340 promo share) and mirrored
    * in SQL by [[PartYearChannelSql]] so the pair can never
    * desynchronize on the channel split, the year grain, or the
    * revenue fixed-point. The grain is catalog × 7 years × 3 channels:
    * linear in the catalog, never fact-scale — each consumer makes ONE
    * scan over it. */
  private def partYearChannelGrain(s: SparkSession,
      dir: String): DataFrame = grainCache.get(s, dir)
  // A cross-query ARTIFACT (r17): both consumers (q339, q340) aggregate
  // this same fact-scale join+grain — each call (and each bench rep)
  // re-ran the lineitem⋈orders join and the countDistinct expand. The
  // grain is catalog × 7 years × 3 channels (never fact-scale), so the
  // eager checkpoint is part-scale; the DuckDB face
  // ([[PartYearChannelSql]]) still derives it from scratch.
  private val grainCache = new DirCache[String, DataFrame]((s, dir) =>
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        channelCol.as("channel"), col("p_type"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        sum(revE4).as("rev_e4"))
      .cut(true), graft.operators.Graph.release, name = "partYearChannel")

  /** [[partYearChannelGrain]]'s DuckDB face (CTE named `r`). */
  private lazy val PartYearChannelSql =
    s"""r AS (SELECT l.l_partkey,
         CAST(year(o.o_orderdate) AS BIGINT) AS yr,
         ${channelSql("o.o_orderkey")} AS channel, p.p_type,
         COUNT(DISTINCT l.l_orderkey) AS n_orders,
         SUM($RevE4Sql) AS rev_e4
       FROM lineitem l
       JOIN orders o ON l.l_orderkey = o.o_orderkey
       JOIN part p ON l.l_partkey = p.p_partkey
       GROUP BY 1, 2, 3, 4)"""

  /** The RANKED 1996–1997 brand × month pairwise-slope space —
    * Theil–Sen's substrate, ONE definition shared by q290 (the median
    * slope) and q341 (the τ-quantile band), with [[RankedSlopesSql]]
    * as its DuckDB face so the trio of slope sign-decomposition, rank
    * tie-break, and pair count can never desynchronize. Pairs generate
    * WITHIN each brand's month-grain aggregate (≤24 points → ≤276
    * pairs per brand, calendar-bounded — never row-scale; both join
    * sides are aggregates, so the quadratic-self-join audit screens it
    * out structurally). Slopes are exact e4-per-month integers with
    * SIGN DECOMPOSITION (Spark `div` truncates toward zero, DuckDB
    * `//` floors — divide the absolute difference, re-apply the sign);
    * `rk` orders by (slope, t1, t2) so every quantile pick is
    * deterministic and oracle-stable. */
  private def rankedBrandSlopes(s: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = t(s, dir, "lineitem")
      .filter(year(col("l_shipdate")).isin(1996, 1997))
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"),
        ((year(col("l_shipdate")) - 1996) * 12 +
          month(col("l_shipdate"))).as("t"))
      .agg(sum(revE4).as("rev_e4"))
    val slopes = m.select(col("p_brand"), col("t").as("t1"),
        col("rev_e4").as("r1"))
      .join(m.select(col("p_brand"), col("t").as("t2"),
        col("rev_e4").as("r2")), Seq("p_brand"))
      .filter(col("t1") < col("t2"))
      .select(col("p_brand"), col("t1"), col("t2"),
        expr("""CASE WHEN r2 >= r1 THEN (r2 - r1) div (t2 - t1)
                ELSE -((r1 - r2) div (t2 - t1)) END""")
          .as("slope_e4"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("slope_e4"), col("t1"), col("t2"))
    val nw = Window.partitionBy(col("p_brand"))
    slopes
      .withColumn("rk", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(nw))
  }

  /** [[rankedBrandSlopes]]'s DuckDB face (CTEs `m`, `sl`, `rk` —
    * compose with `WITH $RankedSlopesSql SELECT … FROM rk`). */
  private lazy val RankedSlopesSql =
    s"""m AS (SELECT p_brand,
         (year(l_shipdate) - 1996) * 12 + month(l_shipdate) AS t,
         SUM($RevE4Sql) AS rev_e4
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE year(l_shipdate) IN (1996, 1997)
       GROUP BY 1, 2),
       sl AS (SELECT a.p_brand, a.t AS t1, b.t AS t2,
           CASE WHEN b.rev_e4 >= a.rev_e4
             THEN CAST((b.rev_e4 - a.rev_e4) // (b.t - a.t) AS BIGINT)
             ELSE -CAST((a.rev_e4 - b.rev_e4) // (b.t - a.t) AS BIGINT)
           END AS slope_e4
         FROM m a JOIN m b
           ON a.p_brand = b.p_brand AND a.t < b.t),
       rk AS (SELECT p_brand, slope_e4,
           ROW_NUMBER() OVER (PARTITION BY p_brand
             ORDER BY slope_e4, t1, t2) AS rk,
           COUNT(*) OVER (PARTITION BY p_brand) AS n_pairs
         FROM sl)"""

  /** The order-total CENTS integer — the exact fixed-point every
    * order-value statistic keys on, as ONE definition with [[CentsSql]]
    * as its DuckDB face (new order-value queries use this pair; the
    * older inline copies migrate opportunistically — they are
    * oracle-pinned, so drift is caught, but one definition is the
    * goal). */
  private def centsCol: Column =
    (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")

  /** [[centsCol]]'s DuckDB face. */
  private val CentsSql =
    "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"

  /** l_extendedprice*(1-l_discount) in e4 fixed-point (exact). */
  private def revE4: Column =
    (col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1).cast("decimal(12,2)") -
        col("l_discount").cast("decimal(12,2)")) *
      lit(10000)).cast("decimal(38,0)")

  private val RevE4Sql =
    """CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
         (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
         * 10000 AS HUGEINT)"""

  /** The channel-tagged sales fact: one lineitem ⋈ orders pass shared by
    * the channel shapes (rev e4, return flag, order year). */
  private def channelSales(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(t(s, dir, "lineitem"))
      .join(t(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(channelCol.as("channel"), col("o_orderstatus"),
        col("l_partkey"),
        year(col("o_orderdate")).as("order_year"),
        revE4.as("rev_e4"),
        (col("l_returnflag") === "R").as("is_return"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Multi-channel profit report (TPC-DS Q5 shape): sales and returns
    // per (channel, order status) with ROLLUP subtotals and a grand
    // total. One fact pass; the rollup is a partial-aggregate tree over
    // the (channel × status) aggregate — never a re-scan per level.
    "q240_channel_sales_rollup" -> { (s, dir) =>
      channelSales(s, dir)
        .rollup(col("channel"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("rev_e4")).as("s_e4"),
          sum(when(col("is_return"), col("rev_e4"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("r_e4"))
        .select(coalesce(col("channel"), lit("ALL")).as("channel"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          col("n_lines"),
          col("s_e4").cast("long").as("sales_e4"),
          col("r_e4").cast("long").as("returns_e4"))
        .orderBy(col("channel"), col("o_orderstatus"))
    },

    // Grouping-sets slice report (TPC-DS Q27/Q36 shape): line counts,
    // quantity, and revenue by (brand × size bucket), by brand, by size
    // bucket, and overall — four slices from ONE aggregate pass via
    // native grouping sets (Spark compiles them to a shared partial
    // aggregate, not four scans).
    "q241_brand_size_grouping_sets" -> { (s, dir) =>
      // fanOut: the 4-way Expand + decimal partial aggregation otherwise
      // run inside the single-split scan stage on one core (guide §2.5)
      val base = Tables.fanOut(t(s, dir, "lineitem"))
        .join(t(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          expr("p_size div 10").cast("long").as("size_bucket"),
          (col("l_quantity").cast("decimal(12,2)") * 100)
            .cast("decimal(38,0)").as("qty_e2"),
          revE4.as("rev_e4"))
      base.groupingSets(
          Seq(Seq(col("p_brand"), col("size_bucket")),
            Seq(col("p_brand")), Seq(col("size_bucket")), Seq()),
          col("p_brand"), col("size_bucket"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("qty_e2")).as("q_e2"), sum(col("rev_e4")).as("r_e4"))
        .select(coalesce(col("p_brand"), lit("ALL")).as("p_brand"),
          coalesce(col("size_bucket"), lit(-1L)).as("size_bucket"),
          col("n_lines"),
          col("q_e2").cast("long").as("qty_e2"),
          col("r_e4").cast("long").as("rev_e4"))
        .orderBy(col("p_brand"), col("size_bucket"))
    },

    // Year-over-year channel growth (TPC-DS Q74 shape): yearly revenue
    // per channel, then the self-join runs on the (channel × year)
    // AGGREGATE relation — dozens of rows — never on the fact.
    "q242_channel_yoy" -> { (s, dir) =>
      val yearly = channelSales(s, dir)
        .groupBy(col("channel"), col("order_year"))
        .agg(sum(col("rev_e4")).as("rev_e4"))
        .cut(true) // both self-join sides — one fact pass, not two
      val prev = yearly.select(col("channel"),
        (col("order_year") + 1).as("order_year"),
        col("rev_e4").as("prev_e4"))
      yearly.join(prev, Seq("channel", "order_year"))
        .select(col("channel"), col("order_year"),
          col("rev_e4").cast("long").as("rev_e4"),
          col("prev_e4").cast("long").as("prev_rev_e4"),
          // integral `div`, NOT .divide().cast: decimal divide HALF_UP
          // rounds at scale 6 before the cast truncates, so a quotient
          // with fraction in [.9999995, 1) would land one above DuckDB's
          // floor `//`; `div` truncates exactly (operands non-negative)
          expr("CAST(rev_e4 * 1000000 AS DECIMAL(38,0)) div prev_e4")
            .as("yoy_ppm"))
        .orderBy(col("channel"), col("order_year"))
    },

    // Top slices within a rollup (TPC-DS Q67 shape): rank each brand's
    // size-bucket cells by revenue and keep the top 3 per brand. The
    // window runs over the (brand × bucket) AGGREGATE relation —
    // bounded by the dimension product — partitioned by brand; the fact
    // is touched once, by the aggregate.
    "q244_brand_bucket_topk" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val cells = Tables.fanOut(t(s, dir, "lineitem"))
        .join(t(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          expr("p_size div 10").cast("long").as("size_bucket"))
        .agg(count(lit(1)).as("n_lines"),
          sum(revE4).as("r_e4"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("r_e4").desc, col("size_bucket"))
      cells.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("p_brand"), col("size_bucket"), col("n_lines"),
          col("r_e4").cast("long").as("rev_e4"), col("rk"))
        .orderBy(col("p_brand"), col("rk"))
    },

    // Cumulative channel crossover (TPC-DS Q51 shape): running revenue
    // per channel by order day, then store-vs-web compared where both
    // series are defined — the cumulative windows run per channel over
    // the (channel × day) aggregate, never over order rows.
    "q245_channel_crossover" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "orders")
        .groupBy(channelCol.as("channel"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("decimal(38,0)")).as("d_e2"))
      val w = Window.partitionBy(col("channel")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = daily.withColumn("cum_e2", sum(col("d_e2")).over(w))
        .cut(true) // store and web branches — one orders pass, not two
      val store = cum.filter(col("channel") === "store")
        .select(col("day"), col("cum_e2").as("store_cum"))
      val web = cum.filter(col("channel") === "web")
        .select(col("day"), col("cum_e2").as("web_cum"))
      store.join(web, Seq("day"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("store_cum").cast("long").as("store_cum_e2"),
          col("web_cum").cast("long").as("web_cum_e2"),
          (col("web_cum") > col("store_cum")).as("web_leads"))
        .orderBy(col("day"))
    },

    // Channel-exclusive customers (the Q38 intersection's complement,
    // DS Q78's single-channel-affinity flavor): customers whose orders
    // all ride ONE channel, rolled up by that channel and market
    // segment with their total spend. Same one-shuffle HAVING shape as
    // q243 — never a per-channel anti-join cascade.
    "q247_channel_exclusive" -> { (s, dir) =>
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(countDistinct(channelCol).as("n_channels"),
          max(channelCol).as("only_channel"),
          sum((col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("decimal(38,0)")).as("spend_e2"))
        .filter(col("n_channels") === 1)
      t(s, dir, "customer")
        .join(perCust, col("c_custkey") === col("o_custkey"))
        .groupBy(col("only_channel").as("channel"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("spend_e2")).cast("long").as("spend_e2"))
        .orderBy(col("channel"), col("c_mktsegment"))
    },

    // Time-band activity matrix (TPC-DS Q88 shape): eight 3-hour band
    // counts, split purchase vs other, as ONE wide row from ONE scan —
    // the single-pass conditional aggregate Q88's eight scalar
    // subqueries optimize into.
    "q248_hour_band_matrix" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(expr("hour(ts) div 3").cast("int").as("band"),
          (col("event_type") === "purchase").as("is_purchase"))
      val bandCols = (0 until 8).flatMap { b =>
        Seq(
          sum((col("band") === b && col("is_purchase")).cast("long"))
            .as(s"buy_h$b"),
          sum((col("band") === b && !col("is_purchase")).cast("long"))
            .as(s"other_h$b"))
      }
      // n_events is COUNT(*), NOT the sum of the 16 buckets: a row with
      // a NULL ts has a NULL band and lands in no bucket, but the oracle
      // still counts it — summing buckets would silently drop such rows
      val aggCols = bandCols :+ count(lit(1)).as("n_events")
      ev.agg(aggCols.head, aggCols.tail: _*)
    },

    // Cross-channel loyal customers (TPC-DS Q38/Q87 shape): customers
    // active in ALL three channels, rolled up by market segment. The
    // intersection is countDistinct(channel) = 3 on the (customer ×
    // channel) DISTINCT relation — one shuffle, no three-way self-join.
    "q243_cross_channel_customers" -> { (s, dir) =>
      val loyal = t(s, dir, "orders")
        .select(col("o_custkey"), channelCol.as("channel"))
        .distinct()
        .groupBy(col("o_custkey"))
        .agg(countDistinct(col("channel")).as("n_channels"))
        .filter(col("n_channels") === 3)
      t(s, dir, "customer")
        .join(loyal, col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          (sum(col("c_acctbal").cast("decimal(12,2)") * 100))
            .cast("long").as("acctbal_e2"))
        .orderBy(col("c_mktsegment"))
    },

    // Year-over-year growth leaders (TPC-DS Q11/Q74's core shape): the
    // per-customer 1996 → 1997 spend ratio, top-20 fastest growers.
    // ONE grouped scan pivots both years with conditional sums (no
    // year-wise self-join of the fact); customers inactive in either
    // year drop out via the null-sum filter; growth is exact ppm over
    // non-negative cents (trunc ≡ floor); the top-20 is a
    // TakeOrderedAndProject merge, never a global sort.
    "q320_yoy_growth_leaders" -> { (s, dir) =>
      val cents = (col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("decimal(38,0)")
      t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1996, 1997))
        .groupBy(col("o_custkey"))
        .agg(sum(when(year(col("o_orderdate")) === 1996, cents))
            .as("s96"),
          sum(when(year(col("o_orderdate")) === 1997, cents))
            .as("s97"))
        .filter(col("s96").isNotNull && col("s97").isNotNull)
        .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_custkey").cast("long").as("cust_key"),
          col("c_mktsegment").as("segment"),
          col("s96").cast("long").as("spend96_e2"),
          col("s97").cast("long").as("spend97_e2"),
          expr("CAST(s97 * 1000000 div greatest(s96, 1) AS BIGINT)")
            .as("growth_ppm"))
        .orderBy(col("growth_ppm").desc, col("cust_key"))
        .limit(20)
    },

    // Week-over-week seasonal comparison (TPC-DS Q59's shape): per
    // nation, the ISO week whose 1997 revenue most out- and
    // under-performs its 1996 twin. ONE grouped scan pivots both years
    // per (nation, week) with conditional sums; weeks 2–51 only, so
    // the ISO week-1/52/53 year-boundary spillover can't mix
    // neighboring years' tails into a compared cell; extremes pick via
    // two row_number windows over the (nation, week)-grain aggregate
    // (≤ 50 rows per nation — bounded by construction), ties to the
    // earliest week.
    "q321_weekly_ratio" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val cents = (col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("decimal(38,0)")
      val wk = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .filter(year(col("o_orderdate")).isin(1996, 1997) &&
          weekofyear(col("o_orderdate")).between(2, 51))
        .groupBy(col("c_nationkey").cast("long").as("nation_key"),
          weekofyear(col("o_orderdate")).cast("long").as("wk"))
        .agg(sum(when(year(col("o_orderdate")) === 1996, cents))
            .as("r96"),
          sum(when(year(col("o_orderdate")) === 1997, cents))
            .as("r97"))
        .filter(col("r96").isNotNull && col("r97").isNotNull)
        .withColumn("ratio_ppm",
          expr("CAST(r97 * 1000000 div greatest(r96, 1) AS BIGINT)"))
      val wBest = Window.partitionBy(col("nation_key"))
        .orderBy(col("ratio_ppm").desc, col("wk"))
      val wWorst = Window.partitionBy(col("nation_key"))
        .orderBy(col("ratio_ppm").asc, col("wk"))
      wk.withColumn("rb", row_number().over(wBest))
        .withColumn("rw", row_number().over(wWorst))
        .groupBy(col("nation_key"))
        .agg(count(lit(1)).as("n_weeks"),
          max(when(col("rb") === 1, col("wk"))).as("best_week"),
          max(when(col("rb") === 1, col("ratio_ppm")))
            .as("best_ratio_ppm"),
          max(when(col("rw") === 1, col("wk"))).as("worst_week"),
          max(when(col("rw") === 1, col("ratio_ppm")))
            .as("worst_ratio_ppm"))
        .orderBy(col("nation_key"))
    },

    // Exact two-sample KOLMOGOROV–SMIRNOV distance between the web and
    // store order-value distributions: D = max over the merged value
    // axis of |F_web − F_store|, computed entirely in integers as
    // max |cum_web·n_store − cum_store·n_web| (no division until the
    // final ppm), argmax to the SMALLEST value. "Do the two channels
    // sell the same order-size mix?" — the distributional companion to
    // the mean/ratio channel comparisons. Scale shape: the fact folds
    // to the VALUE-GRAIN (one row per distinct order-total cents value
    // with both channels' counts — bounded by the price DOMAIN, not
    // the row count); the ECDFs accumulate via the TWO-PHASE prefix
    // sum ($10k-band offsets + within-band cumulative, the Quantiles
    // discipline — no unpartitioned window over the value grain);
    // totals ride a broadcast 1-row cross join.
    "q328_ks_channel_values" -> { (s, dir) =>
      val vals = channelValueGrain(s, dir)
        .cut(true) // both phases + totals read it
      try {
        val out = channelCum(vals)
          .crossJoin(broadcast(vals.agg(
            sum(col("c_web")).as("n_web"),
            sum(col("c_store")).as("n_store"))))
          .select(col("v"), col("n_web"), col("n_store"),
            expr("""CAST(abs(CAST(cw AS DECIMAL(38,0)) * n_store
                    - CAST(cs AS DECIMAL(38,0)) * n_web)
                    AS DECIMAL(38,0))""").as("dev"))
          .orderBy(col("dev").desc, col("v"))
          .limit(1)
          .select(col("n_web"), col("n_store"),
            col("v").as("ks_at_cents"),
            expr("""CAST(dev * 1000000 div greatest(CAST(n_web AS
                    DECIMAL(38,0)) * n_store, 1) AS BIGINT)""")
              .as("ks_ppm"))
        graft.tools.ExplainAudit
          .auditedCut(out, "q328_ks_channel_values")
      } finally graft.operators.Graph.release(vals)
    },

    // Supplier-breadth grid (TPC-H Q16's shape on this schema): how
    // many DISTINCT qualifying suppliers serve each (brand, size-band)
    // catalog cell — single-sourcing risk at assortment grain, with
    // the excluded-supplier set expressed as a true ANTI-JOIN (Q16's
    // NOT IN; a sub-1000 account balance stands in for the reference's
    // complaint predicate — the only supplier attribute this schema
    // carries, and a cut that is non-empty at every test scale, which
    // the spec pins so the anti-join can never go vacuous). Scale shape: the fact dedups to (part, supplier) once,
    // the exclusion anti-joins against a broadcast supplier subset,
    // and the grid is one countDistinct aggregate over the bounded
    // (brand × size-band) cells.
    "q332_supplier_breadth" -> { (s, dir) =>
      val ps = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val excluded = t(s, dir, "supplier")
        .filter(col("s_acctbal") < 1000.0)
        .select(col("s_suppkey"))
      ps.join(broadcast(excluded),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"),
              expr("CAST(p_size div 10 AS BIGINT)").as("size_band"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("size_band"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          countDistinct(col("l_partkey")).as("n_parts"))
        .orderBy(col("p_brand"), col("size_band"))
    },

    // BRAND AFFINITY MATRIX: the full bounded brand × brand co-basket
    // lift grid — q317 ranks statistical surprise at PART grain
    // (top-20 of a catalog-scale space); this exhausts the ≤C(25,2)
    // brand grain, the view a category manager actually reads.
    // n_ab = orders containing both brands, lift = n_ab·N/(n_a·n_b)
    // in exact e6. The fact dedups to (order, brand) ONCE (checkpoint)
    // and every marginal + the self-join reads that relation; pair
    // expansion is per-order C(brands-in-order, 2) — bounded by the
    // brand universe squared, never catalog-scale.
    "q334_brand_affinity" -> { (s, dir) =>
      // r18: the order-keyed SELF-JOIN (two sorted exchanges of the
      // (order, brand) relation) is replaced by IN-ROW pair expansion:
      // one shuffle builds the per-order SORTED brand set (collect_set
      // partial-aggregates map-side), and C(brands-in-order, 2) pairs
      // are generated inside the row — sorted + distinct set ⟹ the
      // expansion enumerates exactly the brand_a < brand_b pairs the
      // self-join filter kept (guide §2.4 remove shuffles outright;
      // §3.3 explode after the join, not before). Arrays are bounded
      // by the 25-brand universe, so per-row HOF cost is trivial.
      val ob = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
        .groupBy(col("o"))
        .agg(sort_array(collect_set(col("b"))).as("bs"))
        // explicit width: AQE coalesces the compact-set shuffle to one
        // partition, which would serialize every downstream expansion
        // pass over the checkpoint (the q366 lesson; exempt from AQE
        // coalescing because the partition count is explicit)
        .repartition(s.sparkContext.defaultParallelism, col("o"))
        .cut(true) // marginals, pair expansion and the total read it
      try {
        val marg = ob.select(explode(col("bs")).as("b"))
          .groupBy(col("b"))
          .agg(count(lit(1)).as("n_b"))
        val out = ob
          .select(explode(expr(
            """flatten(transform(bs, (x, i) ->
                 transform(slice(bs, i + 2, size(bs)),
                   y -> struct(x AS brand_a, y AS brand_b))))"""))
            .as("p"))
          .select(col("p.brand_a"), col("p.brand_b"))
          .groupBy(col("brand_a"), col("brand_b"))
          .agg(count(lit(1)).as("n_ab"))
          .join(broadcast(marg.select(col("b").as("brand_a"),
            col("n_b").as("n_a"))), "brand_a")
          .join(broadcast(marg.select(col("b").as("brand_b"),
            col("n_b").as("n_b"))), "brand_b")
          .crossJoin(broadcast(ob.select(
            count(lit(1)).as("n_orders"))))
          .select(col("brand_a"), col("brand_b"), col("n_ab"),
            col("n_a"), col("n_b"),
            expr("""CAST(CAST(n_ab AS DECIMAL(38,0)) * n_orders
                    * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_b)
                    AS BIGINT)""").as("lift_e6"))
          .orderBy(col("brand_a"), col("brand_b"))
        graft.tools.ExplainAudit
          .auditedCut(out, "q334_brand_affinity")
      } finally graft.operators.Graph.release(ob)
    },

    // Day-of-week GOODNESS-OF-FIT per channel (Pearson χ² against the
    // uniform week): q325 tests two-way independence; this is the
    // one-way uniformity primitive — is any channel's demand actually
    // flat across the week, and which days carry the deviation? Per
    // (channel, weekday) cell: observed orders, the exact-e2 uniform
    // expectation N/7, and the χ² contribution (7·O − N)²/(7·N) in e6
    // — squared before any division, one truncating division per cell
    // (non-negative ⇒ floor ≡ trunc). Weekday = Monday-0 in BOTH
    // engines (Spark `weekday`, DuckDB `isodow − 1` — never
    // `dayofweek`, whose origin differs between them). One grouped
    // scan; marginals via one partitioned window over the 21-cell
    // aggregate.
    "q335_weekday_uniformity" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val cells = t(s, dir, "orders")
        .groupBy(channelCol.as("channel"),
          weekday(to_date(col("o_orderdate"))).cast("long").as("dow"))
        .agg(count(lit(1)).as("o"))
      val wC = Window.partitionBy(col("channel"))
      cells
        .withColumn("n", sum(col("o")).over(wC))
        .select(col("channel"), col("dow"), col("o").as("n_orders"),
          expr("CAST(CAST(n AS DECIMAL(38,0)) * 100 div 7 AS BIGINT)")
            .as("expected_e2"),
          expr("""CAST((7 * CAST(o AS DECIMAL(38,0)) - n)
                  * (7 * CAST(o AS DECIMAL(38,0)) - n) * 1000000
                  div (7 * CAST(n AS DECIMAL(38,0))) AS BIGINT)""")
            .as("chisq_contrib_e6"))
        .orderBy(col("channel"), col("dow"))
    },

    // WHALE SHARE: what fraction of revenue do the top-1% customers
    // carry? The single concentration number behind the Lorenz/Gini
    // family (q316) — boundary from the shared NO-GLOBAL-SORT
    // two-phase selection (type-1 p99 of customer spend), whales =
    // strictly above it, share in exact ppm. One grouped scan to
    // customer grain (checkpointed for the quantile pass + the share
    // pass), everything after is 1-row arithmetic.
    "q336_whale_share" -> { (s, dir) =>
      import graft.operators.Quantiles
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("decimal(38,0)")).cast("long").as("spend_e2"))
        .cut(true) // quantile pass + share pass read it
      try {
        val cut = Quantiles
          .exactQuantiles(spend, "spend_e2", Seq(99), 10000L)
          .select(col("value").as("p99_spend_e2"))
        val out = spend.crossJoin(broadcast(cut))
          .agg(count(lit(1)).as("n_customers"),
            max(col("p99_spend_e2")).as("p99_spend_e2"),
            sum(when(col("spend_e2") > col("p99_spend_e2"), 1L)
              .otherwise(0L)).as("n_whales"),
            sum(col("spend_e2").cast("decimal(38,0)")).as("total"),
            sum(when(col("spend_e2") > col("p99_spend_e2"),
              col("spend_e2").cast("decimal(38,0)"))
              .otherwise(lit(0).cast("decimal(38,0)"))).as("whale"))
          .select(col("n_customers"), col("p99_spend_e2"),
            col("n_whales"),
            col("whale").cast("long").as("whale_spend_e2"),
            expr("""CAST(whale * 1000000 div greatest(total, 1)
                    AS BIGINT)""").as("whale_share_ppm"))
        graft.tools.ExplainAudit.auditedCut(out, "q336_whale_share")
      } finally graft.operators.Graph.release(spend)
    },

    // Exact MANN–WHITNEY AUC between the web and store order-value
    // distributions: P(random web order > random store order), in ppm
    // — the EFFECT SIZE beside q328's KS distance (KS says the
    // distributions differ; this says by how much, in the
    // common-language sense a stakeholder reads). Entirely integral:
    // U₂ = Σ_v c_store(v)·(2·(n_web − cumw(v)) + c_web(v)) counts
    // every (web, store) pair twice with ties counted once, so
    // auc_ppm = U₂·1e6 div (2·n_web·n_store) needs one truncating
    // division of non-negative integers. Shares the VALUE-GRAIN
    // relation and the two-phase prefix sum with q328 (one definition,
    // one scale shape).
    "q337_channel_auc" -> { (s, dir) =>
      val vals = channelValueGrain(s, dir)
        .cut(true) // both phases + totals read it
      try {
        // the raw u2 landing is BIGINT — quadratic in side sizes, so
        // it overflows past ~2e9 rows per side; auc_ppm (the
        // DECIMAL-lifted quotient) is the scale-safe output, u2 the
        // audit view at test scales
        val out = channelCum(vals)
          .crossJoin(broadcast(vals.agg(
            sum(col("c_web")).as("n_web"),
            sum(col("c_store")).as("n_store"))))
          .agg(max(col("n_web")).as("n_web"),
            max(col("n_store")).as("n_store"),
            sum(expr("""CAST(c_store AS DECIMAL(38,0))
                        * (2 * (n_web - cw) + c_web)"""))
              .as("u2"))
          .select(col("n_web"), col("n_store"),
            col("u2").cast("long").as("u2"),
            expr("""CAST(u2 * 1000000 div greatest(2 *
                    CAST(n_web AS DECIMAL(38,0)) * n_store, 1)
                    AS BIGINT)""").as("auc_ppm"))
        graft.tools.ExplainAudit.auditedCut(out, "q337_channel_auc")
      } finally graft.operators.Graph.release(vals)
    },

    // FREQUENT-ITEM cross-channel set (TPC-DS Q23's opening move on
    // this schema): parts sold in MORE THAN 4 distinct store orders
    // within a year form the year's frequent-item set; the question is
    // how much of the WEB channel's revenue those store-proven items
    // carry (Q23 prices the frequent store items' catalog/web sales).
    // ONE scan over the shared (part, year, channel) grain
    // [[partYearChannelGrain]]: fold channels out at (part, year),
    // filter on the store-occurrence count, roll up to the year. The
    // >4 filter and the share division both run on the bounded
    // part-scale aggregate, never the fact; the single division is of
    // non-negative integers (truncation ≡ floor across engines).
    "q339_frequent_item_set" -> { (s, dir) =>
      val zero = lit(0).cast("decimal(38,0)")
      val py = partYearChannelGrain(s, dir)
        .groupBy(col("l_partkey"), col("yr"))
        .agg(sum(when(col("channel") === "store", col("n_orders"))
            .otherwise(0L)).as("store_orders"),
          sum(when(col("channel") === "web", col("rev_e4"))
            .otherwise(zero)).as("web_rev_e4"))
      py.groupBy(col("yr"))
        .agg(count(lit(1)).as("n_parts"),
          sum(when(col("store_orders") > 4, 1L).otherwise(0L))
            .as("n_freq_parts"),
          sum(when(col("store_orders") > 4, col("web_rev_e4"))
            .otherwise(zero)).as("fw"),
          sum(col("web_rev_e4")).as("tw"))
        .select(col("yr"), col("n_parts"), col("n_freq_parts"),
          col("fw").cast("long").as("freq_web_rev_e4"),
          col("tw").cast("long").as("web_rev_e4"),
          expr("CAST(fw * 1000000 div greatest(tw, 1) AS BIGINT)")
            .as("freq_web_share_ppm"))
        .orderBy(col("yr"))
    },

    // PROMO share per (year, channel) — the TPC-DS Q14 promo-share
    // numerator beside q163's single-quarter global TPC-H Q14: which
    // channel actually moves promotional stock, and is that share
    // drifting year over year? ONE scan over the shared
    // [[partYearChannelGrain]]; the promo cut is a conditional
    // aggregate (never a second fact pass), the distinct-part count
    // rides the same grain for free, and the share is one truncating
    // division of non-negative integers.
    "q340_promo_channel_share" -> { (s, dir) =>
      val zero = lit(0).cast("decimal(38,0)")
      partYearChannelGrain(s, dir)
        .groupBy(col("yr"), col("channel"))
        .agg(countDistinct(when(col("p_type") === "PROMO",
            col("l_partkey"))).as("n_promo_parts"),
          sum(when(col("p_type") === "PROMO", col("rev_e4"))
            .otherwise(zero)).as("pr"),
          sum(col("rev_e4")).as("tr"))
        .select(col("yr"), col("channel"), col("n_promo_parts"),
          col("pr").cast("long").as("promo_rev_e4"),
          col("tr").cast("long").as("total_rev_e4"),
          expr("CAST(pr * 1000000 div greatest(tr, 1) AS BIGINT)")
            .as("promo_share_ppm"))
        .orderBy(col("yr"), col("channel"))
    })

  /** Round-11 stretch wave. */
  val defs2: Map[String, (SparkSession, String) => DataFrame] = Map(

    // KRUSKAL–WALLIS H across the THREE channels on order values: the
    // k-sample generalization of q337's two-sample Mann–Whitney — do
    // web, store, and catalog draw from one value distribution? Fully
    // rank-based and integral: midranks live in HALF-UNITS
    // (midrank2 = 2·prior + t + 1, so ties never create fractions),
    // the prior-count prefix comes from the q328/q337 TWO-PHASE
    // prefix sum over the value grain (bucket offsets + within-bucket
    // window — no unpartitioned window ever touches the value grain),
    // and H lands in ppm with exactly two truncating divisions of
    // non-negative integers (per-group R²/(4n) terms, then the
    // 12/(N(N+1)) scale), replicated verbatim in the oracle. Ties are
    // handled by midranks; the optional tie-correction divisor is
    // deliberately omitted (documented classic uncorrected H).
    "q346_kruskal_wallis" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val vals = valueGrain(s, dir, Seq("web", "store", "catalog"))
        .select(col("v"), col("bkt"), col("c_web").as("cw"),
          col("c_store").as("cs"), col("c_catalog").as("cc"))
        .withColumn("ct", col("cw") + col("cs") + col("cc"))
      val bsum = vals.groupBy(col("bkt"))
        .agg(sum(col("ct")).as("bt"))
      val wOff = Window.orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = bsum
        .withColumn("off", coalesce(sum(col("bt")).over(wOff), lit(0L)))
        .select(col("bkt"), col("off"))
      val wIn = Window.partitionBy(col("bkt")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = vals
        .withColumn("inb", coalesce(sum(col("ct")).over(wIn), lit(0L)))
        .join(broadcast(offs), "bkt")
        .withColumn("mr2",
          lit(2L) * (col("off") + col("inb")) + col("ct") + 1L)
      // per-group term Rᵢ²/nᵢ = R2ᵢ² div (4nᵢ), floor-divided WITHOUT
      // Spark's `div` (whose BIGINT result overflows once the term
      // passes ~9e18, around N ≈ 3e6 rows): (a − a % b) / b is exactly
      // divisible, so the DECIMAL(38,6) division is exact with no
      // rounding and the value stays in DECIMAL — DuckDB mirrors with
      // plain HUGEINT `//`, same integers (non-negative ⇒ floor ≡
      // trunc)
      def term(r2: String, n: String): String =
        s"""CAST(($r2 * $r2 - $r2 * $r2 % (4 * $n)) / (4 * $n)
            AS DECIMAL(38,0))"""
      ranked.agg(
          sum(col("cw")).as("n_web"), sum(col("cs")).as("n_store"),
          sum(col("cc")).as("n_catalog"),
          sum(expr("CAST(cw AS DECIMAL(38,0)) * mr2")).as("r2w"),
          sum(expr("CAST(cs AS DECIMAL(38,0)) * mr2")).as("r2s"),
          sum(expr("CAST(cc AS DECIMAL(38,0)) * mr2")).as("r2c"))
        .select(col("n_web"), col("n_store"), col("n_catalog"),
          col("r2w").cast("long").as("ranksum2_web"),
          col("r2s").cast("long").as("ranksum2_store"),
          col("r2c").cast("long").as("ranksum2_catalog"),
          expr(s"""CAST(12 * (${term("r2w", "n_web")}
                    + ${term("r2s", "n_store")}
                    + ${term("r2c", "n_catalog")}) * 1000000
                  div ((n_web + n_store + n_catalog)
                    * (n_web + n_store + n_catalog + 1))
                  - 3 * (n_web + n_store + n_catalog + 1) * 1000000
                  AS BIGINT)""").as("h_ppm"))
    },

    // Supplier HERFINDAHL–HIRSCHMAN index per brand: how concentrated
    // is each brand's supply base (HHI 1e6 = a sole supplier — the
    // merger-review statistic beside q332's breadth count and q345's
    // Gini)? Exactly integral: HHI = Σ qᵢ² / (Σ qᵢ)² over supplier
    // quantity shares needs ONE truncating division of non-negative
    // DECIMAL(38) integers. One fact pass to (brand, supplier) grain,
    // one bounded per-brand aggregate.
    "q347_supplier_hhi" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("l_suppkey"))
        .agg(sum((col("l_quantity").cast("decimal(12,2)") * 100)
          .cast("long")).as("q"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(expr("CAST(q AS DECIMAL(38,0))")).as("sq"),
          sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("sq2"))
        .select(col("p_brand"), col("n_suppliers"),
          col("sq").cast("long").as("qty_e2"),
          expr("CAST(sq2 * 1000000 div (sq * sq) AS BIGINT)")
            .as("hhi_ppm"))
        .orderBy(col("p_brand"))
    },

    // SEASONAL INDEX by month-of-year: classical ratio-to-moving-
    // average decomposition of monthly revenue — which calendar months
    // run structurally hot against their own 12-month trend? The
    // centered MA-12 window runs over the MONTH-GRAIN aggregate
    // (≤80 rows, bounded by the calendar — an unpartitioned frame over
    // a bounded aggregate, the audit-sanctioned shape). A window
    // qualifies only when it is CALENDAR-exact — 12 rows AND a month
    // span of exactly 11, so a zero-order gap month can never let a
    // 13-calendar-month frame masquerade as a year (the row count
    // alone cannot see the gap). Both divisions (ratio-to-trend, then
    // the month-of-year mean) are truncating over non-negative
    // integers — rev·12e6 div window-sum keeps the ratio to ONE
    // division.
    "q348_seasonal_index" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val m = t(s, dir, "orders")
        .groupBy(monthIdxCol.as("mi"))
        .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("decimal(38,0)")).as("rev"))
      val w12 = Window.orderBy(col("mi")).rowsBetween(-6, 5)
      m.withColumn("wsum", sum(col("rev")).over(w12))
        .withColumn("wn", count(lit(1)).over(w12))
        .withColumn("wspan",
          max(col("mi")).over(w12) - min(col("mi")).over(w12))
        .filter(col("wn") === 12 && col("wspan") === 11)
        .select((col("mi") % 12).as("moy"),
          expr("CAST(rev * 12000000 div wsum AS BIGINT)").as("ratio"))
        .groupBy(col("moy"))
        .agg(count(lit(1)).as("n_windows"),
          expr("CAST(sum(ratio) div count(1) AS BIGINT)")
            .as("seasonal_ppm"))
        .orderBy(col("moy"))
    },

    // BRAND SHARE STABILITY: each brand's within-year revenue share
    // across the calendar, reduced to the (min, max, range) envelope —
    // is the assortment's mix stable, or does a brand swing between
    // 2% and 6% of the business year to year? GRAIN CONTRACT: only
    // OBSERVED (year, brand) cells participate (a brand absent from a
    // year contributes no share row — absence, never a zero). The
    // share grid is brands × years (bounded), year totals via one
    // partitioned window over it, one truncating division per cell.
    "q361_brand_share_stability" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val yb = Tables.fanOut(t(s, dir, "lineitem"))
        .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(year(col("l_shipdate")).cast("long").as("yr"),
          col("p_brand"))
        .agg(sum(revE4).as("rev_e4"))
      val wYr = Window.partitionBy(col("yr"))
      yb.withColumn("yr_total", sum(col("rev_e4")).over(wYr))
        .select(col("p_brand"), col("yr"),
          expr("""CAST(rev_e4 * 1000000 div greatest(yr_total, 1)
                  AS BIGINT)""").as("share_ppm"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_years"),
          min(col("share_ppm")).as("min_share_ppm"),
          max(col("share_ppm")).as("max_share_ppm"))
        .select(col("p_brand"), col("n_years"), col("min_share_ppm"),
          col("max_share_ppm"),
          (col("max_share_ppm") - col("min_share_ppm"))
            .as("range_ppm"))
        .orderBy(col("p_brand"))
    },

    // ROUND-NUMBER BIAS per channel: how many order totals land on a
    // whole dollar (cents ≡ 0 mod 100) or a whole dime (mod 10) —
    // the pricing-psychology screen beside q342's Benford digits (a
    // synthetic generator shows no bias; invoice data does). Exact on
    // the cents integer, one conditional aggregate per channel, shares
    // in truncating ppm.
    "q362_round_price_bias" -> { (s, dir) =>
      t(s, dir, "orders")
        .select(channelCol.as("channel"), centsCol.as("cents"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("cents") % 100 === 0, 1L).otherwise(0L))
            .as("n_whole_dollar"),
          sum(when(col("cents") % 10 === 0, 1L).otherwise(0L))
            .as("n_whole_dime"))
        .select(col("channel"), col("n_orders"),
          col("n_whole_dollar"),
          expr("CAST(n_whole_dollar * 1000000 div n_orders AS BIGINT)")
            .as("whole_dollar_ppm"),
          col("n_whole_dime"),
          expr("CAST(n_whole_dime * 1000000 div n_orders AS BIGINT)")
            .as("whole_dime_ppm"))
        .orderBy(col("channel"))
    },

    // TOTAL-VARIATION distance between the web and store order-value
    // distributions: the L1 counterpart to q328's KS max and q337's
    // AUC — HOW MUCH probability mass would have to move to make the
    // channels identical. Entirely integral on the shared value grain:
    // TV = Σ_v |cw·n_s − cs·n_w| / (2·n_w·n_s), cross-multiplied so
    // the only division is the final ppm one (non-negative ⇒ floor ≡
    // trunc). The raw sum lands as BIGINT for the audit view — like
    // q337's u2 it overflows past ~2e9 rows per side; tv_ppm (the
    // DECIMAL-lifted quotient) is the scale-safe output.
    "q357_channel_tv_distance" -> { (s, dir) =>
      val vals = channelValueGrain(s, dir)
        .cut(true) // totals + the TV sum both read it
      try {
        val out = vals
          .crossJoin(broadcast(vals.agg(
            sum(col("c_web")).as("n_web"),
            sum(col("c_store")).as("n_store"))))
          .agg(max(col("n_web")).as("n_web"),
            max(col("n_store")).as("n_store"),
            count(lit(1)).as("n_values"),
            sum(expr("""abs(CAST(c_web AS DECIMAL(38,0)) * n_store
                        - CAST(c_store AS DECIMAL(38,0)) * n_web)"""))
              .as("raw"))
          .select(col("n_web"), col("n_store"), col("n_values"),
            col("raw").cast("long").as("raw_l1"),
            expr("""CAST(raw * 1000000 div greatest(2 *
                    CAST(n_web AS DECIMAL(38,0)) * n_store, 1)
                    AS BIGINT)""").as("tv_ppm"))
        graft.tools.ExplainAudit
          .auditedCut(out, "q357_channel_tv_distance")
      } finally graft.operators.Graph.release(vals)
    },

    // DISCOUNT LIFT GRID: does a deeper discount actually move more
    // units? Mean quantity per discount band (the l_discount domain is
    // ≤11 cent-values — a bounded grid by construction) with the lift
    // vs the FULL-PRICE baseline in exact ppm. One fact aggregate;
    // the baseline mean is read back via a window over the grid
    // (constant partition key — an 11-row input, never the fact), and
    // both divisions are truncating over non-negative integers.
    "q354_discount_lift" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val bands = Tables.fanOut(t(s, dir, "lineitem"))
        .groupBy((col("l_discount").cast("decimal(12,2)") * 100)
          .cast("long").as("disc_pct"))
        .agg(count(lit(1)).as("n_lines"),
          sum((col("l_quantity").cast("decimal(12,2)") * 100)
            .cast("long")).as("qty_e2"),
          sum(revE4).as("rev_e4"))
        .withColumn("mean_qty_e2", expr("qty_e2 div n_lines"))
      val wAll = Window.partitionBy(lit(0))
      bands
        .withColumn("base", max(when(col("disc_pct") === 0L,
          col("mean_qty_e2"))).over(wAll))
        .select(col("disc_pct"), col("n_lines"), col("qty_e2"),
          col("mean_qty_e2"),
          col("rev_e4").cast("long").as("rev_e4"),
          expr("""CAST(mean_qty_e2 * 1000000 div greatest(base, 1)
                  AS BIGINT)""").as("lift_vs_full_price_ppm"))
        .orderBy(col("disc_pct"))
    },

    // Top slices PER ROLLUP LEVEL (TPC-DS Q67's exact shape: the rollup
    // and the rank over it share ONE aggregate pass): rollup over
    // (brand, size bucket), then each level — detail, brand subtotal,
    // grand total — ranks its own rows by revenue and keeps the top 3.
    // The window partitions on the level tag, so it runs over the
    // bounded rollup relation, never the fact.
    "q249_rollup_level_topk" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables.fanOut(t(s, dir, "lineitem"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          expr("p_size div 10").cast("long").as("size_bucket"),
          revE4.as("rev_e4"))
      val cells = base.rollup(col("p_brand"), col("size_bucket"))
        .agg(count(lit(1)).as("n_lines"), sum(col("rev_e4")).as("r_e4"))
        // level BEFORE the coalesce: 0 = detail, 1 = brand subtotal,
        // 3 = grand total (rollup never emits level 2)
        .select(
          (col("p_brand").isNull.cast("int") * 2 +
            col("size_bucket").isNull.cast("int")).as("lvl"),
          coalesce(col("p_brand"), lit("ALL")).as("p_brand"),
          coalesce(col("size_bucket"), lit(-1L)).as("size_bucket"),
          col("n_lines"), col("r_e4"))
      val w = Window.partitionBy(col("lvl"))
        .orderBy(col("r_e4").desc, col("p_brand"), col("size_bucket"))
      cells.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("p_brand"), col("size_bucket"), col("lvl"),
          col("n_lines"), col("r_e4").cast("long").as("rev_e4"),
          col("rk"))
        .orderBy(col("lvl"), col("rk"))
    },

    // Cross-channel parts (TPC-DS Q14 flavor): parts sold on ALL three
    // channels, rolled up by brand. The intersection is
    // countDistinct(channel) = 3 on the per-part aggregate — ONE fact
    // pass carries the channel count, the line count, and the revenue;
    // the brand rollup then joins only the part-scale aggregate to the
    // dimension. Never a per-channel INTERSECT cascade over the fact.
    "q250_cross_channel_parts" -> { (s, dir) =>
      // r18: the orders join carried NOTHING but the channel, and
      // channel ≡ pmod(orderkey, 3) is derivable from l_orderkey
      // directly (the q279 precedent — one channelCol definition, keyed
      // on either side). lineitem→orders referential integrity
      // (o_orderkey unique, every l_orderkey present — the Expectations
      // FK rule, re-verified on all SFs) makes the inner join
      // row-preserving, so skipping it removes the fact-scale join
      // shuffle outright (guide §2.4). countDistinct(channel) planned
      // an Expand (3× the pre-shuffle rows); the 3-value channel domain
      // packs into one bit_or bitmask instead — single-pass partial
      // aggregation (§2.3), n_ch = 3 ⟺ mask = 0b111. Results
      // bit-identical; the oracle still derives via the join.
      val per = t(s, dir, "lineitem")
        .select(expr("shiftleft(1, cast(pmod(l_orderkey, 3) as int))")
            .as("chbit"),
          col("l_partkey"), revE4.as("rev_e4"))
        .groupBy(col("l_partkey"))
        .agg(expr("bit_or(chbit)").as("ch_mask"),
          count(lit(1)).as("n_lines"), sum(col("rev_e4")).as("r_e4"))
        .filter(col("ch_mask") === 7)
      per.join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("n_lines")).cast("long").as("n_lines"),
          sum(col("r_e4")).cast("long").as("rev_e4"))
        .orderBy(col("p_brand"))
    },

    // Cross-channel customer growth (TPC-DS Q11 shape): customers whose
    // web revenue grew FASTER year-over-year than their store revenue.
    // ONE fact pass builds the (customer × channel) aggregate with both
    // years as conditional sums — no per-year scan, no aggregate
    // self-join (the Q74 variant q242 already exercises that plan); the
    // channel comparison is a customer-scale self-join on the bounded
    // aggregate. Growth is exact ppm with truncating division.
    "q252_channel_growth" -> { (s, dir) =>
      val f = t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
            .filter(year(col("o_orderdate")).isin(1996, 1997)),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), channelCol.as("channel"),
          year(col("o_orderdate")).as("yr"), revE4.as("rev_e4"))
      val zero = lit(0).cast("decimal(38,0)")
      val per = f.groupBy(col("o_custkey"), col("channel"))
        .agg(
          sum(when(col("yr") === 1996, col("rev_e4")).otherwise(zero))
            .cast("long").as("r94"),
          sum(when(col("yr") === 1997, col("rev_e4")).otherwise(zero))
            .cast("long").as("r95"))
        .filter(col("r94") > 0)
        .withColumn("growth_ppm", expr("r95 * 1000000 div r94"))
      val web = per.filter(col("channel") === "web")
        .select(col("o_custkey"), col("growth_ppm").as("web_growth_ppm"))
      val store = per.filter(col("channel") === "store")
        .select(col("o_custkey"),
          col("growth_ppm").as("store_growth_ppm"))
      web.join(store, "o_custkey")
        .filter(col("web_growth_ppm") > col("store_growth_ppm"))
        .select(col("o_custkey"), col("web_growth_ppm"),
          col("store_growth_ppm"),
          (col("web_growth_ppm") - col("store_growth_ppm"))
            .as("growth_gap_ppm"))
        .orderBy(col("growth_gap_ppm").desc, col("o_custkey"))
        .limit(20)
    },

    // Weekday revenue shift by channel (TPC-DS Q59 shape): the
    // (channel × weekday) revenue matrix for 1996 vs 1997 and the
    // year-over-year ratio per cell. Both years ride ONE fact pass as
    // conditional sums; the matrix is 21 bounded cells. Weekday is
    // 0=Sunday in both engines (Spark dayofweek()-1 = DuckDB
    // dayofweek()).
    "q253_weekday_shift" -> { (s, dir) =>
      val zero = lit(0).cast("decimal(38,0)")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
            .filter(year(col("o_orderdate")).isin(1996, 1997)),
          col("l_orderkey") === col("o_orderkey"))
        .select(channelCol.as("channel"),
          (dayofweek(col("o_orderdate")) - 1).as("dow"),
          year(col("o_orderdate")).as("yr"), revE4.as("rev_e4"))
        .groupBy(col("channel"), col("dow"))
        .agg(
          sum(when(col("yr") === 1996, col("rev_e4")).otherwise(zero))
            .cast("long").as("rev94_e4"),
          sum(when(col("yr") === 1997, col("rev_e4")).otherwise(zero))
            .cast("long").as("rev95_e4"))
        .filter(col("rev94_e4") > 0)
        .withColumn("yoy_ppm", expr("rev95_e4 * 1000000 div rev94_e4"))
        .orderBy(col("channel"), col("dow"))
    },

    // Worst return ratios per channel (TPC-DS Q49 shape): per
    // (channel, part) the return share of revenue in exact ppm, ranked
    // within each channel, top 5 each. ONE fact pass builds the
    // aggregate; the window ranks the bounded (channel × part)
    // relation, partitioned by channel.
    "q260_return_ratio_rank" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val zero = lit(0).cast("decimal(38,0)")
      val per = channelSales(s, dir)
        .groupBy(col("channel"), col("l_partkey"))
        .agg(sum(col("rev_e4")).cast("long").as("sales_e4"),
          sum(when(col("is_return"), col("rev_e4")).otherwise(zero))
            .cast("long").as("returns_e4"))
        .filter(col("sales_e4") > 0 && col("returns_e4") > 0)
        .withColumn("return_ppm",
          expr("returns_e4 * 1000000 div sales_e4"))
      val w = Window.partitionBy(col("channel"))
        .orderBy(col("return_ppm").desc, col("l_partkey"))
      per.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("channel"), col("l_partkey"), col("sales_e4"),
          col("returns_e4"), col("return_ppm"), col("rk"))
        .orderBy(col("channel"), col("rk"))
    },

    // Hot-part suppliers (TPC-DS Q20 flavor, no partsupp in this
    // schema): a part is HOT when its 1997 shipped quantity exceeds
    // 25% of its all-time quantity (the uniform share is ~14%, so this
    // is the upper tail at every SF); suppliers ranked by how many hot
    // parts they ship. Both the yearly and all-time sums ride ONE
    // conditional-aggregate pass; the supplier count joins only the
    // hot-part aggregate.
    "q261_hot_part_suppliers" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("ship_yr"),
          (col("l_quantity").cast("decimal(12,2)") * 100)
            .cast("decimal(38,0)").as("qty_e2"))
        .cut(false)
      val zero = lit(0).cast("decimal(38,0)")
      val hot = li.groupBy(col("l_partkey"))
        .agg(sum(col("qty_e2")).cast("long").as("q_all"),
          sum(when(col("ship_yr") === 1997, col("qty_e2"))
            .otherwise(zero)).cast("long").as("q_1997"))
        .filter(col("q_1997") * 4 > col("q_all"))
        .select(col("l_partkey"))
      li.join(hot, "l_partkey")
        .groupBy(col("l_suppkey"))
        .agg(countDistinct(col("l_partkey")).as("n_hot_parts"),
          sum(col("qty_e2")).cast("long").as("hot_qty_e2"))
        .orderBy(col("n_hot_parts").desc, col("l_suppkey"))
        .limit(20)
    },

    // Silent store buyers by demographic (TPC-DS Q69's exact shape —
    // EXISTS one activity, NOT EXISTS another, demographic breakdown —
    // run ACROSS datasets: the exists probe is the order fact's store
    // channel, the not-exists probe is the behavioural event stream's
    // purchase events; a same-fact channel split would be near-empty
    // here because every customer spans all three derived channels).
    // Both probes are distinct key-scale relations semi/anti-joined
    // against the customer dimension — never a fact re-scan.
    "q269_silent_store_buyers" -> { (s, dir) =>
      val e2 = (col("c_acctbal").cast("decimal(12,2)") * 100)
        .cast("long")
      val storeBuyers = t(s, dir, "orders")
        .filter(channelCol === "store")
        .select(col("o_custkey").as("c_custkey")).distinct()
      val purchasers = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("c_custkey")).distinct()
      t(s, dir, "customer")
        .join(storeBuyers, Seq("c_custkey"), "left_semi")
        .join(purchasers, Seq("c_custkey"), "left_anti")
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(e2).as("acctbal_e2"),
          min(e2).as("min_acctbal_e2"),
          max(e2).as("max_acctbal_e2"))
        .orderBy(col("n_name"), col("c_mktsegment"))
    },

    // Buying AND event-active customers by demographic (TPC-DS Q35's
    // shape: EXISTS purchases AND EXISTS activity, with within-group
    // sub-population counts). The behavioural axis joins the EVENTS
    // stream to the order fact through the customer key — the
    // cross-dataset demographic report the star schema alone can't
    // express. Purchaser flag rides a left join of a distinct key
    // relation, counted inside the same aggregate pass.
    "q270_demographic_activity" -> { (s, dir) =>
      val e2 = (col("c_acctbal").cast("decimal(12,2)") * 100)
        .cast("long")
      val buyers = t(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey")).distinct()
      val ev = t(s, dir, "events")
        .select(col("user_id").as("c_custkey"), col("event_type"))
      val eventers = ev.select(col("c_custkey")).distinct()
      val purchasers = ev.filter(col("event_type") === "purchase")
        .select(col("c_custkey")).distinct()
        .withColumn("is_purchaser", lit(1L))
      t(s, dir, "customer")
        .join(buyers, Seq("c_custkey"), "left_semi")
        .join(eventers, Seq("c_custkey"), "left_semi")
        .join(purchasers, Seq("c_custkey"), "left_outer")
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(coalesce(col("is_purchaser"), lit(0L)))
            .as("n_purchasers"),
          sum(e2).as("acctbal_e2"))
        .orderBy(col("n_name"), col("c_mktsegment"))
    },

    // Monthly deviation from the year average (TPC-DS Q47 shape):
    // brand x channel monthly revenue, each month compared against its
    // series' YEAR average, months off by >10% reported with the
    // neighbouring months (lag/lead). All windows run over the
    // (brand x channel x month) AGGREGATE — bounded by the dimension
    // product x 84 months — never over line rows; the fact is touched
    // once. The avg comparison is kept EXACT (hash-stable vs DuckDB) by
    // clearing denominators: |m*n - ysum| * 10 > ysum <=>
    // |m - ysum/n| > 0.1 * ysum/n, all in DECIMAL(38,0) fixed-point.
    "q279_brand_monthly_deviation" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val monthly = Tables.fanOut(t(s, dir, "lineitem"))
        .join(t(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          channelCol(col("l_orderkey")).as("channel"),
          year(col("l_shipdate")).as("yr"),
          month(col("l_shipdate")).as("mo"))
        .agg(sum(revE4).as("m_e4"))
      val series = Window.partitionBy(col("p_brand"), col("channel"))
        .orderBy(col("yr"), col("mo"))
      val inYear = Window.partitionBy(col("p_brand"), col("channel"),
        col("yr"))
      monthly
        .withColumn("ysum", sum(col("m_e4")).over(inYear))
        .withColumn("nmo", count(lit(1)).over(inYear))
        .withColumn("prev_e4", lag(col("m_e4"), 1).over(series))
        .withColumn("next_e4", lead(col("m_e4"), 1).over(series))
        .filter(col("yr") === 1997 && col("ysum") > 0 &&
          abs(col("m_e4") * col("nmo") - col("ysum")) * 10 > col("ysum"))
        .select(col("p_brand"), col("channel"), col("yr"), col("mo"),
          col("m_e4").cast("long").as("month_rev_e4"),
          // integral `div` matches DuckDB `//` exactly on non-negative
          // operands; .divide().cast would HALF_UP-round at scale 6 first
          expr("ysum div nmo").as("avg_month_e4"),
          expr("""CAST(abs(m_e4 * nmo - ysum) * 1000000
                  AS DECIMAL(38,0)) div ysum""").as("dev_ppm"),
          coalesce(col("prev_e4").cast("long"), lit(-1L))
            .as("prev_rev_e4"),
          coalesce(col("next_e4").cast("long"), lit(-1L))
            .as("next_rev_e4"))
        .orderBy(col("p_brand"), col("channel"), col("mo"))
    },

    // Supplier-nation monthly deviation (TPC-DS Q57 shape — Q47's twin
    // on the catalog/call-center axis): the series dimension comes
    // through TWO dimension hops (lineitem ⋈ supplier ⋈ nation, both
    // broadcast at any scale), and the off-months are additionally
    // RANKED by deviation within the year so the report surfaces the
    // worst excursions first. Same exact fixed-point discipline.
    "q280_nation_monthly_deviation" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val monthly = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          year(col("l_shipdate")).as("yr"),
          month(col("l_shipdate")).as("mo"))
        .agg(sum(revE4).as("m_e4"))
      val series = Window.partitionBy(col("n_name"))
        .orderBy(col("yr"), col("mo"))
      val inYear = Window.partitionBy(col("n_name"), col("yr"))
      val off = monthly
        .withColumn("ysum", sum(col("m_e4")).over(inYear))
        .withColumn("nmo", count(lit(1)).over(inYear))
        .withColumn("prev_e4", lag(col("m_e4"), 1).over(series))
        .withColumn("next_e4", lead(col("m_e4"), 1).over(series))
        .filter(col("yr") === 1997 && col("ysum") > 0 &&
          abs(col("m_e4") * col("nmo") - col("ysum")) * 20 > col("ysum"))
        .withColumn("dev_ppm", // integral div: see q279's rationale
          expr("""CAST(abs(m_e4 * nmo - ysum) * 1000000
                  AS DECIMAL(38,0)) div ysum"""))
      val rk = Window.partitionBy(col("yr"))
        .orderBy(col("dev_ppm").desc, col("n_name"), col("mo"))
      off.withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 25)
        .select(col("n_name"), col("yr"), col("mo"),
          col("m_e4").cast("long").as("month_rev_e4"),
          expr("ysum div nmo").as("avg_month_e4"),
          col("dev_ppm"),
          coalesce(col("prev_e4").cast("long"), lit(-1L))
            .as("prev_rev_e4"),
          coalesce(col("next_e4").cast("long"), lit(-1L))
            .as("next_rev_e4"),
          col("rk"))
        .orderBy(col("rk"))
    },

    // Frequent-buyer band counts (TPC-DS Q34/Q73 shape): how many
    // customers of each demographic place 1-5 / 6-10 / 11-20 / 21+
    // orders — the purchase-frequency histogram those queries band
    // between bounds. ONE grouped scan builds the orders-per-customer
    // relation (key-scale shuffle, map-side combine); banding is a
    // BOUNDED band join — a 4-row literal bands relation broadcast
    // against the per-customer counts (≤4 range comparisons per row,
    // never a row×row blow-up); the demographic arrives through one
    // key-equi customer join. Counts only, so the oracle is exact with
    // no fixed-point lifting.
    "q284_frequent_buyer_bands" -> { (s, dir) =>
      import s.implicits._
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      val bands = Seq(("B1_1_5", 1L, 5L), ("B2_6_10", 6L, 10L),
        ("B3_11_20", 11L, 20L), ("B4_21_plus", 21L, 1000000000L))
        .toDF("band", "lo", "hi")
      perCust
        .join(broadcast(bands),
          col("n_orders") >= col("lo") && col("n_orders") <= col("hi"))
        .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"), col("band"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("n_orders")).as("total_orders"))
        .orderBy(col("segment"), col("band"))
    },

    // Time-band count grid (TPC-DS Q88 shape): ONE conditional-
    // aggregation scan producing the eight-band activity pyramid — per
    // two-hour band from 08:00 to midnight, how many events hit any of
    // three (type, value-range) profiles. Q88's classic single-pass
    // COUNT(CASE…) grid: the fact table is touched ONCE (ExplainAudit
    // pins no re-scan), every band is a conditional sum inside one
    // partial-aggregatable global aggregate — at 100 TB this is one
    // map-side-combined scan, where the naive 8-subquery phrasing would
    // be 8. Counts only, so the oracle needs no fixed-point lifting.
    "q292_time_band_grid" -> { (s, dir) =>
      val hit =
        (col("event_type") === "purchase" &&
          col("value").between(50.0, 150.0)) ||
        (col("event_type") === "click" &&
          col("value").between(0.0, 100.0)) ||
        (col("event_type") === "view" &&
          col("value").between(100.0, 300.0))
      def band(lo: Int): org.apache.spark.sql.Column =
        sum(when(hour(col("ts")).between(lo, lo + 1) && hit, 1L)
          .otherwise(0L))
      t(s, dir, "events").agg(
        band(8).as("h08_10"), band(10).as("h10_12"),
        band(12).as("h12_14"), band(14).as("h14_16"),
        band(16).as("h16_18"), band(18).as("h18_20"),
        band(20).as("h20_22"), band(22).as("h22_24"))
    },

    // Nation-relative return outliers (TPC-DS Q1 shape): customers
    // whose returned revenue exceeds 1.2× their NATION's average
    // customer return — the classic correlated-subquery report, phrased
    // as one partitioned window over the per-customer return aggregate
    // (customer-scale, never the fact). The >1.2× predicate clears
    // denominators (ret·n·10 > nat_sum·12 — the q279 trick), so the
    // comparison is exact integer arithmetic end-to-end, and the
    // reported vs-average ratio is ppm via integral div over
    // non-negative terms (truncation ≡ floor).
    "q298_return_outliers" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ret = Tables.fanOut(t(s, dir, "lineitem"))
        .filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(revE4).as("ret_e4"))
      val w = Window.partitionBy(col("c_nationkey"))
      ret
        .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .withColumn("nat_sum", sum(col("ret_e4")).over(w))
        .withColumn("nat_n", count(lit(1)).over(w))
        .filter(expr("ret_e4 * nat_n * 10 > nat_sum * 12"))
        .select(col("c_custkey").as("cust_key"),
          col("c_nationkey").cast("long").as("nation_key"),
          col("ret_e4").cast("long").as("returns_e4"),
          expr("""CAST(ret_e4 * nat_n * 1000000
                  div greatest(nat_sum, 1) AS BIGINT)""")
            .as("vs_avg_ppm"))
        .orderBy(col("vs_avg_ppm").desc, col("cust_key"))
        .limit(25)
    },

    // Morning-vs-evening activity ratio (TPC-DS Q90 shape): the
    // am/pm event-count quotient for one engagement profile — Q88's
    // sibling that returns a RATIO instead of the grid. Same one-scan
    // conditional-aggregation discipline (two bands of the same
    // single-pass pyramid), quotient in exact ppm via integral div —
    // both counts non-negative, so truncation ≡ floor across engines;
    // an empty evening band guards the divisor with GREATEST(_, 1)
    // instead of erroring.
    "q297_ampm_ratio" -> { (s, dir) =>
      val hit = (col("event_type") === "purchase" ||
        col("event_type") === "click") && col("value") <= 200.0
      t(s, dir, "events").agg(
          sum(when(hour(col("ts")).between(8, 9) && hit, 1L)
            .otherwise(0L)).as("am_events"),
          sum(when(hour(col("ts")).between(20, 21) && hit, 1L)
            .otherwise(0L)).as("pm_events"))
        .select(col("am_events"), col("pm_events"),
          expr("am_events * 1000000 div greatest(pm_events, 1)")
            .as("am_pm_ppm"))
    },

    // Robust revenue trend per brand: the THEIL–SEN slope over the
    // 1996–1997 monthly series — the median of all pairwise
    // month-to-month slopes, immune to single-month outliers where an
    // OLS fit would chase them. Scale shape: the pair space is
    // generated WITHIN each brand's month-grain aggregate (≤24 points
    // → ≤276 pairs per brand — bounded per partition by construction,
    // never row-scale), the median is a row_number window per brand
    // (partitioned, tiny), and slopes are exact e4-per-month integers
    // (integral div; ties broken by slope, then pair identity, so the
    // upper median is deterministic and oracle-stable).
    "q290_theil_sen_trend" -> { (s, dir) =>
      rankedBrandSlopes(s, dir)
        // upper median (element n/2 + 1 for even n, (n+1)/2 odd):
        // rk = n div 2 + 1 covers both
        .filter(col("rk") === expr("n_pairs div 2 + 1"))
        .select(col("p_brand"), col("n_pairs"),
          col("slope_e4").cast("long").as("trend_e4_per_month"))
        .orderBy(col("p_brand"))
    },

    // QUANTILE-REGRESSION SLOPE BAND — q290's robust-trend family
    // completed: the τ = 0.1 / 0.5 / 0.9 pairwise-slope quantiles per
    // brand, so trend DISPERSION (is the brand's growth consistent, or
    // a wide fan of month-pair slopes?) is first-class beside the
    // Theil–Sen point estimate. Same bounded month-grain pair space
    // and the same type-1-with-upper-tie selection rank as q290 —
    // floor(n·τ) + 1, which at τ = 0.5 is exactly q290's
    // n div 2 + 1, a equivalence the spec pins — computed in exact
    // integer ppm (n ≤ 276 pairs, so n·τ_ppm is nowhere near
    // overflow). One window pass over [[rankedBrandSlopes]]; the
    // explode is 3 bounded literals per pair row, never data-scale.
    "q341_slope_quantile_band" -> { (s, dir) =>
      rankedBrandSlopes(s, dir)
        .select(col("p_brand"), col("n_pairs"), col("rk"),
          col("slope_e4"),
          explode(array(lit(100000L), lit(500000L), lit(900000L)))
            .as("tau_ppm"))
        .filter(col("rk") === expr("n_pairs * tau_ppm div 1000000 + 1"))
        .select(col("p_brand"), col("tau_ppm"), col("n_pairs"),
          col("slope_e4").cast("long").as("slope_e4"))
        .orderBy(col("p_brand"), col("tau_ppm"))
    },

    // BENFORD first-digit profile per channel: the classic books-
    // cooking screen pointed at order totals — does each channel's
    // value distribution carry the log-law leading-digit mix, and
    // which digit deviates most? The digit extracts EXACTLY (first
    // character of the cents integer's decimal rendering — never a
    // float log10, whose boundary values differ between engines), the
    // expected shares are the floor(log10(1+1/d)·1e6) ppm literals,
    // and the observed share is one truncating division of
    // non-negative integers. One grouped scan; the channel total via
    // one partitioned window over the ≤27-cell aggregate.
    "q342_benford_digits" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "orders")
        .groupBy(channelCol.as("channel"),
          substring((col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long").cast("string"), 1, 1).cast("long")
            .as("digit"))
        .agg(count(lit(1)).as("n_orders"))
      val wc = Window.partitionBy(col("channel"))
      d.withColumn("n_channel", sum(col("n_orders")).over(wc))
        .select(col("channel"), col("digit"), col("n_orders"),
          expr("CAST(n_orders * 1000000 div n_channel AS BIGINT)")
            .as("obs_ppm"),
          expr("""CAST(element_at(array(301029, 176091, 124938, 96910,
                  79181, 66946, 57991, 51152, 45757),
                  CAST(digit AS INT)) AS BIGINT)""").as("benford_ppm"))
        .withColumn("dev_ppm", abs(col("obs_ppm") - col("benford_ppm")))
        .orderBy(col("channel"), col("digit"))
    },

    // BASKET-SIZE BANDS per channel (TPC-DS Q73/Q34's frequent-shopper
    // shape on this schema): orders banded by line count — the order
    // profile a fulfillment planner reads (is the web channel the
    // single-line channel?). The per-order count is one fact
    // aggregate; banding and shares run on the ORDER-grain relation
    // (bands bounded: TPC-H orders carry ≤ ~13 lines), the share is a
    // truncating division of non-negative integers, and the channel
    // total rides one partitioned window over the ≤9-cell band grid.
    // SCOPE: the universe is LINEITEM-BACKED orders (the generated
    // data carries a small population of line-less orders — ~1.7% at
    // sf0.01 — which have no basket to band; share_ppm reads "share of
    // the channel's baskets", not of its order headers).
    "q343_basket_size_bands" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val per = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
        .select(channelCol(col("l_orderkey")).as("channel"),
          expr("""CASE WHEN n_lines <= 3 THEN '1-3'
                  WHEN n_lines <= 7 THEN '4-7'
                  ELSE '8+' END""").as("band"),
          col("n_lines"))
      val cells = per.groupBy(col("channel"), col("band"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("n_lines")).as("n_lines"))
      val wc = Window.partitionBy(col("channel"))
      cells.withColumn("n_channel", sum(col("n_orders")).over(wc))
        .select(col("channel"), col("band"), col("n_orders"),
          col("n_lines").cast("long").as("n_lines"),
          expr("CAST(n_orders * 1000000 div n_channel AS BIGINT)")
            .as("share_ppm"))
        .orderBy(col("channel"), col("band"))
    },

    // COHORT RETENTION GRID: customers grouped by their FIRST order
    // month, tracked by months-since-cohort — the acquisition-quality
    // curve every growth team reads (do 1996 cohorts return at the
    // same rate as 1997's?). The cohort assignment is one window MIN
    // partitioned by customer (row-scale key — linear), activity
    // dedups to (customer, cohort, offset) once, and the grid is
    // bounded by the calendar squared (≤ 80×80 cells); the k = 0
    // column IS the cohort size (a customer's first month is an
    // active month), read back via one partitioned window over the
    // grid, never a join. Retention is exact ppm, non-negative
    // truncating division.
    "q344_cohort_retention" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val om = t(s, dir, "orders")
        .select(col("o_custkey"), monthIdxCol.as("mi"))
      val wCust = Window.partitionBy(col("o_custkey"))
      val grid = om
        .withColumn("cohort", min(col("mi")).over(wCust))
        .select(col("o_custkey"), col("cohort"),
          (col("mi") - col("cohort")).as("k"))
        .distinct()
        .groupBy(col("cohort"), col("k"))
        .agg(count(lit(1)).as("n_active"))
      val wCohort = Window.partitionBy(col("cohort"))
      grid
        .withColumn("n_cohort",
          max(when(col("k") === 0, col("n_active"))).over(wCohort))
        .select(col("cohort"), col("k"), col("n_active"),
          col("n_cohort"),
          expr("CAST(n_active * 1000000 div n_cohort AS BIGINT)")
            .as("retention_ppm"))
        .orderBy(col("cohort"), col("k"))
    },

    // Web-vs-store cumulative crossover (TPC-DS Q51 shape): per brand,
    // the first 1997 month where the WEB channel's cumulative revenue
    // overtakes the STORE channel's. The DS signature moves intact: two
    // windowed cumulative series, FULL OUTER joined on (brand, month) —
    // a month may exist in only one channel — then gap-filled with a
    // running MAX (cumulatives are nondecreasing, so max-fill is
    // last-known-value) before the comparison. All windows partition by
    // brand over the MONTH-grain aggregate (≤12 rows per series), never
    // line rows; revenue stays exact e4 fixed-point. First crossing via
    // one struct-min aggregate, no second ranking pass.
    "q286_web_store_crossover" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val m = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1997)
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          channelCol(col("l_orderkey")).as("channel"),
          month(col("l_shipdate")).as("mo"), revE4.as("rev"))
        .filter(col("channel").isin("web", "store"))
        .groupBy(col("p_brand"), col("channel"), col("mo"))
        .agg(sum(col("rev")).as("m_e4"))
      val cumeW = Window.partitionBy(col("p_brand")).orderBy(col("mo"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def series(ch: String, out: String): DataFrame =
        m.filter(col("channel") === ch)
          .withColumn(out, sum(col("m_e4")).over(cumeW))
          .select(col("p_brand"), col("mo"), col(out))
      series("web", "w_raw")
        .join(series("store", "s_raw"), Seq("p_brand", "mo"),
          "full_outer")
        .withColumn("web_cume", max(col("w_raw")).over(cumeW))
        .withColumn("store_cume", max(col("s_raw")).over(cumeW))
        .filter(col("web_cume") > col("store_cume"))
        .groupBy(col("p_brand"))
        .agg(min(struct(col("mo"), col("web_cume"),
          col("store_cume"))).as("f"))
        .select(col("p_brand"),
          col("f.mo").as("crossover_month"),
          col("f.web_cume").cast("long").as("web_cume_e4"),
          col("f.store_cume").cast("long").as("store_cume_e4"))
        .orderBy(col("p_brand"))
    },

    // Two-ended performance rank (TPC-DS Q44 shape): the top-5 and
    // bottom-5 parts by average order quantity, paired rank-for-rank —
    // DS Q44's best/worst report. Averages are exact e6 fixed point
    // (qty_e2 · 1e4 div n, both operands non-negative ⇒ trunc ≡ floor),
    // so the ordering is integral and deterministic (partkey
    // tie-break). Scale shape: the fact is touched ONCE for the
    // per-part aggregate; both ends come off that PART-scale relation
    // via orderBy+limit (TakeOrderedAndProject — a per-partition top-5
    // + 5-row merge, never a global sort), and the rank pairing windows
    // over 5 rows.
    "q304_best_worst_parts" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val avgs = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(
          sum((col("l_quantity").cast("decimal(12,2)") * lit(100))
            .cast("decimal(38,0)")).as("qty_e2"),
          count(lit(1)).as("n"))
        .select(col("l_partkey"),
          expr("CAST(qty_e2 * 10000 div n AS BIGINT)").as("avg_e6"))
      def ranked(w: Column, part: String, avg: String): DataFrame =
        avgs.orderBy(w, col("l_partkey")).limit(5)
          .withColumn("rk", row_number().over(
            Window.orderBy(w, col("l_partkey"))))
          .select(col("rk").cast("long").as("rk"),
            col("l_partkey").cast("long").as(part),
            col("avg_e6").as(avg))
      ranked(col("avg_e6").desc, "best_part", "best_avg_e6")
        .join(ranked(col("avg_e6").asc, "worst_part", "worst_avg_e6"),
          "rk")
        .orderBy(col("rk"))
    },

    // TOP-K WITH "OTHERS" ROLLUP: per region, the top-3 revenue
    // nations as named rows and EVERYTHING ELSE folded into one
    // conservation-preserving OTHERS row — the reporting shape a bare
    // top-k breaks (its page no longer sums to the total, so shares
    // drawn from it silently lie). One aggregate to the bounded
    // (region × nation) grid, a per-region rank window over it, one
    // re-aggregate; shares in truncating ppm of the region total.
    "q374_topk_with_others" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val rev = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(sum(centsCol.cast("decimal(38,0)")).as("cents"))
      val wRk = Window.partitionBy(col("region"))
        .orderBy(col("cents").desc, col("nation"))
      val folded = rev.withColumn("rk", row_number().over(wRk))
        .select(col("region"),
          when(col("rk") <= 3, col("nation")).otherwise(lit("OTHERS"))
            .as("bucket"),
          col("cents"))
        .groupBy(col("region"), col("bucket"))
        .agg(count(lit(1)).as("n_nations"), sum(col("cents")).as("c"))
      val wTot = Window.partitionBy(col("region"))
      folded
        .withColumn("region_total", sum(col("c")).over(wTot))
        .select(col("region"), col("bucket"), col("n_nations"),
          col("c").cast("long").as("rev_cents"),
          expr("CAST(c * 1000000 div region_total AS BIGINT)")
            .as("share_ppm"))
        .orderBy(col("region"), col("rev_cents").desc, col("bucket"))
    })

  val oracles: Map[String, String] = Map(

    "q374_topk_with_others" ->
      s"""WITH rev AS (SELECT r_name AS region, n_name AS nation,
             SUM($CentsSql) AS cents
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2),
         rk AS (SELECT region, nation, cents,
             ROW_NUMBER() OVER (PARTITION BY region
               ORDER BY cents DESC, nation) AS rk
           FROM rev),
         f AS (SELECT region,
             CASE WHEN rk <= 3 THEN nation ELSE 'OTHERS' END AS bucket,
             COUNT(*) AS n_nations, SUM(cents) AS c
           FROM rk GROUP BY 1, 2),
         tt AS (SELECT region, SUM(c) AS region_total FROM f GROUP BY 1)
         SELECT f.region, f.bucket,
           CAST(f.n_nations AS BIGINT) AS n_nations,
           CAST(f.c AS BIGINT) AS rev_cents,
           CAST(f.c * 1000000 // tt.region_total AS BIGINT)
             AS share_ppm
         FROM f JOIN tt USING (region)
         ORDER BY region, rev_cents DESC, bucket""",

    "q249_rollup_level_topk" ->
      s"""WITH cells AS (SELECT p_brand, p_size // 10 AS size_bucket,
           COUNT(*) AS n_lines, SUM($RevE4Sql) AS r_e4
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY ROLLUP (p_brand, size_bucket)),
         lv AS (SELECT
             (CASE WHEN p_brand IS NULL THEN 2 ELSE 0 END +
              CASE WHEN size_bucket IS NULL THEN 1 ELSE 0 END) AS lvl,
             COALESCE(p_brand, 'ALL') AS p_brand,
             COALESCE(size_bucket, -1) AS size_bucket, n_lines, r_e4
           FROM cells),
         rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lvl
             ORDER BY r_e4 DESC, p_brand, size_bucket) AS rk
           FROM lv)
         SELECT p_brand, size_bucket, CAST(lvl AS INT) AS lvl, n_lines,
           CAST(r_e4 AS BIGINT) AS rev_e4, CAST(rk AS INT) AS rk
         FROM rk WHERE rk <= 3 ORDER BY lvl, rk""",

    "q250_cross_channel_parts" ->
      s"""WITH f AS (SELECT $ChannelSql AS channel, l_partkey,
           $RevE4Sql AS rev_e4
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         per AS (SELECT l_partkey, COUNT(DISTINCT channel) AS n_ch,
             COUNT(*) AS n_lines, SUM(rev_e4) AS r_e4
           FROM f GROUP BY 1)
         SELECT p_brand, COUNT(*) AS n_parts,
           CAST(SUM(n_lines) AS BIGINT) AS n_lines,
           CAST(SUM(r_e4) AS BIGINT) AS rev_e4
         FROM per JOIN part ON l_partkey = p_partkey
         WHERE n_ch = 3 GROUP BY 1 ORDER BY 1""",

    "q240_channel_sales_rollup" ->
      s"""WITH f AS (SELECT $ChannelSql AS channel, o_orderstatus,
           $RevE4Sql AS rev_e4, l_returnflag = 'R' AS is_return
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         SELECT COALESCE(channel, 'ALL') AS channel,
           COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
           COUNT(*) AS n_lines,
           CAST(SUM(rev_e4) AS BIGINT) AS sales_e4,
           CAST(SUM(CASE WHEN is_return THEN rev_e4 ELSE 0 END)
             AS BIGINT) AS returns_e4
         FROM f GROUP BY ROLLUP (channel, o_orderstatus)
         ORDER BY channel, o_orderstatus""",

    "q241_brand_size_grouping_sets" ->
      s"""WITH f AS (SELECT p_brand, p_size // 10 AS size_bucket,
           CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS HUGEINT)
             AS qty_e2,
           $RevE4Sql AS rev_e4
         FROM lineitem JOIN part ON l_partkey = p_partkey)
         SELECT COALESCE(p_brand, 'ALL') AS p_brand,
           COALESCE(size_bucket, -1) AS size_bucket,
           COUNT(*) AS n_lines,
           CAST(SUM(qty_e2) AS BIGINT) AS qty_e2,
           CAST(SUM(rev_e4) AS BIGINT) AS rev_e4
         FROM f GROUP BY GROUPING SETS ((p_brand, size_bucket),
           (p_brand), (size_bucket), ())
         ORDER BY p_brand, size_bucket""",

    "q242_channel_yoy" ->
      s"""WITH f AS (SELECT $ChannelSql AS channel,
           year(o_orderdate) AS order_year, $RevE4Sql AS rev_e4
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         y AS (SELECT channel, order_year, SUM(rev_e4) AS rev_e4
           FROM f GROUP BY 1, 2)
         SELECT cur.channel, cur.order_year,
           CAST(cur.rev_e4 AS BIGINT) AS rev_e4,
           CAST(prv.rev_e4 AS BIGINT) AS prev_rev_e4,
           CAST(cur.rev_e4 * 1000000 // prv.rev_e4 AS BIGINT) AS yoy_ppm
         FROM y cur JOIN y prv
           ON cur.channel = prv.channel
           AND cur.order_year = prv.order_year + 1
         ORDER BY cur.channel, cur.order_year""",

    "q244_brand_bucket_topk" ->
      s"""WITH cells AS (SELECT p_brand, p_size // 10 AS size_bucket,
           COUNT(*) AS n_lines, SUM($RevE4Sql) AS r_e4
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1, 2),
         rk AS (SELECT p_brand, size_bucket, n_lines, r_e4,
             ROW_NUMBER() OVER (PARTITION BY p_brand
               ORDER BY r_e4 DESC, size_bucket) AS rk
           FROM cells)
         SELECT p_brand, size_bucket, n_lines,
           CAST(r_e4 AS BIGINT) AS rev_e4, CAST(rk AS INT) AS rk
         FROM rk WHERE rk <= 3 ORDER BY p_brand, rk""",

    "q245_channel_crossover" ->
      s"""WITH daily AS (SELECT $ChannelSql AS channel,
           CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
             AS HUGEINT)) AS d_e2
         FROM orders GROUP BY 1, 2),
         cum AS (SELECT channel, day,
             SUM(d_e2) OVER (PARTITION BY channel ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_e2
           FROM daily)
         SELECT strftime(s.day, '%Y-%m-%d') AS day,
           CAST(s.cum_e2 AS BIGINT) AS store_cum_e2,
           CAST(w.cum_e2 AS BIGINT) AS web_cum_e2,
           w.cum_e2 > s.cum_e2 AS web_leads
         FROM cum s JOIN cum w ON s.day = w.day
         WHERE s.channel = 'store' AND w.channel = 'web'
         ORDER BY s.day""",

    "q247_channel_exclusive" ->
      s"""WITH pc AS (SELECT o_custkey,
           COUNT(DISTINCT $ChannelSql) AS n_channels,
           MAX($ChannelSql) AS only_channel,
           SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
             AS HUGEINT)) AS spend_e2
         FROM orders GROUP BY 1 HAVING COUNT(DISTINCT $ChannelSql) = 1)
         SELECT only_channel AS channel, c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(spend_e2) AS BIGINT) AS spend_e2
         FROM customer JOIN pc ON c_custkey = o_custkey
         GROUP BY 1, 2 ORDER BY channel, c_mktsegment""",

    "q248_hour_band_matrix" -> {
      val cols = (0 until 8).flatMap { b =>
        Seq(
          s"""CAST(SUM(CASE WHEN band = $b AND is_purchase
               THEN 1 ELSE 0 END) AS BIGINT) AS buy_h$b""",
          s"""CAST(SUM(CASE WHEN band = $b AND NOT is_purchase
               THEN 1 ELSE 0 END) AS BIGINT) AS other_h$b""")
      }.mkString(",\n           ")
      s"""WITH e AS (SELECT hour(ts) // 3 AS band,
           event_type = 'purchase' AS is_purchase FROM events)
         SELECT $cols,
           COUNT(*) AS n_events
         FROM e"""
    },

    "q243_cross_channel_customers" ->
      s"""WITH oc AS (SELECT DISTINCT o_custkey,
           $ChannelSql AS channel FROM orders),
         loyal AS (SELECT o_custkey FROM oc GROUP BY 1
           HAVING COUNT(DISTINCT channel) = 3)
         SELECT c_mktsegment, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT)
             AS acctbal_e2
         FROM customer JOIN loyal ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY c_mktsegment""",

    "q252_channel_growth" ->
      s"""WITH f AS (SELECT o_custkey, $ChannelSql AS channel,
           year(o_orderdate) AS yr, $RevE4Sql AS rev_e4
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE year(o_orderdate) IN (1996, 1997)),
         per AS (SELECT o_custkey, channel,
             CAST(SUM(CASE WHEN yr = 1996 THEN rev_e4 ELSE 0 END)
               AS BIGINT) AS r94,
             CAST(SUM(CASE WHEN yr = 1997 THEN rev_e4 ELSE 0 END)
               AS BIGINT) AS r95
           FROM f GROUP BY 1, 2),
         g AS (SELECT o_custkey, channel,
             (r95 * 1000000) // r94 AS growth_ppm
           FROM per WHERE r94 > 0)
         SELECT w.o_custkey,
           w.growth_ppm AS web_growth_ppm,
           s.growth_ppm AS store_growth_ppm,
           w.growth_ppm - s.growth_ppm AS growth_gap_ppm
         FROM g w JOIN g s ON w.o_custkey = s.o_custkey
         WHERE w.channel = 'web' AND s.channel = 'store'
           AND w.growth_ppm > s.growth_ppm
         ORDER BY growth_gap_ppm DESC, w.o_custkey LIMIT 20""",

    "q253_weekday_shift" ->
      s"""WITH f AS (SELECT $ChannelSql AS channel,
           CAST(dayofweek(o_orderdate) AS INT) AS dow,
           year(o_orderdate) AS yr, $RevE4Sql AS rev_e4
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE year(o_orderdate) IN (1996, 1997)),
         m AS (SELECT channel, dow,
             CAST(SUM(CASE WHEN yr = 1996 THEN rev_e4 ELSE 0 END)
               AS BIGINT) AS rev94_e4,
             CAST(SUM(CASE WHEN yr = 1997 THEN rev_e4 ELSE 0 END)
               AS BIGINT) AS rev95_e4
           FROM f GROUP BY 1, 2)
         SELECT channel, dow, rev94_e4, rev95_e4,
           (rev95_e4 * 1000000) // rev94_e4 AS yoy_ppm
         FROM m WHERE rev94_e4 > 0 ORDER BY channel, dow""",

    "q260_return_ratio_rank" ->
      s"""WITH f AS (SELECT $ChannelSql AS channel, l_partkey,
           $RevE4Sql AS rev_e4, l_returnflag = 'R' AS is_return
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         per AS (SELECT channel, l_partkey,
             CAST(SUM(rev_e4) AS BIGINT) AS sales_e4,
             CAST(SUM(CASE WHEN is_return THEN rev_e4 ELSE 0 END)
               AS BIGINT) AS returns_e4
           FROM f GROUP BY 1, 2),
         r AS (SELECT *, (returns_e4 * 1000000) // sales_e4
               AS return_ppm
           FROM per WHERE sales_e4 > 0 AND returns_e4 > 0),
         rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY channel
             ORDER BY return_ppm DESC, l_partkey) AS rk FROM r)
         SELECT channel, l_partkey, sales_e4, returns_e4,
           CAST(return_ppm AS BIGINT) AS return_ppm,
           CAST(rk AS INT) AS rk
         FROM rk WHERE rk <= 5 ORDER BY channel, rk""",

    "q261_hot_part_suppliers" ->
      """WITH li AS (SELECT l_partkey, l_suppkey,
           year(l_shipdate) AS ship_yr,
           CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS HUGEINT)
             AS qty_e2
         FROM lineitem),
         hot AS (SELECT l_partkey,
             CAST(SUM(qty_e2) AS BIGINT) AS q_all,
             CAST(SUM(CASE WHEN ship_yr = 1997 THEN qty_e2 ELSE 0 END)
               AS BIGINT) AS q_1997
           FROM li GROUP BY 1
           HAVING q_1997 * 4 > q_all)
         SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_hot_parts,
           CAST(SUM(qty_e2) AS BIGINT) AS hot_qty_e2
         FROM li JOIN hot USING (l_partkey)
         GROUP BY 1 ORDER BY n_hot_parts DESC, l_suppkey LIMIT 20""",

    "q269_silent_store_buyers" ->
      s"""WITH sb AS (SELECT DISTINCT o_custkey AS c_custkey
           FROM orders WHERE $ChannelSql = 'store'),
         -- user_id IS NOT NULL keeps NOT IN three-valued-safe: one NULL
         -- key would turn every NOT IN into UNKNOWN (zero rows) while
         -- the engine's anti-join just ignores null keys
         pe AS (SELECT DISTINCT user_id AS c_custkey FROM events
           WHERE event_type = 'purchase' AND user_id IS NOT NULL)
         SELECT n_name, c_mktsegment, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT)
             AS acctbal_e2,
           CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT)
             AS min_acctbal_e2,
           CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT)
             AS max_acctbal_e2
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_custkey IN (SELECT c_custkey FROM sb)
           AND c_custkey NOT IN (SELECT c_custkey FROM pe)
         GROUP BY 1, 2 ORDER BY n_name, c_mktsegment""",

    "q270_demographic_activity" ->
      """WITH buyers AS (SELECT DISTINCT o_custkey AS c_custkey
           FROM orders),
         eventers AS (SELECT DISTINCT user_id AS c_custkey FROM events),
         purchasers AS (SELECT DISTINCT user_id AS c_custkey,
             CAST(1 AS BIGINT) AS is_purchaser
           FROM events WHERE event_type = 'purchase')
         SELECT n_name, c_mktsegment, COUNT(*) AS n_customers,
           CAST(SUM(COALESCE(is_purchaser, 0)) AS BIGINT)
             AS n_purchasers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT)
             AS acctbal_e2
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN purchasers USING (c_custkey)
         WHERE c_custkey IN (SELECT c_custkey FROM buyers)
           AND c_custkey IN (SELECT c_custkey FROM eventers)
         GROUP BY 1, 2 ORDER BY n_name, c_mktsegment""",

    "q279_brand_monthly_deviation" ->
      s"""WITH f AS (SELECT p_brand,
           ${channelSql("l_orderkey")} AS channel,
           year(l_shipdate) AS yr, month(l_shipdate) AS mo,
           $RevE4Sql AS rev_e4
         FROM lineitem JOIN part ON l_partkey = p_partkey),
         m AS (SELECT p_brand, channel, yr, mo, SUM(rev_e4) AS m_e4
           FROM f GROUP BY 1, 2, 3, 4),
         w AS (SELECT *,
             SUM(m_e4) OVER (PARTITION BY p_brand, channel, yr) AS ysum,
             COUNT(*) OVER (PARTITION BY p_brand, channel, yr) AS nmo,
             LAG(m_e4) OVER (PARTITION BY p_brand, channel
               ORDER BY yr, mo) AS prev_e4,
             LEAD(m_e4) OVER (PARTITION BY p_brand, channel
               ORDER BY yr, mo) AS next_e4
           FROM m)
         SELECT p_brand, channel, yr, mo,
           CAST(m_e4 AS BIGINT) AS month_rev_e4,
           CAST(ysum // nmo AS BIGINT) AS avg_month_e4,
           CAST(ABS(m_e4 * nmo - ysum) * 1000000 // ysum AS BIGINT)
             AS dev_ppm,
           CAST(COALESCE(prev_e4, -1) AS BIGINT) AS prev_rev_e4,
           CAST(COALESCE(next_e4, -1) AS BIGINT) AS next_rev_e4
         FROM w
         WHERE yr = 1997 AND ysum > 0
           AND ABS(m_e4 * nmo - ysum) * 10 > ysum
         ORDER BY p_brand, channel, mo""",

    "q280_nation_monthly_deviation" ->
      s"""WITH m AS (SELECT n_name,
           year(l_shipdate) AS yr, month(l_shipdate) AS mo,
           SUM($RevE4Sql) AS m_e4
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1, 2, 3),
         w AS (SELECT *,
             SUM(m_e4) OVER (PARTITION BY n_name, yr) AS ysum,
             COUNT(*) OVER (PARTITION BY n_name, yr) AS nmo,
             LAG(m_e4) OVER (PARTITION BY n_name
               ORDER BY yr, mo) AS prev_e4,
             LEAD(m_e4) OVER (PARTITION BY n_name
               ORDER BY yr, mo) AS next_e4
           FROM m),
         off AS (SELECT *,
             CAST(ABS(m_e4 * nmo - ysum) * 1000000 // ysum AS BIGINT)
               AS dev_ppm
           FROM w
           WHERE yr = 1997 AND ysum > 0
             AND ABS(m_e4 * nmo - ysum) * 20 > ysum),
         rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY yr
             ORDER BY dev_ppm DESC, n_name, mo) AS rk FROM off)
         SELECT n_name, yr, mo,
           CAST(m_e4 AS BIGINT) AS month_rev_e4,
           CAST(ysum // nmo AS BIGINT) AS avg_month_e4,
           dev_ppm,
           CAST(COALESCE(prev_e4, -1) AS BIGINT) AS prev_rev_e4,
           CAST(COALESCE(next_e4, -1) AS BIGINT) AS next_rev_e4,
           CAST(rk AS INT) AS rk
         FROM rk WHERE rk <= 25 ORDER BY rk""",

    "q284_frequent_buyer_bands" ->
      """WITH pc AS (SELECT o_custkey, COUNT(*) AS n_orders
           FROM orders GROUP BY 1),
         bands(band, lo, hi) AS (VALUES
           ('B1_1_5', 1, 5), ('B2_6_10', 6, 10),
           ('B3_11_20', 11, 20), ('B4_21_plus', 21, 1000000000))
         SELECT c_mktsegment AS segment, band,
           COUNT(*) AS n_customers,
           CAST(SUM(n_orders) AS BIGINT) AS total_orders
         FROM pc
         JOIN bands ON n_orders BETWEEN lo AND hi
         JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q292_time_band_grid" -> {
      def band(lo: Int): String =
        s"""CAST(SUM(CASE WHEN hour(ts) BETWEEN $lo AND ${lo + 1}
             AND ((event_type = 'purchase' AND value BETWEEN 50 AND 150)
               OR (event_type = 'click' AND value BETWEEN 0 AND 100)
               OR (event_type = 'view' AND value BETWEEN 100 AND 300))
             THEN 1 ELSE 0 END) AS BIGINT)"""
      s"""SELECT
           ${band(8)} AS h08_10, ${band(10)} AS h10_12,
           ${band(12)} AS h12_14, ${band(14)} AS h14_16,
           ${band(16)} AS h16_18, ${band(18)} AS h18_20,
           ${band(20)} AS h20_22, ${band(22)} AS h22_24
         FROM events"""
    },

    "q298_return_outliers" ->
      s"""WITH r AS (SELECT o_custkey, SUM($RevE4Sql) AS ret_e4
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_returnflag = 'R' GROUP BY 1),
         j AS (SELECT c_custkey, c_nationkey, ret_e4,
             SUM(ret_e4) OVER (PARTITION BY c_nationkey) AS nat_sum,
             COUNT(*) OVER (PARTITION BY c_nationkey) AS nat_n
           FROM r JOIN customer ON o_custkey = c_custkey)
         SELECT c_custkey AS cust_key,
           CAST(c_nationkey AS BIGINT) AS nation_key,
           CAST(ret_e4 AS BIGINT) AS returns_e4,
           CAST(ret_e4 * nat_n * 1000000 // GREATEST(nat_sum, 1)
             AS BIGINT) AS vs_avg_ppm
         FROM j WHERE ret_e4 * nat_n * 10 > nat_sum * 12
         ORDER BY vs_avg_ppm DESC, cust_key LIMIT 25""",

    "q297_ampm_ratio" ->
      """WITH agg AS (SELECT
           CAST(SUM(CASE WHEN hour(ts) BETWEEN 8 AND 9
             AND (event_type = 'purchase' OR event_type = 'click')
             AND value <= 200 THEN 1 ELSE 0 END) AS BIGINT)
             AS am_events,
           CAST(SUM(CASE WHEN hour(ts) BETWEEN 20 AND 21
             AND (event_type = 'purchase' OR event_type = 'click')
             AND value <= 200 THEN 1 ELSE 0 END) AS BIGINT)
             AS pm_events
           FROM events)
         SELECT am_events, pm_events,
           CAST(am_events * 1000000 // GREATEST(pm_events, 1)
             AS BIGINT) AS am_pm_ppm
         FROM agg""",

    "q290_theil_sen_trend" ->
      s"""WITH $RankedSlopesSql
         SELECT p_brand, n_pairs, slope_e4 AS trend_e4_per_month
         FROM rk WHERE rk = n_pairs // 2 + 1 ORDER BY p_brand""",

    "q341_slope_quantile_band" ->
      s"""WITH $RankedSlopesSql
         SELECT p_brand, CAST(tau_ppm AS BIGINT) AS tau_ppm, n_pairs,
           slope_e4
         FROM rk CROSS JOIN (VALUES (100000), (500000), (900000))
           taus(tau_ppm)
         WHERE rk = n_pairs * tau_ppm // 1000000 + 1
         ORDER BY p_brand, tau_ppm""",

    "q342_benford_digits" ->
      s"""WITH d AS (SELECT $ChannelSql AS channel,
           CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
             * 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
           COUNT(*) AS n_orders
         FROM orders GROUP BY 1, 2),
         w AS (SELECT channel, digit, n_orders,
             SUM(n_orders) OVER (PARTITION BY channel) AS n_channel
           FROM d),
         s AS (SELECT channel, digit, n_orders,
             CAST(n_orders * 1000000 // n_channel AS BIGINT)
               AS obs_ppm,
             CAST(CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091
               WHEN 3 THEN 124938 WHEN 4 THEN 96910 WHEN 5 THEN 79181
               WHEN 6 THEN 66946 WHEN 7 THEN 57991 WHEN 8 THEN 51152
               WHEN 9 THEN 45757 END AS BIGINT) AS benford_ppm
           FROM w)
         SELECT channel, digit, n_orders, obs_ppm, benford_ppm,
           CAST(abs(obs_ppm - benford_ppm) AS BIGINT) AS dev_ppm
         FROM s ORDER BY channel, digit""",

    "q343_basket_size_bands" ->
      s"""WITH per AS (SELECT l_orderkey, COUNT(*) AS n_lines
           FROM lineitem GROUP BY 1),
         b AS (SELECT ${channelSql("l_orderkey")} AS channel,
             CASE WHEN n_lines <= 3 THEN '1-3'
               WHEN n_lines <= 7 THEN '4-7' ELSE '8+' END AS band,
             COUNT(*) AS n_orders, SUM(n_lines) AS n_lines
           FROM per GROUP BY 1, 2),
         w AS (SELECT channel, band, n_orders, n_lines,
             SUM(n_orders) OVER (PARTITION BY channel) AS n_channel
           FROM b)
         SELECT channel, band, n_orders,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_orders * 1000000 // n_channel AS BIGINT) AS share_ppm
         FROM w ORDER BY channel, band""",

    "q344_cohort_retention" ->
      s"""WITH om AS (SELECT o_custkey, $MonthIdxSql AS mi
         FROM orders),
         c AS (SELECT DISTINCT o_custkey,
             MIN(mi) OVER (PARTITION BY o_custkey) AS cohort,
             mi - MIN(mi) OVER (PARTITION BY o_custkey) AS k
           FROM om),
         g AS (SELECT cohort, k, COUNT(*) AS n_active
           FROM c GROUP BY 1, 2),
         w AS (SELECT cohort, k, n_active,
             MAX(CASE WHEN k = 0 THEN n_active END)
               OVER (PARTITION BY cohort) AS n_cohort
           FROM g)
         SELECT cohort, k, n_active, n_cohort,
           CAST(n_active * 1000000 // n_cohort AS BIGINT)
             AS retention_ppm
         FROM w ORDER BY cohort, k""",

    "q361_brand_share_stability" ->
      s"""WITH yb AS (SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
           p_brand, SUM($RevE4Sql) AS rev_e4
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1, 2),
         sh AS (SELECT p_brand, yr,
             CAST(rev_e4 * 1000000 // GREATEST(SUM(rev_e4)
               OVER (PARTITION BY yr), 1) AS BIGINT) AS share_ppm
           FROM yb)
         SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_years,
           MIN(share_ppm) AS min_share_ppm,
           MAX(share_ppm) AS max_share_ppm,
           MAX(share_ppm) - MIN(share_ppm) AS range_ppm
         FROM sh GROUP BY 1 ORDER BY p_brand""",

    "q362_round_price_bias" ->
      s"""WITH c AS (SELECT $ChannelSql AS channel, $CentsSql AS cents
         FROM orders)
         SELECT channel, COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_whole_dollar,
           CAST(SUM(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT) AS whole_dollar_ppm,
           CAST(SUM(CASE WHEN cents % 10 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_whole_dime,
           CAST(SUM(CASE WHEN cents % 10 = 0 THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT) AS whole_dime_ppm
         FROM c GROUP BY 1 ORDER BY channel""",

    "q357_channel_tv_distance" ->
      s"""WITH $ChannelValsSql,
         tot AS (SELECT CAST(SUM(c_web) AS HUGEINT) AS n_web,
             CAST(SUM(c_store) AS HUGEINT) AS n_store
           FROM vals),
         ag AS (SELECT MAX(n_web) AS n_web, MAX(n_store) AS n_store,
             COUNT(*) AS n_values,
             SUM(abs(CAST(c_web AS HUGEINT) * n_store
               - CAST(c_store AS HUGEINT) * n_web)) AS raw
           FROM vals, tot)
         SELECT CAST(n_web AS BIGINT) AS n_web,
           CAST(n_store AS BIGINT) AS n_store,
           CAST(n_values AS BIGINT) AS n_values,
           CAST(raw AS BIGINT) AS raw_l1,
           CAST(raw * 1000000 // GREATEST(2 * n_web * n_store, 1)
             AS BIGINT) AS tv_ppm
         FROM ag""",

    "q354_discount_lift" ->
      s"""WITH bands AS (SELECT
           CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)
             AS disc_pct,
           COUNT(*) AS n_lines,
           SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
             AS BIGINT)) AS qty_e2,
           SUM($RevE4Sql) AS rev_e4
         FROM lineitem GROUP BY 1),
         m AS (SELECT *, qty_e2 // n_lines AS mean_qty_e2 FROM bands),
         b AS (SELECT *, MAX(CASE WHEN disc_pct = 0 THEN mean_qty_e2
             END) OVER () AS base
           FROM m)
         SELECT disc_pct, n_lines, CAST(qty_e2 AS BIGINT) AS qty_e2,
           CAST(mean_qty_e2 AS BIGINT) AS mean_qty_e2,
           CAST(rev_e4 AS BIGINT) AS rev_e4,
           CAST(mean_qty_e2 * 1000000 // GREATEST(base, 1) AS BIGINT)
             AS lift_vs_full_price_ppm
         FROM b ORDER BY disc_pct""",

    "q346_kruskal_wallis" ->
      s"""WITH ${channelValsSql(Seq("web", "store", "catalog"))},
         r AS (SELECT c_web AS cw, c_store AS cs, c_catalog AS cc,
             c_web + c_store + c_catalog AS ct,
             COALESCE(SUM(c_web + c_store + c_catalog) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prior
           FROM vals),
         m AS (SELECT cw, cs, cc, 2 * prior + ct + 1 AS mr2 FROM r),
         ag AS (SELECT
             CAST(SUM(cw) AS BIGINT) AS n_web,
             CAST(SUM(cs) AS BIGINT) AS n_store,
             CAST(SUM(cc) AS BIGINT) AS n_catalog,
             SUM(CAST(cw AS HUGEINT) * mr2) AS r2w,
             SUM(CAST(cs AS HUGEINT) * mr2) AS r2s,
             SUM(CAST(cc AS HUGEINT) * mr2) AS r2c
           FROM m)
         SELECT n_web, n_store, n_catalog,
           CAST(r2w AS BIGINT) AS ranksum2_web,
           CAST(r2s AS BIGINT) AS ranksum2_store,
           CAST(r2c AS BIGINT) AS ranksum2_catalog,
           CAST(12 * (r2w * r2w // (4 * n_web)
               + r2s * r2s // (4 * n_store)
               + r2c * r2c // (4 * n_catalog)) * 1000000
             // ((n_web + n_store + n_catalog)
               * (n_web + n_store + n_catalog + 1))
             - 3 * (n_web + n_store + n_catalog + 1) * 1000000
             AS BIGINT) AS h_ppm
         FROM ag""",

    "q347_supplier_hhi" ->
      """WITH bs AS (SELECT p_brand, l_suppkey,
           SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
             AS BIGINT)) AS q
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1, 2)
         SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(q AS HUGEINT)) AS BIGINT) AS qty_e2,
           CAST(SUM(CAST(q AS HUGEINT) * q) * 1000000
             // (SUM(CAST(q AS HUGEINT))
               * SUM(CAST(q AS HUGEINT))) AS BIGINT) AS hhi_ppm
         FROM bs GROUP BY 1 ORDER BY p_brand""",

    "q348_seasonal_index" ->
      s"""WITH m AS (SELECT $MonthIdxSql AS mi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
             AS HUGEINT) AS rev
         FROM orders GROUP BY 1),
         w AS (SELECT mi, rev,
             SUM(rev) OVER (ORDER BY mi
               ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS wsum,
             COUNT(*) OVER (ORDER BY mi
               ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS wn,
             MAX(mi) OVER (ORDER BY mi
               ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)
             - MIN(mi) OVER (ORDER BY mi
               ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS wspan
           FROM m),
         r AS (SELECT mi % 12 AS moy,
             CAST(rev * 12000000 // wsum AS BIGINT) AS ratio
           FROM w WHERE wn = 12 AND wspan = 11)
         SELECT moy, CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(ratio) // COUNT(*) AS BIGINT) AS seasonal_ppm
         FROM r GROUP BY 1 ORDER BY moy""",

    "q286_web_store_crossover" ->
      s"""WITH m AS (SELECT p_brand,
           ${channelSql("l_orderkey")} AS channel,
           month(l_shipdate) AS mo, SUM($RevE4Sql) AS m_e4
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE year(l_shipdate) = 1997
           AND ${channelSql("l_orderkey")} IN ('web', 'store')
         GROUP BY 1, 2, 3),
         w AS (SELECT p_brand, mo, SUM(m_e4) OVER (PARTITION BY p_brand
             ORDER BY mo) AS w_raw
           FROM m WHERE channel = 'web'),
         st AS (SELECT p_brand, mo, SUM(m_e4) OVER (PARTITION BY p_brand
             ORDER BY mo) AS s_raw
           FROM m WHERE channel = 'store'),
         f AS (SELECT COALESCE(w.p_brand, st.p_brand) AS p_brand,
             COALESCE(w.mo, st.mo) AS mo, w_raw, s_raw
           FROM w FULL OUTER JOIN st
             ON w.p_brand = st.p_brand AND w.mo = st.mo),
         fl AS (SELECT p_brand, mo,
             MAX(w_raw) OVER (PARTITION BY p_brand ORDER BY mo)
               AS web_cume,
             MAX(s_raw) OVER (PARTITION BY p_brand ORDER BY mo)
               AS store_cume
           FROM f),
         x AS (SELECT p_brand, mo, web_cume, store_cume,
             ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY mo) AS rn
           FROM fl WHERE web_cume > store_cume)
         SELECT p_brand, mo AS crossover_month,
           CAST(web_cume AS BIGINT) AS web_cume_e4,
           CAST(store_cume AS BIGINT) AS store_cume_e4
         FROM x WHERE rn = 1 ORDER BY p_brand""",

    "q304_best_worst_parts" ->
      """WITH per AS (SELECT l_partkey,
           SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
             AS HUGEINT)) AS qty_e2,
           COUNT(*) AS n
         FROM lineitem GROUP BY 1),
         avgs AS (SELECT l_partkey,
             CAST(qty_e2 * 10000 // n AS BIGINT) AS avg_e6
           FROM per),
         best AS (SELECT ROW_NUMBER() OVER
               (ORDER BY avg_e6 DESC, l_partkey) AS rk,
             l_partkey AS best_part, avg_e6 AS best_avg_e6
           FROM avgs),
         worst AS (SELECT ROW_NUMBER() OVER
               (ORDER BY avg_e6 ASC, l_partkey) AS rk,
             l_partkey AS worst_part, avg_e6 AS worst_avg_e6
           FROM avgs)
         SELECT CAST(b.rk AS BIGINT) AS rk,
           CAST(b.best_part AS BIGINT) AS best_part, b.best_avg_e6,
           CAST(w.worst_part AS BIGINT) AS worst_part, w.worst_avg_e6
         FROM best b JOIN worst w USING (rk)
         WHERE b.rk <= 5 ORDER BY rk""",

    "q320_yoy_growth_leaders" ->
      """WITH sp AS (SELECT o_custkey,
           SUM(CASE WHEN year(o_orderdate) = 1996
             THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
               AS HUGEINT) END) AS s96,
           SUM(CASE WHEN year(o_orderdate) = 1997
             THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
               AS HUGEINT) END) AS s97
         FROM orders WHERE year(o_orderdate) IN (1996, 1997)
         GROUP BY 1
         HAVING s96 IS NOT NULL AND s97 IS NOT NULL)
         SELECT CAST(o_custkey AS BIGINT) AS cust_key,
           c.c_mktsegment AS segment,
           CAST(s96 AS BIGINT) AS spend96_e2,
           CAST(s97 AS BIGINT) AS spend97_e2,
           CAST(s97 * 1000000 // GREATEST(s96, 1) AS BIGINT)
             AS growth_ppm
         FROM sp JOIN customer c ON sp.o_custkey = c.c_custkey
         ORDER BY growth_ppm DESC, cust_key LIMIT 20""",

    "q321_weekly_ratio" ->
      """WITH wk AS (SELECT CAST(c.c_nationkey AS BIGINT)
             AS nation_key,
           CAST(weekofyear(o_orderdate) AS BIGINT) AS wk,
           SUM(CASE WHEN year(o_orderdate) = 1996
             THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
               AS HUGEINT) END) AS r96,
           SUM(CASE WHEN year(o_orderdate) = 1997
             THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
               AS HUGEINT) END) AS r97
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE year(o_orderdate) IN (1996, 1997)
           AND weekofyear(o_orderdate) BETWEEN 2 AND 51
         GROUP BY 1, 2
         HAVING r96 IS NOT NULL AND r97 IS NOT NULL),
         rt AS (SELECT nation_key, wk,
             CAST(r97 * 1000000 // GREATEST(r96, 1) AS BIGINT)
               AS ratio_ppm
           FROM wk),
         rk AS (SELECT nation_key, wk, ratio_ppm,
             ROW_NUMBER() OVER (PARTITION BY nation_key
               ORDER BY ratio_ppm DESC, wk) AS rb,
             ROW_NUMBER() OVER (PARTITION BY nation_key
               ORDER BY ratio_ppm ASC, wk) AS rw
           FROM rt)
         SELECT nation_key, CAST(COUNT(*) AS BIGINT) AS n_weeks,
           MAX(CASE WHEN rb = 1 THEN wk END) AS best_week,
           MAX(CASE WHEN rb = 1 THEN ratio_ppm END)
             AS best_ratio_ppm,
           MAX(CASE WHEN rw = 1 THEN wk END) AS worst_week,
           MAX(CASE WHEN rw = 1 THEN ratio_ppm END)
             AS worst_ratio_ppm
         FROM rk GROUP BY 1 ORDER BY nation_key""",

    "q328_ks_channel_values" ->
      s"""WITH $ChannelValsSql,
         $ChannelCumSql,
         tot AS (SELECT CAST(SUM(c_web) AS HUGEINT) AS n_web,
             CAST(SUM(c_store) AS HUGEINT) AS n_store
           FROM vals),
         dv AS (SELECT v, n_web, n_store,
             ABS(CAST(cw AS HUGEINT) * n_store
               - CAST(cs AS HUGEINT) * n_web) AS dev
           FROM cum, tot),
         pick AS (SELECT * FROM dv ORDER BY dev DESC, v LIMIT 1)
         SELECT CAST(n_web AS BIGINT) AS n_web,
           CAST(n_store AS BIGINT) AS n_store,
           v AS ks_at_cents,
           CAST(dev * 1000000 // GREATEST(n_web * n_store, 1)
             AS BIGINT) AS ks_ppm
         FROM pick""",

    "q332_supplier_breadth" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey
           FROM lineitem),
         keep AS (SELECT ps.l_partkey, ps.l_suppkey FROM ps
           WHERE ps.l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000))
         SELECT p.p_brand, CAST(p.p_size // 10 AS BIGINT) AS size_band,
           CAST(COUNT(DISTINCT k.l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(COUNT(DISTINCT k.l_partkey) AS BIGINT) AS n_parts
         FROM keep k JOIN part p ON k.l_partkey = p.p_partkey
         GROUP BY 1, 2 ORDER BY p_brand, size_band""",

    "q334_brand_affinity" ->
      """WITH ob AS (SELECT DISTINCT l.l_orderkey AS o,
           p.p_brand AS b
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         marg AS (SELECT b, COUNT(*) AS n_b FROM ob GROUP BY 1),
         tot AS (SELECT COUNT(DISTINCT o) AS n_orders FROM ob),
         pr AS (SELECT a.b AS brand_a, c.b AS brand_b,
             COUNT(*) AS n_ab
           FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
           GROUP BY 1, 2)
         SELECT pr.brand_a, pr.brand_b,
           CAST(pr.n_ab AS BIGINT) AS n_ab,
           CAST(ma.n_b AS BIGINT) AS n_a,
           CAST(mb.n_b AS BIGINT) AS n_b,
           CAST(CAST(pr.n_ab AS HUGEINT) * tot.n_orders * 1000000
             // (CAST(ma.n_b AS HUGEINT) * mb.n_b) AS BIGINT)
             AS lift_e6
         FROM pr
         JOIN marg ma ON pr.brand_a = ma.b
         JOIN marg mb ON pr.brand_b = mb.b, tot
         ORDER BY brand_a, brand_b""",

    "q335_weekday_uniformity" ->
      s"""WITH cells AS (SELECT $ChannelSql AS channel,
           CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS BIGINT)
             AS dow,
           COUNT(*) AS o
         FROM orders GROUP BY 1, 2),
         m AS (SELECT channel, dow, o,
             SUM(o) OVER (PARTITION BY channel) AS n
           FROM cells)
         SELECT channel, dow, CAST(o AS BIGINT) AS n_orders,
           CAST(CAST(n AS HUGEINT) * 100 // 7 AS BIGINT)
             AS expected_e2,
           CAST((7 * CAST(o AS HUGEINT) - n)
             * (7 * CAST(o AS HUGEINT) - n) * 1000000
             // (7 * CAST(n AS HUGEINT)) AS BIGINT)
             AS chisq_contrib_e6
         FROM m ORDER BY channel, dow""",

    "q336_whale_share" ->
      """WITH sp AS (SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
             AS BIGINT) AS spend_e2
         FROM orders GROUP BY 1),
         n AS (SELECT COUNT(*) AS n FROM sp),
         r AS (SELECT spend_e2,
             ROW_NUMBER() OVER (ORDER BY spend_e2) AS rn
           FROM sp),
         cut AS (SELECT r.spend_e2 AS p99
           FROM r, n WHERE r.rn = (n.n * 99 + 99) // 100)
         SELECT CAST(MAX(n.n) AS BIGINT) AS n_customers,
           MAX(cut.p99) AS p99_spend_e2,
           CAST(SUM(CASE WHEN sp.spend_e2 > cut.p99 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_whales,
           CAST(SUM(CASE WHEN sp.spend_e2 > cut.p99
             THEN sp.spend_e2 ELSE 0 END) AS BIGINT)
             AS whale_spend_e2,
           CAST(SUM(CASE WHEN sp.spend_e2 > cut.p99
               THEN CAST(sp.spend_e2 AS HUGEINT) ELSE 0 END)
             * 1000000
             // GREATEST(SUM(CAST(sp.spend_e2 AS HUGEINT)), 1)
             AS BIGINT) AS whale_share_ppm
         FROM sp, cut, n""",

    "q337_channel_auc" ->
      s"""WITH $ChannelValsSql,
         $ChannelCumSql,
         tot AS (SELECT CAST(SUM(c_web) AS HUGEINT) AS n_web,
             CAST(SUM(c_store) AS HUGEINT) AS n_store
           FROM vals),
         u AS (SELECT MAX(n_web) AS n_web, MAX(n_store) AS n_store,
             SUM(CAST(c_store AS HUGEINT)
               * (2 * (n_web - cw) + c_web)) AS u2
           FROM cum, tot)
         SELECT CAST(n_web AS BIGINT) AS n_web,
           CAST(n_store AS BIGINT) AS n_store,
           CAST(u2 AS BIGINT) AS u2,
           CAST(u2 * 1000000 // GREATEST(2 * n_web * n_store, 1)
             AS BIGINT) AS auc_ppm
         FROM u""",

    "q339_frequent_item_set" ->
      s"""WITH $PartYearChannelSql,
         py AS (SELECT l_partkey, yr,
             SUM(CASE WHEN channel = 'store' THEN n_orders
               ELSE 0 END) AS store_orders,
             SUM(CASE WHEN channel = 'web' THEN rev_e4
               ELSE CAST(0 AS HUGEINT) END) AS web_rev_e4
           FROM r GROUP BY 1, 2)
         SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN store_orders > 4 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_freq_parts,
           CAST(SUM(CASE WHEN store_orders > 4 THEN web_rev_e4
             ELSE 0 END) AS BIGINT) AS freq_web_rev_e4,
           CAST(SUM(web_rev_e4) AS BIGINT) AS web_rev_e4,
           CAST(SUM(CASE WHEN store_orders > 4 THEN web_rev_e4
               ELSE 0 END) * 1000000
             // GREATEST(SUM(web_rev_e4), 1) AS BIGINT)
             AS freq_web_share_ppm
         FROM py GROUP BY 1 ORDER BY yr""",

    "q340_promo_channel_share" ->
      s"""WITH $PartYearChannelSql
         SELECT yr, channel,
           CAST(COUNT(DISTINCT CASE WHEN p_type = 'PROMO'
             THEN l_partkey END) AS BIGINT) AS n_promo_parts,
           CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_e4
             ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS promo_rev_e4,
           CAST(SUM(rev_e4) AS BIGINT) AS total_rev_e4,
           CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_e4
               ELSE CAST(0 AS HUGEINT) END) * 1000000
             // GREATEST(SUM(rev_e4), 1) AS BIGINT) AS promo_share_ppm
         FROM r GROUP BY 1, 2 ORDER BY yr, channel""")
}
