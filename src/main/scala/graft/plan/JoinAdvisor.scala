package graft.plan

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Quantiles, Sketches}

/** Pre-flight join advisor: composes the engine's own diagnostics —
  * relation sizes, the CMS inner-product join-cardinality bound
  * (q167's estimator) and the hottest-key skew share (q155's profile)
  * — into one strategy recommendation, BEFORE the join runs. At 100 TB
  * the diagnostics are two map passes and two keyed aggregates; the
  * join they advise on may be hours, so this is the cheap probe that
  * decides between broadcast, plain sort-merge, and salted sort-merge
  * (`Salting.saltedJoin`).
  *
  * Thresholds are explicit inputs (defaults mirror Spark's 10 MB
  * autoBroadcastJoinThreshold and a 10% hottest-key share): the advisor
  * is deterministic given its inputs, so its decisions are auditable.
  */
object JoinAdvisor {

  final case class Advice(leftRows: Long, rightRows: Long,
                          joinSizeEst: Long, maxKeyShareL_ppm: Long,
                          maxKeyShareR_ppm: Long, recommendation: String)

  def advise(left: DataFrame, leftKey: String,
             right: DataFrame, rightKey: String,
             broadcastRowLimit: Long = 500000L,
             skewSharePpm: Long = 100000L,
             cmsDepth: Int = 4, cmsHexChars: Int = 3): Advice = {

    def profile(df: DataFrame, key: String): (Long, Long) = {
      val cnts = df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      val row = cnts.agg(sum(col("cnt")).as("total"),
        max(col("cnt")).as("mx")).head()
      if (row.isNullAt(0)) (0L, 0L)
      else (row.getLong(0), row.getLong(1) * 1000000L / row.getLong(0))
    }

    val (lRows, lShare) = profile(left, leftKey)
    val (rRows, rShare) = profile(right, rightKey)
    val est = Sketches.cmsInnerProduct(
        Sketches.countMinValues(left, leftKey, cmsDepth, cmsHexChars),
        Sketches.countMinValues(right, rightKey, cmsDepth, cmsHexChars))
      .head().getLong(0)

    Advice(lRows, rRows, est, lShare, rShare,
      recommend(lRows, rRows, lShare, rShare, broadcastRowLimit,
        skewSharePpm))
  }

  /** The decision tree itself, shared by [[advise]] (which measures its
    * inputs) and [[adviseMeasured]] (whose caller already holds them). */
  private def recommend(lRows: Long, rRows: Long,
      lShare: Long, rShare: Long,
      broadcastRowLimit: Long, skewSharePpm: Long): String =
    if (lRows == 0L || rRows == 0L) "empty_side"
    else if (rRows <= broadcastRowLimit && rRows <= lRows)
      "broadcast_right"
    else if (lRows <= broadcastRowLimit) "broadcast_left"
    else if (lShare > skewSharePpm || rShare > skewSharePpm)
      "sort_merge_salted"
    else "sort_merge"

  /** Strategy from ALREADY-MEASURED stats — the zero-extra-pass entry
    * for callers that hold the relation sizes anyway (the graph
    * iteration loop counts its node and edge checkpoints once before
    * iterating; re-profiling them through [[advise]] would add a CMS
    * pass per call for an estimate the fixed-shape join never uses).
    * Skew shares default to 0 (= "no skew measured"); `joinSizeEst` is
    * −1 to mark it unmeasured. Same decision tree as [[advise]]. */
  def adviseMeasured(leftRows: Long, rightRows: Long,
      maxKeyShareL_ppm: Long = 0L, maxKeyShareR_ppm: Long = 0L,
      broadcastRowLimit: Long = 500000L,
      skewSharePpm: Long = 100000L): Advice =
    Advice(leftRows, rightRows, -1L, maxKeyShareL_ppm, maxKeyShareR_ppm,
      recommend(leftRows, rightRows, maxKeyShareL_ppm, maxKeyShareR_ppm,
        broadcastRowLimit, skewSharePpm))

  /** [[advise]] + execution: the advisor's recommendation actually
    * drives the join it was computed for. The result is row-identical to
    * `left.join(right, Seq(key), joinType)` under every strategy —
    * broadcast and salting change the physical plan, never the rows —
    * so callers adopt the advised plan with no semantic review.
    *
    *  - `broadcast_*`: explicit `broadcast()` hint on the small side
    *    (a hint Spark cannot honor, e.g. broadcast-left under a left
    *    join, silently degrades to sort-merge — still correct).
    *  - `sort_merge_salted`: [[Salting.saltedJoin]] when the SKEWED side
    *    is one salting can fix (left skew, or either side under an inner
    *    join — the sides swap, then columns restore to plain-join
    *    order); otherwise plain sort-merge, where AQE's skew splitting
    *    still applies.
    *  - `sort_merge` / `empty_side`: the plain join.
    */
  def adviseAndJoin(left: DataFrame, right: DataFrame, key: String,
                    joinType: String = "inner",
                    broadcastRowLimit: Long = 500000L,
                    skewSharePpm: Long = 100000L,
                    saltBuckets: Int = 16): (DataFrame, Advice) = {
    val a = advise(left, key, right, key, broadcastRowLimit, skewSharePpm)
    val jt = joinType.toLowerCase.replace("_", "")
    val plainOrder: Seq[String] =
      (key +: (left.columns.filterNot(_ == key) ++
        right.columns.filterNot(_ == key)).toSeq).distinct
    val joined = a.recommendation match {
      case "broadcast_right" =>
        left.join(broadcast(right), Seq(key), joinType)
      case "broadcast_left" =>
        broadcast(left).join(right, Seq(key), joinType)
      case "sort_merge_salted"
          if a.maxKeyShareL_ppm > skewSharePpm && (jt == "inner" ||
            jt == "left" || jt == "leftouter") =>
        Salting.saltedJoin(left, right, Seq(key), joinType, saltBuckets)
      case "sort_merge_salted"
          if jt == "inner" &&
            left.columns.filterNot(_ == key).map(_.toLowerCase)
              .intersect(right.columns.filterNot(_ == key)
                .map(_.toLowerCase)).isEmpty =>
        // right-side skew, inner join: salt the right side, swap back.
        // Guarded on disjoint non-key column names (case-insensitively,
        // matching Spark's default resolution) — the column-order
        // restore selects by name, and a shared name would make THIS
        // strategy throw where every other branch tolerates the
        // duplicate; such inputs fall through to plain sort-merge (AQE
        // skew splitting still applies)
        Salting.saltedJoin(right, left, Seq(key), joinType, saltBuckets)
          .select(plainOrder.map(col): _*)
      case _ => left.join(right, Seq(key), joinType)
    }
    (joined, a)
  }

  /** Multi-column-key advice for the engine's INTERNAL joins (the
    * incremental-update merge): sizes and skew are profiled on the
    * composite key (the join's real grouping unit), the CMS estimate on
    * its rendered form. Null key components collapse in the rendering —
    * fine for ADVICE: null-keyed rows never match in the join either. */
  def adviseKeys(left: DataFrame, right: DataFrame, keys: Seq[String],
                 broadcastRowLimit: Long = 500000L,
                 skewSharePpm: Long = 100000L): Advice = {
    require(keys.nonEmpty)
    def composite(df: DataFrame): DataFrame =
      df.select(concat_ws("\u0001", // unit separator: keeps (ab,c) vs (a,bc) distinct
        keys.map(k => col(k).cast("string")): _*).as("__jk"))
    advise(composite(left), "__jk", composite(right), "__jk",
      broadcastRowLimit, skewSharePpm)
  }

  /** Execute a join under an [[Advice]] already computed (possibly for a
    * nearby relation — e.g. one probe reused across the merge's two
    * anti-joins, whose left sides only shrink). Row-identical to
    * `left.join(right, keys, joinType)` under every strategy. Salting
    * applies to left-preserving joins with LEFT-side skew; broadcast-left
    * needs a right-preserving type; everything else is the plain join,
    * where AQE's skew splitting still applies. */
  def executeAdvised(left: DataFrame, right: DataFrame, keys: Seq[String],
                     joinType: String, a: Advice,
                     skewSharePpm: Long = 100000L,
                     saltBuckets: Int = 16): DataFrame = {
    val jt = joinType.toLowerCase.replace("_", "")
    val leftPreserving = Set("inner", "left", "leftouter", "leftsemi",
      "semi", "leftanti", "anti")(jt)
    a.recommendation match {
      case "broadcast_right" =>
        left.join(broadcast(right), keys, joinType)
      case "broadcast_left" if jt == "inner" || jt == "right" ||
          jt == "rightouter" =>
        broadcast(left).join(right, keys, joinType)
      case "sort_merge_salted"
          if a.maxKeyShareL_ppm > skewSharePpm && leftPreserving =>
        Salting.saltedJoin(left, right, keys, joinType, saltBuckets)
      case _ => left.join(right, keys, joinType)
    }
  }

  /** Quantile view of a key's frequency distribution (feeds the skew
    * report beside the single hottest-key share). */
  def keyQuantiles(df: DataFrame, key: String,
                   pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    Quantiles.exactQuantiles(
      df.groupBy(col(key)).agg(count(lit(1)).as("cnt")),
      "cnt", pcts, bucketWidth = 4L)

  /** One-line JSON for the CLI. */
  def renderJson(a: Advice): String =
    s"""{"left_rows": ${a.leftRows}, "right_rows": ${a.rightRows},""" +
      s""" "join_size_est": ${a.joinSizeEst},""" +
      s""" "max_key_share_l_ppm": ${a.maxKeyShareL_ppm},""" +
      s""" "max_key_share_r_ppm": ${a.maxKeyShareR_ppm},""" +
      s""" "recommendation": "${a.recommendation}"}"""
}
