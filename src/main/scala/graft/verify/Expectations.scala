package graft.verify

import graft.Cut.CutOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations over parquet tables — the
  * generalisation of the reference's staged-data validation rules
  * (NOT NULL scans, precision-overflow range checks, cast probes —
  * `backend_table.py:1209-1505`) into a rule engine a pipeline can run
  * against ANY table: not-null, multi-column uniqueness, accepted
  * values, numeric range, and referential integrity.
  *
  * Scale shape: all single-table rules for one table fold into ONE
  * aggregate pass — each rule is a conditional sum, and uniqueness is
  * `count(keys) − countDistinct(keys)` riding the same aggregate — so a
  * table with k rules costs one scan, not k. Referential rules are the
  * only joins: child-distinct keys (aggregate-scale) left-anti the
  * parent's key column. A table touched by BOTH the aggregate pass and
  * a referential role (child or parent) is read once and shared via a
  * column-pruned lazy `localCheckpoint`, so a whole (rules + FK) suite
  * costs ONE scan per table, not one per role. Violations are COUNTED,
  * not collected; the report relation is rule-scale.
  */
object Expectations {

  sealed trait Rule {
    def id: String
    def table: String
    def ruleType: String
    def columnDesc: String
  }
  final case class NotNull(table: String, column: String) extends Rule {
    val id = s"not_null:$table.$column"
    val ruleType = "not_null"
    val columnDesc: String = column
  }
  final case class Unique(table: String, columns: Seq[String])
      extends Rule {
    val id = s"unique:$table.${columns.mkString("+")}"
    val ruleType = "unique"
    val columnDesc: String = columns.mkString("+")
  }
  final case class AcceptedValues(table: String, column: String,
      values: Seq[String]) extends Rule {
    val id = s"accepted_values:$table.$column"
    val ruleType = "accepted_values"
    val columnDesc: String = column
  }
  /** Inclusive bounds compared in DECIMAL(18,6) fixed-point so the
    * Spark evaluation and any SQL oracle agree exactly. */
  final case class InRange(table: String, column: String,
      loE6: Long, hiE6: Long) extends Rule {
    val id = s"in_range:$table.$column"
    val ruleType = "in_range"
    val columnDesc: String = column
  }
  final case class RefIntegrity(table: String, column: String,
      parentTable: String, parentColumn: String) extends Rule {
    val id = s"ref:$table.$column->$parentTable.$parentColumn"
    val ruleType = "ref_integrity"
    val columnDesc: String = column
  }
  /** Arbitrary-predicate rule (dbt's `expression_is_true`): a row
    * violates unless `predicate` (a SQL boolean expression over the
    * table's columns) evaluates to TRUE — false AND three-valued
    * unknown (NULL) both count as violations, because "is true" is the
    * assertion and unknown isn't true; a predicate that wants to admit
    * NULLs says so explicitly (`x IS NULL OR x > 0`). Rides the same
    * one-pass aggregate fold as the built-ins. The predicate must be
    * ANSI-safe the way the in-range rule is by construction: Spark 4
    * runs ANSI mode, so casts over dirty data belong behind `try_cast`/
    * `try_divide` INSIDE the predicate or the scan aborts instead of
    * counting. `name` is the rule's stable identity (the predicate text
    * may be long and may change formatting). */
  final case class ExpressionIsTrue(table: String, name: String,
      predicate: String) extends Rule {
    val id = s"expression:$table.$name"
    val ruleType = "expression_is_true"
    val columnDesc: String = name
  }
  /** Distribution-DRIFT rule: the column's categorical distribution must
    * stay proportional to a REFERENCE histogram. The violation count is
    * the minimum number of rows that would have to change category for
    * the observed shares to match the reference's — the earth-mover's
    * distance in ROW units (Σ over categories of the positive excess
    * n_obs_v − n_ref_v·N_obs/N_ref, evaluated in exact integral
    * arithmetic: Σ max(0, n_obs_v·N_ref − n_ref_v·N_obs), one
    * truncating division by N_ref at the end). 0 violations = exact
    * proportional agreement, and graded budgets read naturally as
    * "rows of drift tolerated". NULLs are excluded from the observed
    * side (pair with NotNull to forbid them); categories absent from
    * the reference are pure excess. SET-level like [[RefIntegrity]]
    * (it groups, it cannot fold into the per-table aggregate pass);
    * intended for categorical columns — everything downstream of the
    * grouped scan is category-scale. */
  final case class DistributionWithin(table: String, column: String,
      reference: Seq[(String, Long)]) extends Rule {
    require(reference.nonEmpty && reference.forall(_._2 > 0),
      "reference histogram must be non-empty with positive counts")
    require(reference.map(_._1).distinct.size == reference.size,
      "duplicate reference categories")
    val id = s"distribution:$table.$column"
    val ruleType = "distribution_within"
    val columnDesc: String = column
  }

  /** Violation-count column for a single-table rule (NULL counts as a
    * violation for accepted-values/in-range only when the rule says the
    * column must also be non-null — here NULLs are NOT violations of
    * value rules, matching SQL semantics where the predicate is
    * three-valued; pair with an explicit NotNull rule to forbid them). */
  private def violationCol(r: Rule): Column = r match {
    case NotNull(_, c) =>
      sum(col(c).isNull.cast("long"))
    case AcceptedValues(_, c, vs) =>
      sum((col(c).isNotNull &&
        !col(c).cast("string").isin(vs: _*)).cast("long"))
    case r @ InRange(_, c, _, _) =>
      sum((col(c).isNotNull && inRangeViolation(r)).cast("long"))
    case Unique(_, cs) =>
      // SQL uniqueness ignores NULL keys (a UNIQUE constraint admits
      // them; COUNT(DISTINCT col) skips them): rows with ANY null key
      // column are excluded from BOTH sides, so the count matches
      // `COUNT(col) − COUNT(DISTINCT col)` exactly — a bare
      // countDistinct(struct(keys)) would instead count the null key as
      // one more distinct value and diverge on nullable keys. Pair with
      // NotNull to forbid null keys outright.
      {
        val keyed = cs.map(col(_).isNotNull).reduce(_ && _)
        sum(keyed.cast("long")) -
          countDistinct(when(keyed, struct(cs.map(col): _*)))
      }
    case ExpressionIsTrue(_, _, p) =>
      sum((!coalesce(expr(p), lit(false))).cast("long"))
    case _: RefIntegrity | _: DistributionWithin =>
      throw new IllegalArgumentException(
        "set-level rules do not fold into the aggregate pass")
  }

  /** [[DistributionWithin]]'s violation count against one relation:
    * minimum rows to relabel so the observed shares match the
    * reference's. One grouped scan to the category-scale relation,
    * reference and the 1-row total broadcast; exact integral
    * arithmetic (DECIMAL(38,0), single truncating division). */
  private def movedRows(df: DataFrame,
      r: DistributionWithin): Long = {
    val spark = df.sparkSession
    import spark.implicits._
    val nRefTot = r.reference.map(_._2).sum
    val refDf = r.reference.toDF("v", "n_ref")
    val obs = df.filter(col(r.column).isNotNull)
      .groupBy(col(r.column).cast("string").as("v"))
      .agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(coalesce(sum(col("n_obs")), lit(0L)).as("n_tot"))
    obs.join(broadcast(refDf), Seq("v"), "left_outer")
      .na.fill(0L, Seq("n_ref"))
      .crossJoin(broadcast(tot))
      .agg(coalesce(sum(greatest(
          col("n_obs").cast("decimal(38,0)") * lit(nRefTot) -
            col("n_ref").cast("decimal(38,0)") * col("n_tot"),
          lit(0).cast("decimal(38,0)"))),
        lit(0).cast("decimal(38,0)")).as("ex"))
      .select(expr(s"CAST(ex div $nRefTot AS BIGINT)").as("moved"))
      .head.getLong(0)
  }

  /** Range violation via try_cast: a non-null value the decimal cast
    * cannot represent (overflow, non-numeric string) IS a violation —
    * it is exactly the dirty input a range rule exists to catch — and
    * must never abort the scan (Spark 4's ANSI cast would throw). */
  private def inRangeViolation(r: InRange): Column = {
    val v = expr(s"try_cast(`${r.column}` AS DECIMAL(18,6))")
    def bound(e6: Long): Column = lit(new java.math.BigDecimal(
      java.math.BigInteger.valueOf(e6), 6))
    v.isNull || v < bound(r.loE6) || v > bound(r.hiE6)
  }

  /** Row-level violation predicate for a single-table rule — true on
    * rows the rule rejects (the reference's staged-data validation
    * returns OFFENDING ROWS, not just counts:
    * `backend_table.py:1209-1505` raises with them). Uniqueness and
    * referential rules are set-level, not row-level. */
  def violationPredicate(r: Rule): Column = r match {
    case NotNull(_, c) => col(c).isNull
    case AcceptedValues(_, c, vs) =>
      col(c).isNotNull && !col(c).cast("string").isin(vs: _*)
    case ir @ InRange(_, c, _, _) =>
      col(c).isNotNull && inRangeViolation(ir)
    case ExpressionIsTrue(_, _, p) =>
      !coalesce(expr(p), lit(false))
    case other => throw new IllegalArgumentException(
      s"${other.ruleType} is set-level; it has no per-row predicate")
  }

  /** Sample offending rows, `perRule` per rule, deterministically
    * ordered by `keyCols` — each per-rule sample is an
    * orderBy-limit (per-partition top-k + driver merge), never a
    * global sort of the violations. Output:
    * `(rule_id, keyCols…, violating_value)`. */
  def sampleViolations(df: DataFrame, rules: Seq[Rule],
      keyCols: Seq[String], perRule: Int): DataFrame = {
    require(rules.nonEmpty && perRule >= 1)
    rules.map { r =>
      // what to show for the offending row: the rule's column for
      // column rules; the predicate's (false/NULL) evaluation for
      // expression rules, whose columnDesc is a rule NAME, not a column
      val shown = r match {
        case ExpressionIsTrue(_, _, p) => expr(p).cast("string")
        case _ => col(r.columnDesc).cast("string")
      }
      df.filter(violationPredicate(r))
        .select((lit(r.id).as("rule_id") +:
          keyCols.map(col)) :+
          shown.as("violating_value"): _*)
        .orderBy(keyCols.map(col): _*)
        .limit(perRule)
    }.reduce(_ unionByName _)
  }

  /** Columns a rule reads, or None when the read set is not statically
    * known (expression rules reference arbitrary columns inside SQL
    * text — pruning would have to parse it, so the table stays
    * full-width). */
  private def ruleColumns(r: Rule): Option[Seq[String]] = r match {
    case NotNull(_, c) => Some(Seq(c))
    case Unique(_, cs) => Some(cs)
    case AcceptedValues(_, c, _) => Some(Seq(c))
    case InRange(_, c, _, _) => Some(Seq(c))
    case ExpressionIsTrue(_, _, _) => None
    case r: RefIntegrity => Some(Seq(r.column)) // child role
  }

  /** dbt-style graded thresholds riding a rule (`warn_if` / `error_if`
    * counts): a rule may TOLERATE violations — up to `warnAbove` of
    * them silently, up to `errorAbove` with a warning — and only above
    * `errorAbove` does it fail the gate. The defaults (0, 0) are the
    * ungraded semantics exactly: any violation is an error. The
    * reference's staged-data validation aborts on ANY offending row
    * (`backend_table.py:1209-1505`); real pipelines need the graded
    * version (a fact table with three bad rows out of 10¹⁰ should
    * warn, not halt the nightly load). Severity costs nothing extra:
    * the counts come from the same one-pass fold. */
  final case class Graded(rule: Rule, warnAbove: Long = 0L,
      errorAbove: Long = 0L) {
    require(warnAbove >= 0L && errorAbove >= warnAbove,
      s"need 0 <= warnAbove <= errorAbove: ($warnAbove, $errorAbove)")
  }

  private def severity(violations: Long, g: Graded): String =
    if (violations > g.errorAbove) "error"
    else if (violations > g.warnAbove) "warn"
    else "pass"

  /** [[severity]] as a Column expression, for surfaces that grade a
    * persisted count RELATION instead of in-memory counts (the streaming
    * monitor's read-time grading). One definition of the threshold
    * semantics per form, both in this file — change them together. */
  def severityCol(nViolations: Column, warnAbove: Column,
      errorAbove: Column): Column =
    when(nViolations > errorAbove, "error")
      .when(nViolations > warnAbove, "warn")
      .otherwise("pass")

  /** Evaluate `rules` over `load(tableName)`. Returns one row per rule:
    * `(rule_id, rule_type, table_name, column_name, n_rows,
    * n_violations, passed)`, ordered by rule_id.
    *
    * ONE SCAN PER TABLE: a table read by several consumers — its own
    * aggregate pass, a ref rule's child-key distinct, a ref rule's
    * parent-key distinct, the row count a ref-only child needs — is
    * loaded once, PROJECTED to the union of the columns its rules
    * actually read, and shared via a lazy `localCheckpoint` so every
    * consumer reads the same materialised blocks instead of re-scanning
    * the source. The projection keeps the checkpoint rule-column-wide
    * (a 100 TB fact checkpoints only its audited columns); every action
    * completes inside this call, so the checkpoints are released before
    * returning. Single-consumer tables skip the checkpoint entirely —
    * the parquet scan with column pruning is already optimal. */
  def evaluate(spark: SparkSession, load: String => DataFrame,
      rules: Seq[Rule]): DataFrame = {
    import spark.implicits._
    counts(spark, load, rules)
      .toDF("rule_id", "rule_type", "table_name", "column_name",
        "n_rows", "n_violations")
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy(col("rule_id"))
  }

  /** [[evaluate]] with [[Graded]] thresholds: same one-pass counts,
    * two extra columns (`warn_above`, `error_above`) and a `severity`
    * verdict; `passed` becomes "not an error" — a warn-level rule
    * passes the gate but stays visible in the report. */
  def evaluateGraded(spark: SparkSession, load: String => DataFrame,
      graded: Seq[Graded]): DataFrame = {
    import spark.implicits._
    val byId = graded.map(g => g.rule.id -> g).toMap
    counts(spark, load, graded.map(_.rule))
      .map { case (id, tpe, tbl, colD, n, v) =>
        val g = byId(id)
        (id, tpe, tbl, colD, n, v, g.warnAbove, g.errorAbove,
          severity(v, g))
      }
      .toDF("rule_id", "rule_type", "table_name", "column_name",
        "n_rows", "n_violations", "warn_above", "error_above",
        "severity")
      .withColumn("passed", col("severity") =!= "error")
      .orderBy(col("rule_id"))
  }

  /** The shared counting pass: one row of raw counts per rule —
    * `(rule_id, rule_type, table_name, column_name, n_rows,
    * n_violations)` — with the one-scan-per-table sharing described on
    * [[evaluate]]. */
  private def counts(spark: SparkSession, load: String => DataFrame,
      rules: Seq[Rule])
      : Seq[(String, String, String, String, Long, Long)] = {
    require(rules.nonEmpty)
    require(rules.map(_.id).distinct.size == rules.size,
      "duplicate rule ids")
    val (refRulesRaw, rest) =
      rules.partition(_.isInstanceOf[RefIntegrity])
    val refRules = refRulesRaw.collect { case r: RefIntegrity => r }
    val (distRulesRaw, aggRules) =
      rest.partition(_.isInstanceOf[DistributionWithin])
    val distRules =
      distRulesRaw.collect { case d: DistributionWithin => d }
    val aggTables = aggRules.map(_.table).toSet

    // consumers per table: its agg pass, each ref role, each
    // distribution pass, and the row count a set-level rule's table
    // WITHOUT an agg pass must run separately
    val uses = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    aggTables.foreach(t => uses(t) += 1)
    refRules.foreach { r =>
      uses(r.table) += 1; uses(r.parentTable) += 1
    }
    distRules.foreach(r => uses(r.table) += 1)
    (refRules.map(_.table) ++ distRules.map(_.table))
      .distinct.filterNot(aggTables)
      .foreach(t => uses(t) += 1)

    // union of the columns all of a table's consumers read; None =
    // full width (an expression rule is present)
    def neededColumns(table: String): Option[Seq[String]] = {
      val reads: Seq[Option[Seq[String]]] =
        aggRules.filter(_.table == table).map(ruleColumns) ++
          refRules.filter(_.table == table)
            .map(r => Option(Seq(r.column))) ++
          refRules.filter(_.parentTable == table)
            .map(r => Option(Seq(r.parentColumn))) ++
          distRules.filter(_.table == table)
            .map(r => Option(Seq(r.column)))
      if (reads.exists(_.isEmpty)) None
      else Some(reads.flatten.flatten.distinct)
    }

    val shared = scala.collection.mutable.Map.empty[String, DataFrame]
    def rel(table: String): DataFrame =
      shared.getOrElseUpdate(table, {
        val projected = neededColumns(table) match {
          case Some(cs) => load(table).select(cs.map(col): _*)
          case None => load(table)
        }
        if (uses(table) > 1) projected.cut(false)
        else projected
      })

    try {
      // Resolve every table's shared relation up front (plan-building
      // only, no jobs) so the concurrent actions below never touch the
      // mutable `shared` map from two threads.
      (aggRules.map(_.table) ++
        refRules.flatMap(r => Seq(r.table, r.parentTable)) ++
        distRules.map(_.table)).distinct.foreach(rel)
      // The per-table aggregate passes, referential anti-joins and
      // distribution scans are INDEPENDENT Spark actions that were run
      // sequentially — each one's straggler tail left the executors
      // idle (guide §2.6: submit independent jobs from a small thread
      // pool so the next job back-fills the tail). A suite of k tables
      // now costs ~max(scan) wall instead of Σ(scan). Results are
      // collected per future and reassembled in rule order, so the
      // report is unchanged.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        // one aggregate pass per table covering all its single-table
        // rules
        val perTableF = aggRules.groupBy(_.table).toSeq.map {
          case (table, tableRules) => Future {
            val df = rel(table)
            val aggs = count(lit(1)).as("_n_rows") +:
              tableRules.zipWithIndex.map { case (r, i) =>
                violationCol(r).as(s"_v$i")
              }
            val row = df.agg(aggs.head, aggs.tail: _*).head
            (table, row.getAs[Long]("_n_rows"), tableRules, row)
          }
        }
        val perTable =
          perTableF.map(Await.result(_, Duration.Inf))
        val aggReports = perTable.flatMap {
          case (_, n, tableRules, row) =>
            tableRules.zipWithIndex.map { case (r, i) =>
              (r.id, r.ruleType, r.table, r.columnDesc, n,
                row.getAs[Long](s"_v$i"))
            }
        }
        // the agg pass already counted each covered table's rows —
        // reuse them so a ref rule on a covered table costs only its
        // anti-join (row-count fallbacks for uncovered tables run
        // once per table, before the concurrent fan-out)
        val tableRows = scala.collection.mutable.Map(
          perTable.map(t => t._1 -> t._2): _*)
        (refRules.map(_.table) ++ distRules.map(_.table)).distinct
          .foreach(t => tableRows.getOrElseUpdate(t, rel(t).count()))
        val refReportsF = refRules.map { r => Future {
          val child = rel(r.table)
          // distinct child keys first: the anti-join runs at key scale
          val orphans = child.select(col(r.column)).na.drop().distinct()
            .join(rel(r.parentTable)
              .select(col(r.parentColumn).as(r.column)).distinct(),
              Seq(r.column), "left_anti")
          // orphan KEYS are the violation unit (each missing key is one
          // defect regardless of its row multiplicity)
          (r.id, r.ruleType, r.table, r.columnDesc, tableRows(r.table),
            orphans.count())
        }}
        val distReportsF = distRules.map { r => Future {
          val child = rel(r.table)
          (r.id, r.ruleType, r.table, r.columnDesc, tableRows(r.table),
            movedRows(child, r))
        }}
        aggReports ++
          refReportsF.map(Await.result(_, Duration.Inf)) ++
          distReportsF.map(Await.result(_, Duration.Inf))
      } finally {
        // a failed rule rethrows above while its siblings may still be
        // reading the shared checkpoints: let them finish before the
        // outer finally releases that storage under them
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue,
          java.util.concurrent.TimeUnit.NANOSECONDS)
      }
    } finally {
      // every consumer ran its action above; the shared checkpoints
      // have had their last read (the returned report is a local
      // relation, independent of them)
      shared.values.foreach(graft.operators.Graph.release)
    }
  }

  /** Evaluate rules against ONE relation, ignoring the rules' table
    * names (they survive only inside the rule ids): every single-table
    * rule folds into a single aggregate pass over `df` — a rules file
    * naming several tables costs one scan here, not one per name.
    * Referential rules are rejected: with one relation the parent
    * would resolve to the child and the rule would silently always
    * pass. This is the entry point for gates that audit a specific
    * DataFrame (the offload gate, the streaming monitor). */
  def evaluateRelation(spark: SparkSession, df: DataFrame,
      rules: Seq[Rule]): DataFrame = {
    import spark.implicits._
    relationCounts(df, rules)
      .toDF("rule_id", "rule_type", "table_name", "column_name",
        "n_rows", "n_violations")
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy(col("rule_id"))
  }

  /** [[evaluateRelation]] with [[Graded]] thresholds — the gate-facing
    * variant ([[evaluateGraded]]'s schema): `passed` means "not an
    * error", so the offload gate can tolerate warn-level counts while
    * still surfacing them in the report it throws with. */
  def evaluateGradedRelation(spark: SparkSession, df: DataFrame,
      graded: Seq[Graded]): DataFrame = {
    import spark.implicits._
    val byId = graded.map(g => g.rule.id -> g).toMap
    relationCounts(df, graded.map(_.rule))
      .map { case (id, tpe, tbl, colD, n, v) =>
        val g = byId(id)
        (id, tpe, tbl, colD, n, v, g.warnAbove, g.errorAbove,
          severity(v, g))
      }
      .toDF("rule_id", "rule_type", "table_name", "column_name",
        "n_rows", "n_violations", "warn_above", "error_above",
        "severity")
      .withColumn("passed", col("severity") =!= "error")
      .orderBy(col("rule_id"))
  }

  private def relationCounts(df: DataFrame, rules: Seq[Rule])
      : Seq[(String, String, String, String, Long, Long)] = {
    require(rules.nonEmpty)
    require(rules.map(_.id).distinct.size == rules.size,
      "duplicate rule ids")
    val refs = rules.collect { case r: RefIntegrity => r.id }
    require(refs.isEmpty,
      s"referential rules need a distinct parent relation and cannot " +
        s"gate a single relation: ${refs.mkString(", ")}")
    val (distRaw, aggRules) =
      rules.partition(_.isInstanceOf[DistributionWithin])
    val distRules = distRaw.collect { case d: DistributionWithin => d }
    val aggs = count(lit(1)).as("_n_rows") +:
      aggRules.zipWithIndex.map { case (r, i) =>
        violationCol(r).as(s"_v$i")
      }
    val row = df.agg(aggs.head, aggs.tail: _*).head
    val n = row.getAs[Long]("_n_rows")
    aggRules.zipWithIndex.map { case (r, i) =>
      (r.id, r.ruleType, r.table, r.columnDesc, n,
        row.getAs[Long](s"_v$i"))
    } ++ distRules.map(r =>
      // the distribution rule GROUPS, so it cannot ride the fold —
      // one extra category-scale pass over the same relation
      (r.id, r.ruleType, r.table, r.columnDesc, n, movedRows(df, r)))
  }

  /** Parse a JSONL rules file (one rule object per line):
    * `{"type":"not_null","table":"orders","column":"o_custkey"}`
    * `{"type":"unique","table":"orders","columns":["o_orderkey"]}`
    * `{"type":"accepted_values","table":"orders","column":"o_orderstatus","values":["O","F"]}`
    * `{"type":"in_range","table":"lineitem","column":"l_discount","lo_e6":0,"hi_e6":100000}`
    * `{"type":"ref","table":"lineitem","column":"l_orderkey","parent_table":"orders","parent_column":"o_orderkey"}`
    * `{"type":"expression","table":"lineitem","name":"charge_consistent","predicate":"l_extendedprice >= 0 AND l_discount <= 1"}`
    * `{"type":"distribution_within","table":"customer","column":"c_mktsegment","ref_values":["A","B"],"ref_counts":[30,25]}`
    */
  def parseRules(spark: SparkSession, path: String): Seq[Rule] =
    parseGradedRules(spark, path).map(_.rule)

  /** [[parseRules]] with the graded-threshold fields: each JSONL rule
    * may carry `warn_if` and/or `error_if` violation counts
    * (`{"type":"in_range",...,"warn_if":100,"error_if":100000}`).
    * Defaults follow intent, not uniformity: neither field → (0, 0),
    * the strict ungraded gate; only `error_if` → warn on ANY violation,
    * error above the budget; only `warn_if` → the rule can warn but
    * NEVER errors (dbt's severity=warn mode) — an explicit error budget
    * is required to make a tolerated rule fail a gate again. */
  def parseGradedRules(spark: SparkSession, path: String): Seq[Graded] = {
    val rows = spark.read.json(path).collect()
    rows.toSeq.map { row =>
      val rule = parseRule(row)
      // budgets arrive as whatever the JSON reader inferred for the
      // COLUMN (long normally, double or string if any line is sloppy) —
      // coerce integral values, reject the rest with the rule named,
      // so one malformed line can't surface as a bare ClassCastException
      def optLong(f: String): Option[Long] =
        if (!row.schema.fieldNames.contains(f) ||
          row.isNullAt(row.fieldIndex(f))) None
        else Some(row.get(row.fieldIndex(f)) match {
          case n: java.lang.Number
              if n.longValue().toDouble == n.doubleValue() =>
            n.longValue()
          case s: String if s.trim.matches("-?\\d+") => s.trim.toLong
          case other => throw new IllegalArgumentException(
            s"rule ${rule.id}: $f must be an integer count, got '$other'")
        })
      try (optLong("warn_if"), optLong("error_if")) match {
        case (None, None) => Graded(rule)
        case (None, Some(e)) => Graded(rule, 0L, e)
        case (Some(w), None) => Graded(rule, w, Long.MaxValue)
        case (Some(w), Some(e)) => Graded(rule, w, e)
      } catch {
        case ex: IllegalArgumentException
            if !ex.getMessage.startsWith(s"rule ${rule.id}") =>
          throw new IllegalArgumentException(
            s"rule ${rule.id}: ${ex.getMessage}")
      }
    }
  }

  private def parseRule(row: org.apache.spark.sql.Row): Rule = {
    def str(f: String): String = row.getAs[String](f)
    def opt(f: String): Option[String] =
      if (row.schema.fieldNames.contains(f) && !row.isNullAt(
        row.fieldIndex(f))) Some(row.getAs[String](f)) else None
    str("type") match {
      case "not_null" => NotNull(str("table"), str("column"))
      case "unique" => Unique(str("table"),
        row.getAs[scala.collection.Seq[String]]("columns").toSeq)
      case "accepted_values" => AcceptedValues(str("table"),
        str("column"),
        row.getAs[scala.collection.Seq[String]]("values").toSeq)
      case "in_range" => InRange(str("table"), str("column"),
        row.getAs[Long]("lo_e6"), row.getAs[Long]("hi_e6"))
      case "ref" => RefIntegrity(str("table"), str("column"),
        str("parent_table"), str("parent_column"))
      case "expression" => ExpressionIsTrue(str("table"),
        str("name"), str("predicate"))
      case "distribution_within" =>
        val vs = row.getAs[scala.collection.Seq[String]]("ref_values")
          .toSeq
        val cs = row.getSeq[Any](row.fieldIndex("ref_counts")).map {
          case n: java.lang.Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"distribution_within ${str("table")}.${str("column")}: " +
              s"ref_counts must be integers, got '$other'")
        }.toSeq
        require(vs.length == cs.length,
          s"distribution_within ${str("table")}.${str("column")}: " +
            "ref_values and ref_counts lengths differ")
        DistributionWithin(str("table"), str("column"), vs.zip(cs))
      case other =>
        throw new IllegalArgumentException(
          s"unknown rule type: $other${opt("table").fold("")(t => s" (table $t)")}")
    }
  }
}
