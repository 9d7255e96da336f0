package graft.verify

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.verify.Expectations._

/** Rule-engine semantics on synthetic frames with known defects, plus
  * the fixed q257 suite over the star schema. */
class ExpectationsSpec extends SparkSpec {
  import spark.implicits._

  private val dirty = Seq(
    (Some(1L), Some("a"), Some(0.05)),
    (Some(1L), Some("a"), Some(0.20)),   // dup key, out of range
    (None, Some("zz"), Some(0.10)),      // null key, bad value
    (Some(3L), None, None)               // nulls are NOT value violations
  ).toDF("k", "v", "x")

  private val parents = Seq(1L, 2L).toDF("pk")

  test("single-table rules count exactly: nulls, dupes, values, range") {
    val got = evaluate(spark,
      Map("t" -> dirty, "p" -> parents), Seq(
        NotNull("t", "k"),
        Unique("t", Seq("k")),
        AcceptedValues("t", "v", Seq("a", "b")),
        InRange("t", "x", 0L, 100000L)))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_violations"), r.getAs[Boolean]("passed")))
      .toMap
    assert(got("not_null:t.k") === ((1L, false)))
    // 4 rows, 3 distinct key tuples (1, null, 3) -> one excess row
    assert(got("unique:t.k") === ((1L, false)))
    assert(got("accepted_values:t.v") === ((1L, false)))
    assert(got("in_range:t.x") === ((1L, false)))
  }

  test("graded thresholds: exact severity per band — violations above " +
      "errorAbove error, in (warnAbove, errorAbove] warn, at or below " +
      "warnAbove pass; passed means not-an-error") {
    // dirty's range rule has EXACTLY 1 violation (x = 0.20): thresholds
    // straddle that count three ways
    def gradedRange(warn: Long, err: Long) =
      evaluateGraded(spark, Map("t" -> dirty), Seq(
        Graded(InRange("t", "x", 0L, 100000L), warn, err))).head()
    val err = gradedRange(0L, 0L)
    assert(err.getAs[String]("severity") === "error")
    assert(!err.getAs[Boolean]("passed"))
    assert(err.getAs[Long]("n_violations") === 1L)
    val warn = gradedRange(0L, 5L)
    assert(warn.getAs[String]("severity") === "warn")
    assert(warn.getAs[Boolean]("passed"))
    val pass = gradedRange(1L, 5L)
    assert(pass.getAs[String]("severity") === "pass")
    assert(pass.getAs[Boolean]("passed"))
    // defaults are the ungraded semantics: any violation is an error
    val dflt = evaluateGraded(spark, Map("t" -> dirty), Seq(
      Graded(NotNull("t", "k")))).head()
    assert(dflt.getAs[String]("severity") === "error")
    // invalid band ordering is rejected at construction
    intercept[IllegalArgumentException] {
      Graded(NotNull("t", "k"), warnAbove = 5L, errorAbove = 1L)
    }
    // the relation-gate variant shares the schema and semantics
    val rel = Expectations.evaluateGradedRelation(spark, dirty, Seq(
      Graded(InRange("t", "x", 0L, 100000L), 0L, 5L))).head()
    assert(rel.getAs[String]("severity") === "warn" &&
      rel.getAs[Boolean]("passed"))
  }

  test("unique ignores NULL keys on both sides — SQL COUNT(col) − " +
      "COUNT(DISTINCT col) semantics, not struct-distinct") {
    // keys (1, 1, null, null, 3): the two null-keyed rows are NOT
    // violations (a UNIQUE constraint admits them; COUNT(DISTINCT)
    // skips them) — only the duplicated 1 counts. The old
    // count(*) − countDistinct(struct(k)) would have reported 2.
    val df = Seq(Some(1L), Some(1L), None, None, Some(3L)).toDF("k")
    val got = evaluate(spark, Map("t" -> df),
      Seq(Unique("t", Seq("k")))).head
    assert(got.getAs[Long]("n_violations") === 1L)
    // multi-column: a row with ANY null key column is excluded
    val multi = Seq(
      (Some(1L), Some("a")), (Some(1L), Some("a")),  // real dup
      (Some(1L), None), (Some(1L), None),            // null-keyed ×2
      (None, Some("a"))).toDF("k", "v")
    val got2 = evaluate(spark, Map("t" -> multi),
      Seq(Unique("t", Seq("k", "v")))).head
    assert(got2.getAs[Long]("n_violations") === 1L)
  }

  test("expression_is_true: false and three-valued NULL both violate; " +
      "counts are exact and ride the one-pass fold") {
    val df = Seq(
      (Some(5L), Some(10L)),   // 5 <= 10: passes
      (Some(20L), Some(10L)),  // 20 <= 10: false — violation
      (None, Some(10L)),       // NULL <= 10 is unknown — violation
      (Some(1L), None)         // 1 <= NULL is unknown — violation
    ).toDF("a", "b")
    val got = evaluate(spark, Map("t" -> df), Seq(
      ExpressionIsTrue("t", "a_le_b", "a <= b"),
      // a predicate admitting NULLs must say so explicitly
      ExpressionIsTrue("t", "a_le_b_or_null",
        "a IS NULL OR b IS NULL OR a <= b")))
      .collect().map(r => r.getString(0) ->
        r.getAs[Long]("n_violations")).toMap
    assert(got("expression:t.a_le_b") === 3L)
    assert(got("expression:t.a_le_b_or_null") === 1L)
    // the row-level predicate agrees (sampled rows really violate)
    val rows = sampleViolations(df,
      Seq(ExpressionIsTrue("t", "a_le_b", "a <= b")),
      Seq("b"), perRule = 10).collect()
    assert(rows.length === 3)
    assert(rows.forall(r =>
      Option(r.getAs[String]("violating_value")).forall(_ == "false")))
  }

  test("one scan per table: a (rules + FK) suite loads each table " +
      "exactly once, child and parent keys riding the shared read") {
    val counts = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    val tables = Map(
      "c" -> Seq(Some(1L), Some(9L), Some(9L), None).toDF("fk"),
      "p" -> parents)
    val load: String => org.apache.spark.sql.DataFrame = { t =>
      counts(t) += 1; tables(t)
    }
    val out = evaluate(spark, load, Seq(
      NotNull("c", "fk"),
      RefIntegrity("c", "fk", "p", "pk"),
      Unique("p", Seq("pk"))))
    assert(out.count() === 3L)
    assert(counts("c") === 1, "child table loaded more than once")
    assert(counts("p") === 1, "parent table loaded more than once")
  }

  test("in_range survives un-castable values and counts them as " +
      "violations (ANSI cast would abort the scan)") {
    val nasty = Seq("0.05", "N/A", "9999999999999.0", "0.2")
      .toDF("x")
    val got = evaluate(spark, Map("t" -> nasty),
      Seq(InRange("t", "x", 0L, 100000L))).head
    // N/A (un-castable), the 1e13 overflow, and 0.2 all violate
    assert(got.getAs[Long]("n_violations") === 3L)
    // and the row-level predicate agrees
    val rows = sampleViolations(nasty,
      Seq(InRange("t", "x", 0L, 100000L)), Seq("x"), perRule = 10)
      .collect().map(_.getAs[String]("violating_value")).toSet
    assert(rows === Set("N/A", "9999999999999.0", "0.2"))
  }

  test("referential rule counts orphan KEYS, not rows; null child " +
      "keys are skipped") {
    val child = Seq(Some(1L), Some(9L), Some(9L), None)
      .toDF("fk")
    val got = evaluate(spark,
      Map("c" -> child, "p" -> parents), Seq(
        RefIntegrity("c", "fk", "p", "pk"))).head
    assert(got.getAs[Long]("n_rows") === 4L)
    // 9 appears twice but is ONE missing key; null is skipped
    assert(got.getAs[Long]("n_violations") === 1L)
    assert(!got.getAs[Boolean]("passed"))
  }

  test("a clean table passes every rule") {
    val clean = Seq((1L, "a", 0.1), (2L, "b", 0.0)).toDF("k", "v", "x")
    val out = evaluate(spark, Map("t" -> clean, "p" -> parents), Seq(
      NotNull("t", "k"), Unique("t", Seq("k")),
      AcceptedValues("t", "v", Seq("a", "b")),
      InRange("t", "x", 0L, 100000L),
      RefIntegrity("t", "k", "p", "pk")))
    assert(out.filter(!col("passed")).count() === 0L)
  }

  test("parseRules round-trips every rule type from JSONL") {
    val f = Files.createTempDirectory("exp").resolve("rules.jsonl")
    Files.write(f, java.util.Arrays.asList(
      """{"type":"not_null","table":"t","column":"k"}""",
      """{"type":"unique","table":"t","columns":["k","v"]}""",
      """{"type":"accepted_values","table":"t","column":"v","values":["a","b"]}""",
      """{"type":"in_range","table":"t","column":"x","lo_e6":0,"hi_e6":100000}""",
      """{"type":"ref","table":"t","column":"k","parent_table":"p","parent_column":"pk"}""",
      """{"type":"expression","table":"t","name":"k_pos","predicate":"k > 0"}"""))
    val rules = parseRules(spark, f.toString)
    assert(rules.toSet === Set(
      NotNull("t", "k"), Unique("t", Seq("k", "v")),
      AcceptedValues("t", "v", Seq("a", "b")),
      InRange("t", "x", 0L, 100000L),
      RefIntegrity("t", "k", "p", "pk"),
      ExpressionIsTrue("t", "k_pos", "k > 0")))
  }

  test("parseGradedRules: budget defaults follow intent — none=strict, " +
      "error-only warns from 1, warn-only never errors") {
    val f = Files.createTempDirectory("exp").resolve("graded.jsonl")
    Files.write(f, java.util.Arrays.asList(
      """{"type":"not_null","table":"t","column":"a"}""",
      """{"type":"not_null","table":"t","column":"b","error_if":100}""",
      """{"type":"not_null","table":"t","column":"c","warn_if":5}""",
      """{"type":"not_null","table":"t","column":"d","warn_if":5,"error_if":50}"""))
    val g = parseGradedRules(spark, f.toString)
      .map(x => x.rule.asInstanceOf[NotNull].column -> x).toMap
    assert(g("a") === Graded(NotNull("t", "a"), 0L, 0L))
    assert(g("b") === Graded(NotNull("t", "b"), 0L, 100L))
    assert(g("c") === Graded(NotNull("t", "c"), 5L, Long.MaxValue))
    assert(g("d") === Graded(NotNull("t", "d"), 5L, 50L))
    // ungraded parseRules sees the same rules, budgets dropped
    assert(parseRules(spark, f.toString).toSet ===
      Set("a", "b", "c", "d").map(NotNull("t", _)))
  }

  test("distribution_within counts the minimum rows to relabel, " +
      "exactly — proportional agreement is 0, NULLs excluded, " +
      "unknown categories are pure excess") {
    def moved(rows: Seq[Option[String]],
        ref: Seq[(String, Long)]): Long =
      evaluateRelation(spark, rows.toDF("c"),
        Seq(DistributionWithin("t", "c", ref)))
        .head.getAs[Long]("n_violations")
    def cat(s: String, n: Int): Seq[Option[String]] =
      Seq.fill(n)(Some(s))
    // obs A6 B2 C2 vs ref A1 B1 (C unknown): EMD = 3 rows
    // (move both Cs and one A into B -> A5 B5)
    assert(moved(cat("A", 6) ++ cat("B", 2) ++ cat("C", 2),
      Seq("A" -> 1L, "B" -> 1L)) === 3L)
    // exact proportional agreement at a different scale: 0
    assert(moved(cat("A", 4) ++ cat("B", 2),
      Seq("A" -> 2L, "B" -> 1L)) === 0L)
    // NULLs are not observations: same answer with nulls sprinkled in
    assert(moved(cat("A", 4) ++ cat("B", 2) ++ Seq(None, None),
      Seq("A" -> 2L, "B" -> 1L)) === 0L)
    // a reference category ABSENT from the data shows up as the
    // excess of everything else: all-A vs a 50/50 reference -> half move
    assert(moved(cat("A", 4), Seq("A" -> 1L, "B" -> 1L)) === 2L)
    // empty relation: nothing to move
    assert(moved(Seq.empty[Option[String]], Seq("A" -> 1L)) === 0L)
    // graded budgets read as rows-of-drift: 3 moved rows warns under a
    // 2-row budget but passes a 5-row error budget
    val g = evaluateGradedRelation(spark,
      (cat("A", 6) ++ cat("B", 2) ++ cat("C", 2)).toDF("c"),
      Seq(Graded(DistributionWithin("t", "c",
        Seq("A" -> 1L, "B" -> 1L)), warnAbove = 2L, errorAbove = 5L)))
      .head
    assert(g.getAs[String]("severity") === "warn")
    assert(g.getAs[Boolean]("passed"))
  }

  test("distribution_within parses from JSONL (parallel ref arrays) " +
      "and is rejected by the row-level sampler") {
    val f = Files.createTempDirectory("exp").resolve("dist.jsonl")
    Files.write(f, java.util.Arrays.asList(
      """{"type":"distribution_within","table":"t","column":"c","ref_values":["a","b"],"ref_counts":[3,1],"warn_if":10}"""))
    val g = parseGradedRules(spark, f.toString)
    assert(g === Seq(Graded(DistributionWithin("t", "c",
      Seq("a" -> 3L, "b" -> 1L)), 10L, Long.MaxValue)))
    // set-level: no per-row violation predicate
    intercept[IllegalArgumentException] {
      violationPredicate(DistributionWithin("t", "c", Seq("a" -> 1L)))
    }
    // malformed: length mismatch named in the error
    val bad = Files.createTempDirectory("exp").resolve("bad.jsonl")
    Files.write(bad, java.util.Arrays.asList(
      """{"type":"distribution_within","table":"t","column":"c","ref_values":["a"],"ref_counts":[1,2]}"""))
    val e = intercept[IllegalArgumentException] {
      parseRules(spark, bad.toString)
    }
    assert(e.getMessage.contains("lengths differ"))
  }

  test("sampleViolations: every sampled row actually violates its " +
      "rule, capped per rule, deterministic") {
    val out = graft.queries.CurationExtras
      .defs("q259_violation_rows")(spark, sf("sf0.001")).collect()
    assert(out.nonEmpty)
    val byRule = out.groupBy(_.getString(0))
    assert(byRule.forall(_._2.length <= 5))
    // the passing discount rule contributes nothing
    assert(!byRule.contains("in_range:lineitem.l_discount"))
    // each tax sample's value really exceeds the bound
    byRule.get("in_range:lineitem.l_tax").foreach(_.foreach { r =>
      assert(BigDecimal(r.getAs[String]("violating_value")) >
        BigDecimal("0.05"))
    })
    // deterministic: a second run returns identical rows
    val again = graft.queries.CurationExtras
      .defs("q259_violation_rows")(spark, sf("sf0.001")).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("q257 suite: the tax and event-vocabulary rules fail on this " +
      "data, everything else passes") {
    val out = graft.queries.CurationExtras
      .defs("q257_expectations")(spark, sf("sf0.001")).collect()
    assert(out.length === 9)
    val failed = out.filterNot(_.getAs[Boolean]("passed"))
      .map(_.getString(0)).toSet
    assert(failed === Set("in_range:lineitem.l_tax",
      "accepted_values:events.event_type"))
    // violation counts are bounded by row counts everywhere
    assert(out.forall(r =>
      r.getAs[Long]("n_violations") <= r.getAs[Long]("n_rows")))
  }

  test("a failing rule surfaces its own exception only after its " +
      "siblings finished reading the shared checkpoints") {
    ExpectationsSpec.slowDone.set(false)
    val fail = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("bad-parent-marker")
      x
    }
    val slow = udf { (x: Long) =>
      Thread.sleep(1500); ExpectationsSpec.slowDone.set(true); x
    }
    // "a" is read by both ref rules (and its own row count), so it is
    // a shared checkpoint; r1's parent fails fast, r2's parent is slow
    val tables = Map(
      "a" -> spark.range(10).toDF("k"),
      "bad" -> spark.range(1).select(fail(col("id")).as("pk")),
      "slow" -> spark.range(1).select(slow(col("id")).as("pk")))
    val e = intercept[Exception](evaluate(spark, tables, Seq(
      RefIntegrity("a", "k", "bad", "pk"),
      RefIntegrity("a", "k", "slow", "pk"))))
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(chain.contains("bad-parent-marker"), chain)
    // the sibling ran to completion before the checkpoints were released
    assert(ExpectationsSpec.slowDone.get())
  }
}

object ExpectationsSpec {
  val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
}
