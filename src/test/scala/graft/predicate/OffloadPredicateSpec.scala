package graft.predicate

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class OffloadPredicateSpec extends AnyFunSuite {

  test("parses comparison, IN, NULL, and nested AND/OR") {
    val p = OffloadPredicate.parseUnsafe(
      "((column(A) >= numeric(3)) AND (column(B) IN (string(\"x\"), string(\"y\")))) " +
        "OR (column(C) IS NOT NULL)")
    assert(OffloadPredicate.referencedColumns(p) == Set("A", "B", "C"))
  }

  test("datetime values parse date-only and full timestamps") {
    val d = OffloadPredicate.parseUnsafe("(column(T) < datetime(2020-01-02))")
    val t = OffloadPredicate.parseUnsafe(
      "(column(T) >= datetime(2020-01-02 10:30:00))")
    assert(OffloadPredicate.toSql(d) == "T < DATE '2020-01-02'")
    assert(OffloadPredicate.toSql(t) == "T >= TIMESTAMP '2020-01-02 10:30:00'")
  }

  test("rejects malformed input") {
    assert(OffloadPredicate.parse("column(A) == numeric(1)").isLeft)
    assert(OffloadPredicate.parse("(column(A) = numerc(1))").isLeft)
    assert(OffloadPredicate.parse("").isLeft)
  }

  test("sql rendering escapes quotes and negates IN") {
    val p = OffloadPredicate.parseUnsafe(
      "(column(S) NOT IN (string(\"a'b\"), string(\"c\")))")
    assert(OffloadPredicate.toSql(p) == "S NOT IN ('a''b', 'c')")
  }

  test("!= renders as <>") {
    val p = OffloadPredicate.parseUnsafe("(column(N) != numeric(5))")
    assert(OffloadPredicate.toSql(p) == "N <> 5")
  }
}

/** Execution-level checks: DSL filter returns the same rows as the
  * equivalent hand-built filter. */
class OffloadPredicateExecSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("DSL filter matches hand-built Column filter on lineitem") {
    val li = graft.Tables.load(spark, sf("sf0.001"), "lineitem")
    val dsl = "(column(l_shipdate) < datetime(1997-01-01)) AND " +
      "(column(l_quantity) >= numeric(25))"
    val viaDsl = li.filter(OffloadPredicate.columnOf(dsl)).count()
    val byHand = li.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")
      && col("l_quantity") >= 25).count()
    assert(viaDsl == byHand)
    assert(viaDsl > 0)
  }

  test("IN / IS NULL execute") {
    val li = graft.Tables.load(spark, sf("sf0.001"), "lineitem")
    val n = li.filter(OffloadPredicate.columnOf(
      "(column(l_returnflag) IN (string(\"A\"), string(\"R\"))) AND " +
        "(column(l_orderkey) IS NOT NULL)")).count()
    val byHand = li.filter(col("l_returnflag").isin("A", "R")).count()
    assert(n == byHand)
  }
}
