package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

class VectorExpressionsSpec extends SparkSpec {

  test("native dot kernel is BITWISE identical to the expression chain") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_vec"))
    val both = emb.crossJoin(broadcast(q))
      .select(
        VectorFunctions.dotNative(col("embedding"), col("q_vec")).as("native"),
        Similarity.dotChain(col("embedding"), col("q_vec"), 64).as("chain"))
      .collect()
    // bitwise compare via raw long bits, not epsilon
    val diff = both.count(r =>
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)) !=
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    assert(diff == 0 && both.length == 500)
  }

  test("null element nulls the product; null array nulls the result") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(Some(1.0f), Some(2.0f))), Some(Seq(Some(3.0f), Some(4.0f)))),
      (2L, Some(Seq(Some(1.0f), None)), Some(Seq(Some(3.0f), Some(4.0f)))),
      (3L, None, Some(Seq(Some(1.0f), Some(1.0f)))))
      .toDF("id", "a", "b")
    val out = df.select(col("id"),
      VectorFunctions.dotNative(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(11.0))
    assert(out(2L).isEmpty)
    assert(out(3L).isEmpty)
  }

  test("kernel participates in whole-stage codegen") {
    // a cross join would plan BroadcastNestedLoopJoin (never codegen'd);
    // a plain projection shows the expression's own codegen capability
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val scored = emb.select(
      VectorFunctions.normNative(col("embedding")).as("nrm"))
    val plan = scored.queryExecution.executedPlan.toString
    // "*(n)" marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project"),
      s"expected codegen'd projection in plan:\n$plan")
    assert(scored.filter(col("nrm") > 0).count() == 500)
  }

  test("mismatched dimensions yield null, never a truncated score") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),
      (2L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)))
      .toDF("id", "a", "b")
    // both the interpreted eval and the codegen path
    val out = df.select(col("id"),
      VectorFunctions.dotNative(col("a"), col("b")).as("d")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(14.0))
    assert(out(2L).isEmpty)
  }

  test("mixed float/double arrays and type rejection") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f), Seq(2.0, 3.0))).toDF("f", "d")
    val v = df.select(VectorFunctions.dotNative(col("f"), col("d")))
      .head().getDouble(0)
    assert(v == 8.0)
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorFunctions.dotNative(lit("x"), col("d"))).collect()
    }
  }

  test("int dot kernel: exact sums, matches the HOF formulation") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(127, -127, 50), Seq(127, 127, 2)),
      (2L, Seq(0, 0, 0), Seq(1, 2, 3)))
      .toDF("id", "a", "b")
    val out = df.select(col("id"),
      VectorFunctions.intDotNative(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"),
          (x, y) => x.cast("long") * y.cast("long")),
        lit(0L), (acc, x) => acc + x).as("hof"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == Set((1L, 127L * 127 - 127L * 127 + 100L, 100L),
      (2L, 0L, 0L)))
  }

  test("int dot kernel: null element and dim mismatch yield null") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(Option(1), None)), Some(Seq(Option(1), Option(2)))),
      (2L, Some(Seq(Option(1), Option(2))), Some(Seq(Option(3)))))
      .toDF("id", "a", "b")
    val out = df.select(
      VectorFunctions.intDotNative(col("a"), col("b"))).collect()
    assert(out.forall(_.isNullAt(0)))
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorFunctions.intDotNative(lit("x"), col("a"))).collect()
    }
  }

  test("int dot kernel participates in whole-stage codegen") {
    // literal-only input constant-folds to a LocalTableScan; quantize the
    // corpus so the projection stays live
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val scored = graft.operators.Quantize.int8(emb).select(
      VectorFunctions.intDotNative(col("qvec"), col("qvec")).as("d"))
    val plan = scored.queryExecution.executedPlan.toString
    // the quantize HOFs (transform/aggregate) are CodegenFallback and split
    // the stage; the kernel's own projection must still be starred
    assert("""\*\(\d+\) Project \[graft_int_dot""".r
      .findFirstIn(plan).isDefined,
      s"expected codegen'd int-dot projection in plan:\n$plan")
    assert(scored.filter(col("d") >= 0).count() == 500)
  }

  test("PQ subspace distance: an empty first sub-book yields null under " +
      "both codegen and interpreted evaluation") {
    // m = 2 sub-books, the first one empty: a malformed codebook
    val cb = Seq(Seq.empty[Seq[Double]], Seq(Seq(1.0)))
    def eval(mode: String): Seq[Boolean] = {
      val keys = Seq("spark.sql.codegen.factoryMode",
        "spark.sql.codegen.wholeStage", "spark.sql.codegen.fallback")
      val before = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try spark.range(2)
        .select(VectorFunctions.pqSubspaceDistE9(
          array(col("id").cast("double"), col("id").cast("double")),
          array(lit(0), lit(0)), cb).as("d"))
        .collect().map(_.isNullAt(0)).toSeq
      finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    assert(eval("CODEGEN_ONLY") === Seq(true, true))
    assert(eval("NO_CODEGEN") === Seq(true, true))
  }
}
