package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.Sketches

class StreamingHllSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(base: String) = StreamingHll.Config(
    sketchDir = s"$base/hll", checkpointDir = s"$base/ckpt")

  private def regs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1)) ->
      r.getInt(r.fieldIndex("rho_max"))).toMap

  private def oneShot(df: org.apache.spark.sql.DataFrame) =
    Sketches.hllRegisters(df, "source", "text")

  test("batch-incremental hll equals one-shot; replay is a no-op") {
    val base = Files.createTempDirectory("shll").toString
    val c = cfg(base)
    val b1 = Seq(SrcDoc("web", "alpha"), SrcDoc("web", "beta"),
      SrcDoc("book", "gamma")).toDF()
    val b2 = Seq(SrcDoc("web", "alpha"), // re-observed: max is idempotent
      SrcDoc("web", "delta"), SrcDoc("book", "epsilon")).toDF()
    StreamingHll.processBatch(b1, 0L, c)
    StreamingHll.processBatch(b2, 1L, c)
    val all = b1.unionByName(b2)
    assert(regs(StreamingHll.read(spark, c)) == regs(oneShot(all)))
    // replayed batch: skipped via HWM — and MAX-idempotent regardless
    StreamingHll.processBatch(b2, 1L, c)
    assert(regs(StreamingHll.read(spark, c)) == regs(oneShot(all)))
    // the resident registers feed the estimator directly and agree with
    // the one-shot estimate digit-for-digit (tiny cardinalities sit in
    // the raw estimator's documented small-range regime — the EQUALITY is
    // the property here, not accuracy; accuracy is pinned in SketchesSpec)
    def estOf(df: org.apache.spark.sql.DataFrame) =
      Sketches.hllEstimate(df).collect().map(r => r.getString(0) ->
        r.getLong(r.fieldIndex("hll_estimate"))).toMap
    val est = estOf(StreamingHll.read(spark, c))
    assert(est.keySet == Set("web", "book"))
    assert(est == estOf(oneShot(all)))
  }

  test("crash between the two swap renames is recovered, not reset") {
    val base = Files.createTempDirectory("shll_crash").toString
    val c = cfg(base)
    val b1 = Seq(SrcDoc("web", "alpha"), SrcDoc("book", "gamma")).toDF()
    val b2 = Seq(SrcDoc("web", "delta")).toDF()
    StreamingHll.processBatch(b1, 0L, c)
    // simulate dying after rename(cur → old), before rename(tmp → cur):
    // the store is missing and the only full state lives in __old
    val fs = new org.apache.hadoop.fs.Path(c.sketchDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(c.sketchDir, "registers"),
      new org.apache.hadoop.fs.Path(c.sketchDir, "registers__old")))
    // the read serves the aside and leaves it in place; the next batch
    // restores history first
    assert(regs(StreamingHll.read(spark, c)) == regs(oneShot(b1)))
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(c.sketchDir, "registers")) &&
      fs.exists(
        new org.apache.hadoop.fs.Path(c.sketchDir, "registers__old")),
      "a reader must never rename the aside back")
    StreamingHll.processBatch(b2, 1L, c)
    assert(regs(StreamingHll.read(spark, c)) ==
      regs(oneShot(b1.unionByName(b2))))
  }

  test("an HWM beside the registers dir (the older layout) still " +
      "guards replays; the next install moves it inside") {
    val base = Files.createTempDirectory("shll_legacy").toString
    val c = cfg(base)
    val b1 = Seq(SrcDoc("web", "alpha")).toDF()
    val b2 = Seq(SrcDoc("web", "delta")).toDF()
    StreamingHll.processBatch(b1, 0L, c)
    val inside = new org.apache.hadoop.fs.Path(c.sketchDir, "registers/_hwm")
    val beside = new org.apache.hadoop.fs.Path(c.sketchDir, "_hwm")
    val fs = inside.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(inside, beside))
    assert(StreamingHll.lastBatch(spark, c) === 0L)
    StreamingHll.processBatch(b2, 0L, c) // committed replay: skipped
    assert(regs(StreamingHll.read(spark, c)) == regs(oneShot(b1)))
    StreamingHll.processBatch(b2, 1L, c)
    assert(Hwm.read(fs, inside) === 1L && !fs.exists(beside))
    assert(regs(StreamingHll.read(spark, c)) ==
      regs(oneShot(b1.unionByName(b2))))
  }

  test("streaming end-to-end over MemoryStream") {
    val base = Files.createTempDirectory("shll_e2e").toString
    val c = cfg(base)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SrcDoc]
    mem.addData(SrcDoc("web", "x"), SrcDoc("web", "y"))
    val q = StreamingHll.start(mem.toDF(), c)
    try {
      q.processAllAvailable()
      mem.addData(SrcDoc("web", "z"), SrcDoc("book", "x"))
      q.processAllAvailable()
    } finally q.stop()
    val expected = Seq(SrcDoc("web", "x"), SrcDoc("web", "y"),
      SrcDoc("web", "z"), SrcDoc("book", "x")).toDF()
    assert(regs(StreamingHll.read(spark, c)) == regs(oneShot(expected)))
    // read() on an empty store yields the typed empty relation
    val empty = StreamingHll.read(spark,
      cfg(Files.createTempDirectory("shll_empty").toString))
    assert(empty.count() == 0 &&
      empty.columns.toSeq == Seq("grp", "register", "rho_max"))
  }
}
