package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Sketches

final case class SrcDoc(source: String, text: String)

class StreamingKmvSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(base: String) = StreamingKmv.Config(
    sketchDir = s"$base/kmv", checkpointDir = s"$base/ckpt", k = 8)

  private def slots(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap

  test("batch-incremental kmv equals one-shot; replay is a no-op") {
    val base = Files.createTempDirectory("skmv").toString
    val c = cfg(base)
    val b1 = Seq(SrcDoc("web", "alpha"), SrcDoc("web", "beta"),
      SrcDoc("book", "gamma")).toDF()
    val b2 = Seq(SrcDoc("web", "alpha"), // re-observed value: dedups
      SrcDoc("web", "delta"), SrcDoc("book", "epsilon")).toDF()
    StreamingKmv.processBatch(b1, 0L, c)
    StreamingKmv.processBatch(b2, 1L, c)
    val all = b1.unionByName(b2)
    assert(slots(StreamingKmv.read(spark, c)) ==
      slots(Sketches.kmvSketch(all, 8)))
    // replayed batch: skipped via HWM — and UNION-idempotent regardless
    StreamingKmv.processBatch(b2, 1L, c)
    assert(slots(StreamingKmv.read(spark, c)) ==
      slots(Sketches.kmvSketch(all, 8)))
    // the resident sketch estimates exactly below k slots
    val est = Sketches.kmvEstimate(StreamingKmv.read(spark, c), 8)
      .collect().map(r => r.getString(0) ->
        r.getLong(r.fieldIndex("distinct_est"))).toMap
    assert(est == Map("web" -> 3L, "book" -> 2L))
  }

  test("a crash between the swap renames: the read serves the aside " +
      "and leaves it in place; the next batch recovers it") {
    val base = Files.createTempDirectory("skmv_crash").toString
    val c = cfg(base)
    val b1 = Seq(SrcDoc("web", "alpha"), SrcDoc("book", "gamma")).toDF()
    val b2 = Seq(SrcDoc("web", "delta")).toDF()
    StreamingKmv.processBatch(b1, 0L, c)
    val cur = new org.apache.hadoop.fs.Path(c.sketchDir, "slots")
    val aside = new org.apache.hadoop.fs.Path(c.sketchDir, "slots__old")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(cur, aside))
    assert(slots(StreamingKmv.read(spark, c)) ==
      slots(Sketches.kmvSketch(b1, 8)))
    assert(!fs.exists(cur) && fs.exists(aside),
      "a reader must never rename the aside back")
    assert(StreamingKmv.lastBatch(spark, c) === 0L)
    StreamingKmv.processBatch(b2, 1L, c)
    assert(slots(StreamingKmv.read(spark, c)) ==
      slots(Sketches.kmvSketch(b1.unionByName(b2), 8)))
  }

  test("streaming end-to-end over MemoryStream") {
    val base = Files.createTempDirectory("skmv_e2e").toString
    val c = cfg(base)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SrcDoc]
    mem.addData(SrcDoc("web", "x"), SrcDoc("web", "y"))
    val q = StreamingKmv.start(mem.toDF(), c)
    try {
      q.processAllAvailable()
      mem.addData(SrcDoc("web", "z"), SrcDoc("book", "x"))
      q.processAllAvailable()
    } finally q.stop()
    val expected = Seq(SrcDoc("web", "x"), SrcDoc("web", "y"),
      SrcDoc("web", "z"), SrcDoc("book", "x")).toDF()
    assert(slots(StreamingKmv.read(spark, c)) ==
      slots(Sketches.kmvSketch(expected, 8)))
    // read() on an empty store yields the typed empty relation
    val empty = StreamingKmv.read(spark,
      cfg(Files.createTempDirectory("skmv_empty").toString))
    assert(empty.count() == 0 &&
      empty.columns.toSeq == Seq("source", "hs"))
  }
}
