package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Sketches

class StreamingSketchSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(base: String) = StreamingSketch.Config(
    sketchDir = s"$base/sketch", checkpointDir = s"$base/ckpt")

  private def cellMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
      .toMap

  test("batch-incremental sketch equals the one-shot sketch; replays skip") {
    val base = Files.createTempDirectory("ssketch").toString
    val c = cfg(base)
    val b1 = Seq(Doc(1, "a a b"), Doc(2, "b c")).toDF()
    val b2 = Seq(Doc(3, "a c c d")).toDF()
    StreamingSketch.processBatch(b1, 0L, c)
    StreamingSketch.processBatch(b2, 1L, c)
    val all = Seq(Doc(1, "a a b"), Doc(2, "b c"), Doc(3, "a c c d")).toDF()
    assert(cellMap(StreamingSketch.read(spark, c)) ==
      cellMap(Sketches.countMin(all)))
    // a replayed batch must NOT double-count (HWM skip)
    StreamingSketch.processBatch(b2, 1L, c)
    assert(cellMap(StreamingSketch.read(spark, c)) ==
      cellMap(Sketches.countMin(all)))
    // estimates from the resident sketch dominate truth as usual
    val est = Sketches.cmsEstimate(StreamingSketch.read(spark, c),
      Seq("a", "c", "zzz").toDF("tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("a") >= 3L && est("c") >= 3L && est("zzz") >= 0L)
  }

  test("a crash between the swap renames cannot reset counts, and the " +
      "HWM rides the swap so counts + replay-skip commit atomically") {
    val base = Files.createTempDirectory("ssketch_crash").toString
    val c = cfg(base)
    val b0 = Seq(Doc(1, "a a b"), Doc(2, "b c")).toDF()
    StreamingSketch.processBatch(b0, 0L, c)
    val committed = cellMap(StreamingSketch.read(spark, c))
    // crash window: cells aside-renamed, nothing installed — a batch
    // that mistook this for an empty store would silently reset every
    // accumulated count
    val fs = new org.apache.hadoop.fs.Path(s"$base/sketch")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$base/sketch/cells"),
      new org.apache.hadoop.fs.Path(s"$base/sketch/cells__old")))
    // the aside serves the read, and the reader leaves it in place
    assert(cellMap(StreamingSketch.read(spark, c)) == committed)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/sketch/cells")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$base/sketch/cells__old")),
      "a reader must never rename the aside back")
    val b1 = Seq(Doc(3, "a c c d")).toDF()
    StreamingSketch.processBatch(b1, 1L, c)
    val all = Seq(Doc(1, "a a b"), Doc(2, "b c"), Doc(3, "a c c d")).toDF()
    assert(cellMap(StreamingSketch.read(spark, c)) ==
      cellMap(Sketches.countMin(all)))
    // the HWM lives inside the swapped dir: a replay skips even though
    // no separate post-swap HWM write ever happened
    StreamingSketch.processBatch(b1, 1L, c)
    assert(cellMap(StreamingSketch.read(spark, c)) ==
      cellMap(Sketches.countMin(all)))
  }

  test("streaming end-to-end over MemoryStream") {
    val base = Files.createTempDirectory("ssketch_e2e").toString
    val c = cfg(base)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    mem.addData(Doc(10, "x y"), Doc(11, "x"))
    val q = StreamingSketch.start(mem.toDF(), c)
    try {
      q.processAllAvailable()
      mem.addData(Doc(12, "y z z"))
      q.processAllAvailable()
    } finally q.stop()
    val expected = Seq(Doc(10, "x y"), Doc(11, "x"), Doc(12, "y z z"))
      .toDF()
    assert(cellMap(StreamingSketch.read(spark, c)) ==
      cellMap(Sketches.countMin(expected)))
  }
}
