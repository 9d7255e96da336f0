package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Quantiles

/** StreamingHistogram: additive merge ≡ one-shot histogram, replay skip
  * via the load-bearing HWM, and quantile bounds that bracket the batch
  * operator's exact values. */
class StreamingHistogramSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private val Width = 64L

  private def cfg() = StreamingHistogram.Config(
    storeDir = Files.createTempDirectory("histstore").toString,
    checkpointDir = Files.createTempDirectory("histckpt").toString,
    valueCol = "n_chars", bucketWidth = Width)

  private def docs: DataFrame =
    graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))

  test("batch-merged histogram equals the one-shot bucket counts") {
    val c = cfg()
    val parts = Seq(docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2))
    parts.zipWithIndex.foreach { case (b, i) =>
      StreamingHistogram.processBatch(b, i.toLong, c)
    }
    val got = StreamingHistogram.read(spark, c)
    val want = StreamingHistogram.bucketize(docs, c)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("a replayed batch id is skipped (additive counts, HWM bearing)") {
    val c = cfg()
    StreamingHistogram.processBatch(docs, 0L, c)
    val before = StreamingHistogram.read(spark, c)
      .agg(sum(col("cnt"))).head.getLong(0)
    StreamingHistogram.processBatch(docs, 0L, c) // replay
    val after = StreamingHistogram.read(spark, c)
      .agg(sum(col("cnt"))).head.getLong(0)
    assert(after === before)
    assert(after === docs.count())
  }

  private def fsOf(c: StreamingHistogram.Config) =
    new org.apache.hadoop.fs.Path(c.storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def same(got: DataFrame, want: DataFrame): Boolean =
    got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty

  test("a crash between the swap renames: the read serves the aside " +
      "and leaves it in place; the next batch recovers it") {
    val c = cfg()
    StreamingHistogram.processBatch(docs, 0L, c)
    val cur = new org.apache.hadoop.fs.Path(c.storeDir, "hist")
    val aside = new org.apache.hadoop.fs.Path(c.storeDir, "hist__old")
    val fs = fsOf(c)
    assert(fs.rename(cur, aside))
    assert(same(StreamingHistogram.read(spark, c),
      StreamingHistogram.bucketize(docs, c)))
    assert(!fs.exists(cur) && fs.exists(aside),
      "a reader must never rename the aside back")
    assert(StreamingHistogram.lastBatch(spark, c) === 0L)
    StreamingHistogram.processBatch(docs, 1L, c)
    assert(StreamingHistogram.read(spark, c)
      .agg(sum(col("cnt"))).head.getLong(0) === 2 * docs.count())
  }

  test("a read inside a writer's rename window cannot lose the batch") {
    val c = cfg()
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    StreamingHistogram.processBatch(b0, 0L, c)
    val cur = new org.apache.hadoop.fs.Path(c.storeDir, "hist")
    val tmp = new org.apache.hadoop.fs.Path(c.storeDir, "hist__tmp")
    val fs = fsOf(c)
    // batch 1's writer between its two renames: the temp holds batch
    // 0+1 with its riding HWM, and the resident moved aside
    StreamingHistogram.bucketize(b0.unionByName(b1), c)
      .write.parquet(tmp.toString)
    Hwm.write(fs, new org.apache.hadoop.fs.Path(tmp, "_hwm"), 1L)
    assert(fs.rename(cur,
      new org.apache.hadoop.fs.Path(c.storeDir, "hist__old")))
    StreamingHistogram.read(spark, c).count() // a reader lands here
    assert(fs.rename(tmp, cur)) // the writer's install rename
    assert(same(StreamingHistogram.read(spark, c),
      StreamingHistogram.bucketize(docs, c)))
    assert(StreamingHistogram.lastBatch(spark, c) === 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(cur, "hist__tmp")))
  }

  test("quantile bounds bracket the exact batch quantiles") {
    val c = cfg()
    StreamingHistogram.processBatch(docs, 0L, c)
    val bounds = StreamingHistogram
      .quantileBounds(spark, c, Seq(25, 50, 90)).collect()
      .map(r => r.getAs[Int]("pct") ->
        (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).toMap
    val exact = Quantiles.exactQuantiles(docs, "n_chars",
        Seq(25, 50, 90), bucketWidth = Width).collect()
      .map(r => r.getAs[Int]("pct") -> r.getAs[Long]("value")).toMap
    Seq(25, 50, 90).foreach { p =>
      val (lo, hi) = bounds(p)
      assert(hi - lo === Width - 1)
      assert(exact(p) >= lo && exact(p) <= hi,
        s"pct $p: exact ${exact(p)} outside [$lo, $hi]")
    }
  }

  test("negative values bucket by floor division and bounds still hold") {
    val c = cfg()
    // center the doc lengths so roughly half the values are negative —
    // truncate-toward-zero bucketing would fold (-Width, Width) into one
    // bucket and report bounds that exclude the true quantile
    val centered = docs.select(col("doc_id"),
      (col("n_chars") - lit(800)).as("n_chars"))
    StreamingHistogram.processBatch(centered, 0L, c)
    // every bucket's [lo, hi] must partition the line: value v belongs to
    // bucket floor(v/W), so lo ≤ v ≤ hi for v's own bucket and no other
    val bounds = StreamingHistogram
      .quantileBounds(spark, c, Seq(10, 50, 90)).collect()
      .map(r => r.getAs[Int]("pct") ->
        (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).toMap
    val exact = Quantiles.exactQuantiles(centered, "n_chars",
        Seq(10, 50, 90), bucketWidth = Width).collect()
      .map(r => r.getAs[Int]("pct") -> r.getAs[Long]("value")).toMap
    assert(exact.values.exists(_ < 0L),
      "fixture must actually produce negative quantiles")
    Seq(10, 50, 90).foreach { p =>
      val (lo, hi) = bounds(p)
      assert(hi - lo === Width - 1)
      assert(exact(p) >= lo && exact(p) <= hi,
        s"pct $p: exact ${exact(p)} outside [$lo, $hi]")
    }
  }
}
