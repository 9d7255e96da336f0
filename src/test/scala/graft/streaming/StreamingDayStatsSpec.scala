package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TimeSeries

final case class Txn(o_orderdate: Timestamp, o_totalprice: Double)

class StreamingDayStatsSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(base: String) = StreamingDayStats.Config(
    storeDir = s"$base/days", checkpointDir = s"$base/ckpt")

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private def daysOf(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getDate(r.fieldIndex("day")).toString,
        r.getLong(r.fieldIndex("rev_e2")),
        r.getLong(r.fieldIndex("n_rows")))).toSet

  test("batch-incremental day stats equal one-shot; replay is skipped") {
    val base = Files.createTempDirectory("sday").toString
    val c = cfg(base)
    val b1 = Seq(Txn(ts("2001-01-01"), 10.50), Txn(ts("2001-01-01"), 4.25),
      Txn(ts("2001-01-02"), 7.00)).toDF()
    val b2 = Seq(Txn(ts("2001-01-02"), 1.75),
      Txn(ts("2001-01-03"), 9.99)).toDF()
    StreamingDayStats.processBatch(b1, 0L, c)
    StreamingDayStats.processBatch(b2, 1L, c)
    val all = b1.unionByName(b2)
    assert(daysOf(StreamingDayStats.read(spark, c)) ==
      daysOf(TimeSeries.dailyTotals(all)))
    // replay of an already-applied batch MUST be skipped: day sums are
    // additive, so without the HWM this would double-count Jan 2 and 3
    StreamingDayStats.processBatch(b2, 1L, c)
    assert(daysOf(StreamingDayStats.read(spark, c)) ==
      daysOf(TimeSeries.dailyTotals(all)))
    // the HWM travels INSIDE the days dir (atomic with the data it
    // describes — no window where new sums pair with a stale HWM), and
    // the parquet reader ignores the underscore file
    assert(StreamingDayStats.lastBatch(spark, c) === 1L)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$base/days/days/_hwm")))
  }

  test("streamed anomalies match the batch q193 definition") {
    val base = Files.createTempDirectory("sday_an").toString
    val c = cfg(base)
    // 8 flat days then one 10x spike: the spike must flag 'high'
    val flat = (1 to 8).map(d =>
      Txn(ts(f"2001-02-0$d"), 100.00)).toDF()
    val spike = Seq(Txn(ts("2001-02-09"), 1000.00)).toDF()
    StreamingDayStats.processBatch(flat, 0L, c)
    StreamingDayStats.processBatch(spike, 1L, c)
    val streamed = StreamingDayStats.anomalies(spark, c).collect()
    val batch = TimeSeries.anomalyFlags(
      TimeSeries.dailyTotals(flat.unionByName(spike))).collect()
    assert(streamed.map(_.toSeq).toSet == batch.map(_.toSeq).toSet)
    assert(streamed.exists(r =>
      r.getString(0) == "2001-02-09" && r.getString(3) == "high"))
  }

  test("a crash mid-swap (old moved aside, new not installed) recovers") {
    val base = Files.createTempDirectory("sday_crash").toString
    val c = cfg(base)
    val b1 = Seq(Txn(ts("2001-04-01"), 3.00)).toDF()
    StreamingDayStats.processBatch(b1, 0L, c)
    val before = daysOf(StreamingDayStats.read(spark, c))
    // manufacture the interrupted state: days renamed aside, no days
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val days = new org.apache.hadoop.fs.Path(s"$base/days/days")
    val old = new org.apache.hadoop.fs.Path(s"$base/days/days__old")
    assert(fs.rename(days, old))
    // read() must serve the aside copy — data AND its riding HWM —
    // without renaming it back
    assert(daysOf(StreamingDayStats.read(spark, c)) === before)
    assert(!fs.exists(days) && fs.exists(old),
      "a reader must never rename the aside back")
    assert(StreamingDayStats.lastBatch(spark, c) === 0L)
    // and processing resumes where it left off
    StreamingDayStats.processBatch(
      Seq(Txn(ts("2001-04-02"), 4.00)).toDF(), 1L, c)
    assert(StreamingDayStats.read(spark, c).count() === 2L)
  }

  test("streaming end-to-end over MemoryStream; empty store reads empty") {
    val base = Files.createTempDirectory("sday_e2e").toString
    val c = cfg(base)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Txn]
    mem.addData(Txn(ts("2001-03-01"), 5.00), Txn(ts("2001-03-02"), 6.00))
    val q = StreamingDayStats.start(mem.toDF(), c)
    try {
      q.processAllAvailable()
      mem.addData(Txn(ts("2001-03-02"), 4.00))
      q.processAllAvailable()
    } finally q.stop()
    val expected = Seq(Txn(ts("2001-03-01"), 5.00),
      Txn(ts("2001-03-02"), 6.00), Txn(ts("2001-03-02"), 4.00)).toDF()
    assert(daysOf(StreamingDayStats.read(spark, c)) ==
      daysOf(TimeSeries.dailyTotals(expected)))
    val empty = StreamingDayStats.read(spark,
      cfg(Files.createTempDirectory("sday_empty").toString))
    assert(empty.count() == 0 &&
      empty.columns.toSeq == Seq("day", "rev_e2", "n_rows"))
  }
}
