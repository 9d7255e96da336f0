package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Scd

/** StreamingScd: batch-incremental ≡ one-shot over time-ordered batches,
  * per-bucket replay skip, late-event quarantine, mid-swap crash
  * recovery, and bucket-pruned point lookups. */
class StreamingScdSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def cfg() = StreamingScd.Config(
    storeDir = Files.createTempDirectory("scdstore").toString,
    checkpointDir = Files.createTempDirectory("scdckpt").toString,
    buckets = 4)

  private def events: DataFrame =
    graft.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))

  /** Split into time-ordered thirds — per-user order is preserved, the
    * CDC-log delivery contract. */
  private def terciles(ev: DataFrame): Seq[DataFrame] = {
    val byTs = ev.withColumn("us", unix_micros(col("ts")))
    val t1 = byTs.stat.approxQuantile("us", Array(0.33, 0.66), 0.0)
    Seq(byTs.filter(col("us") <= t1(0)),
      byTs.filter(col("us") > t1(0) && col("us") <= t1(1)),
      byTs.filter(col("us") > t1(1))).map(_.drop("us"))
  }

  test("three incremental batches reproduce the one-shot run relation") {
    val c = cfg()
    val parts = terciles(events)
    parts.zipWithIndex.foreach { case (b, i) =>
      StreamingScd.processBatch(b, i.toLong, c)
    }
    val got = StreamingScd.read(spark, c)
      .select(col("user_id"), col("run_id"), col("tier"),
        col("eff_from_us"), col("eff_to_us"), col("n_events"),
        col("last_us"), col("last_eid"), col("is_current"))
    val want = Scd.runs(StreamingScd.prepare(events, c))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() === want.count())
  }

  test("a replayed batch id leaves every bucket untouched") {
    val c = cfg()
    val parts = terciles(events)
    StreamingScd.processBatch(parts(0), 0L, c)
    StreamingScd.processBatch(parts(1), 1L, c)
    val before = StreamingScd.read(spark, c).collect().toSet
    StreamingScd.processBatch(parts(1), 1L, c) // at-least-once replay
    val after = StreamingScd.read(spark, c).collect().toSet
    assert(after === before)
  }

  test("late events are quarantined, not merged into closed history") {
    val c = cfg()
    val parts = terciles(events)
    StreamingScd.processBatch(parts(0), 0L, c)
    StreamingScd.processBatch(parts(1), 1L, c)
    val before = StreamingScd.read(spark, c).collect().toSet
    // Re-deliver batch 0's events under a NEW batch id: every one is at
    // or before its key's open-run watermark → all quarantined.
    StreamingScd.processBatch(parts(0), 2L, c)
    val after = StreamingScd.read(spark, c).collect().toSet
    assert(after === before)
    val late = spark.read.parquet(s"${c.storeDir}/late")
    assert(late.count() > 0)
    assert(late.filter(col("batch_id") =!= 2L).count() === 0L)
  }

  test("a crash between bucket swaps recovers and the replay completes") {
    val c = cfg()
    val parts = terciles(events)
    StreamingScd.processBatch(parts(0), 0L, c)
    val fs = new Path(c.storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Simulate dying mid-swap on bucket 2: data moved aside, new copy
    // never installed.
    val cur = new Path(s"${c.storeDir}/runs/bucket=2")
    val old = new Path(s"${c.storeDir}/old_bucket_2")
    assert(fs.exists(cur))
    assert(fs.rename(cur, old))
    // the read serves bucket 2 from its aside and renames nothing
    val recovered = StreamingScd.read(spark, c)
    assert(recovered.filter(col("bucket") === 2).count() > 0)
    assert(!fs.exists(cur) && fs.exists(old),
      "a reader must never rename the aside back")
    // And the next batch proceeds normally on all buckets.
    StreamingScd.processBatch(parts(1), 1L, c)
    val want = Scd.runs(StreamingScd.prepare(
      parts(0).union(parts(1)), c))
    val got = StreamingScd.read(spark, c)
      .select(col("user_id"), col("run_id"), col("tier"),
        col("eff_from_us"), col("eff_to_us"), col("n_events"),
        col("last_us"), col("last_eid"), col("is_current"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("same-us events straddling a batch boundary merge, not quarantine") {
    val c = cfg()
    import spark.implicits._
    def ev(eid: Long, uid: Long, value: Double) =
      Seq((eid, "2024-01-01 00:00:00", uid, value))
        .toDF("event_id", "ts_s", "user_id", "value")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
          col("user_id"), col("value"))
    // Batch 0: event 1 (tier low). Batch 1: event 2 at the SAME
    // timestamp (tier high) — the (us, event_id) watermark must admit it.
    StreamingScd.processBatch(ev(1L, 7L, 5.0), 0L, c)
    StreamingScd.processBatch(ev(2L, 7L, 500.0), 1L, c)
    val runs = StreamingScd.read(spark, c)
      .filter(col("user_id") === 7L).orderBy(col("run_id")).collect()
    assert(runs.length === 2)
    assert(runs.map(_.getAs[String]("tier")).toSeq === Seq("low", "high"))
    // And a genuinely-late event (same us, SMALLER event_id) quarantines.
    StreamingScd.processBatch(ev(0L, 7L, 50.0), 2L, c)
    assert(StreamingScd.read(spark, c)
      .filter(col("user_id") === 7L).count() === 2L)
    assert(StreamingScd.lateEvents(spark, c).count() === 1L)
  }

  test("negative keys bucket consistently between write and lookup") {
    val c = cfg()
    import spark.implicits._
    val b = Seq((1L, "2024-01-01 00:00:00", -7L, 5.0))
      .toDF("event_id", "ts_s", "user_id", "value")
      .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
        col("user_id"), col("value"))
    StreamingScd.processBatch(b, 0L, c)
    assert(StreamingScd.userHistory(spark, c, -7L).count() === 1L)
  }

  test("a point lookup reads exactly one bucket partition") {
    val c = cfg()
    StreamingScd.processBatch(events, 0L, c)
    val uid = events.select(min(col("user_id"))).head.getLong(0)
    val hist = StreamingScd.userHistory(spark, c, uid)
    // Partition pruning must reach the scan: every file the PHYSICAL scan
    // selects lives in the key's bucket (inputFiles alone would report
    // the unpruned relation).
    import org.apache.spark.sql.execution.FileSourceScanExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val selected =
      try hist.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.selectedPartitions.totalNumberOfFiles
      }.sum
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val fs = new Path(c.storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(p: Path): Long =
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")).toLong
    val inBucket = parquetFiles(
      new Path(s"${c.storeDir}/runs/bucket=${uid % c.buckets}"))
    val total = (0 until c.buckets)
      .map(b => parquetFiles(new Path(s"${c.storeDir}/runs/bucket=$b")))
      .sum
    assert(selected > 0)
    assert(selected === inBucket)
    assert(selected < total)
    // History is a well-formed chain for the key.
    val runs = hist.collect()
    assert(runs.nonEmpty)
    assert(runs.count(_.getAs[Long]("is_current") == 1L) === 1)
  }
}
