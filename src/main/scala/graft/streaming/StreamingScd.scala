package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Scd

/** Continuously-maintained SCD-2 dimension over a change stream — the
  * streaming face of [[Scd.runs]]: each micro-batch's events are merged
  * into the resident run relation with [[Scd.merge]]; late events (at or
  * before their key's open-run watermark) are quarantined to a side
  * relation instead of rewriting closed history.
  *
  * Store layout: the run relation is partitioned on
  * `bucket = user_id mod [[Config.buckets]]` and a batch REWRITES ONLY
  * THE BUCKETS ITS USERS TOUCH — untouched buckets are never read or
  * written, so per-batch cost tracks the batch's key footprint, not the
  * dimension size (the write-side analogue of StreamingDedup's read-side
  * bucket pruning; at 100 TB a per-batch full-dimension rewrite is the
  * scale-killer this layout exists to avoid). Point lookups
  * ([[userHistory]]) prune to one bucket.
  *
  * Replay safety: [[Scd.merge]] is NOT idempotent (n_events adds, runs
  * append), so each bucket carries its own high-water batch id, written
  * into the bucket's tmp directory BEFORE the atomic rename — bucket data
  * and HWM always travel together (the [[StreamingDayStats]] contract,
  * here per bucket because a crash mid-batch may have installed only some
  * buckets; on replay the installed ones skip and the missing ones merge).
  */
object StreamingScd {

  final case class Config(
      storeDir: String,
      checkpointDir: String,
      /** user_id-mod partition count; lookups and batch writes prune to
        * touched buckets. */
      buckets: Int = 16,
      tierMid: Double = Scd.TierMid,
      tierHigh: Double = Scd.TierHigh)

  /** events (event_id, ts, user_id, value) → the Scd.runs input shape.
    * Normalizes `ts` first so a raw frame in any physical timestamp
    * representation (nanos-long / TIMESTAMP_NTZ / TIMESTAMP) works — the
    * operator-boundary contract, not just the Tables.load path. */
  private[streaming] def prepare(batch: DataFrame, cfg: Config): DataFrame =
    graft.Tables.normalizeTs(batch)
      .select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"),
      Scd.tierOf(col("value"), cfg.tierMid, cfg.tierHigh).as("tier"))

  def start(events: DataFrame, cfg: Config): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, cfg)
      }
      .start()

  private def runsRoot(cfg: Config) = new Path(cfg.storeDir, "runs")
  private def bucketDir(cfg: Config, b: Int) =
    new Path(runsRoot(cfg), s"bucket=$b")
  /** Aside dirs live OUTSIDE the partitioned root so partition discovery
    * never sees a half-swapped directory as a phantom bucket value. */
  private def tmpDir(cfg: Config, b: Int) =
    new Path(cfg.storeDir, s"tmp_bucket_$b")
  private def oldDir(cfg: Config, b: Int) =
    new Path(cfg.storeDir, s"old_bucket_$b")

  private[streaming] def recoverBucket(fs: FileSystem, cfg: Config,
                                       b: Int): Unit = {
    val cur = bucketDir(cfg, b)
    val old = oldDir(cfg, b)
    if (!fs.exists(cur) && fs.exists(old) && !fs.rename(old, cur))
      throw new IllegalStateException(s"scd swap recovery failed: $old")
  }

  private[streaming] def bucketHwm(fs: FileSystem, cfg: Config,
                                   b: Int): Long = {
    val p = new Path(bucketDir(cfg, b), "_hwm")
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    }
  }

  /** One-shot merge of a batch of change events — the CLI / batch-job
    * face of the foreachBatch sink (same HWM idempotence per batchId). */
  def mergeBatch(batch: DataFrame, batchId: Long, cfg: Config): Unit =
    processBatch(batch, batchId, cfg)

  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val fs = runsRoot(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ev = prepare(batch, cfg)
      .withColumn("bucket",
        pmod(col("user_id"), lit(cfg.buckets.toLong)).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try processBuckets(ev, batchId, cfg, fs)
    finally { ev.unpersist(); () }
  }

  private def processBuckets(ev: DataFrame, batchId: Long, cfg: Config,
                             fs: FileSystem): Unit = {
    val spark = ev.sparkSession
    val touched = ev.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    touched.foreach { b =>
      recoverBucket(fs, cfg, b)
      // Per-bucket HWM: a replayed batch skips buckets it already
      // installed (a crash mid-batch installs a prefix; the rest merge
      // on retry — each bucket merges this batch exactly once).
      if (bucketHwm(fs, cfg, b) < batchId) {
        val slice = ev.filter(col("bucket") === b).drop("bucket")
        val cur = bucketDir(cfg, b)
        val (merged, late) =
          if (fs.exists(cur)) {
            val resident = spark.read.parquet(cur.toString)
            val (inOrder, lateEv) = Scd.lateSplit(resident, slice)
            (Scd.merge(resident, inOrder), lateEv)
          } else (Scd.runs(slice), slice.limit(0))
        // Quarantined late events are appended (with provenance) — an
        // audit feed, deliberately not merged into closed history.
        val lateRows = late.withColumn("batch_id", lit(batchId))
          .withColumn("bucket", lit(b))
        if (!late.isEmpty)
          lateRows.write.mode("append")
            .parquet(new Path(cfg.storeDir, "late").toString)
        val tmp = tmpDir(cfg, b)
        fs.delete(tmp, true)
        merged.write.mode("overwrite").parquet(tmp.toString)
        Hwm.write(fs, new Path(tmp, "_hwm"), batchId)
        val old = oldDir(cfg, b)
        fs.delete(old, true)
        if (fs.exists(cur) && !fs.rename(cur, old))
          throw new IllegalStateException(s"scd swap: cannot move $cur")
        if (!fs.rename(tmp, cur)) {
          if (fs.exists(old)) fs.rename(old, cur) // roll back
          throw new IllegalStateException(s"scd swap: cannot install $tmp")
        }
        fs.delete(old, true)
        ()
      }
    }
  }

  /** The resident dimension (all buckets; empty-schema frame when no
    * batch has arrived). */
  def read(spark: SparkSession, cfg: Config): DataFrame = {
    val fs = runsRoot(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 until cfg.buckets).foreach(recoverBucket(fs, cfg, _))
    if (fs.exists(runsRoot(cfg)))
      spark.read.parquet(runsRoot(cfg).toString)
    else
      spark.emptyDataFrame
        .select(lit(0L).as("user_id"), lit(0L).as("run_id"),
          lit("").as("tier"), lit(0L).as("eff_from_us"),
          lit(null).cast("long").as("eff_to_us"), lit(0L).as("n_events"),
          lit(0L).as("last_us"), lit(0L).as("last_eid"),
          lit(0L).as("is_current"), lit(0).as("bucket"))
        .limit(0)
  }

  /** One key's version history — prunes to a single bucket (the point of
    * the layout: a dimension lookup reads 1/buckets of the store).
    * floorMod, NOT `%`: writes bucket with pmod, and Scala `%` of a
    * negative key would probe a bucket that cannot exist. */
  def userHistory(spark: SparkSession, cfg: Config,
                  userId: Long): DataFrame =
    read(spark, cfg)
      .filter(col("bucket") ===
          java.lang.Math.floorMod(userId, cfg.buckets.toLong).toInt &&
        col("user_id") === userId)
      .orderBy(col("run_id"))

  /** The late-event audit relation, deduplicated: a crash between the
    * quarantine append and the bucket swap replays the bucket and
    * re-appends an IDENTICAL (batch_id, event) row, so at-least-once
    * duplicates carry no information and `distinct` restores
    * exactly-once semantics (same consumer contract as StreamingDedup's
    * batch-tagged pairs). */
  def lateEvents(spark: SparkSession, cfg: Config): DataFrame = {
    val p = new Path(cfg.storeDir, "late")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(p.toString).distinct()
    else spark.emptyDataFrame
      .select(lit(0L).as("user_id"), lit(0L).as("event_id"),
        lit(0L).as("us"), lit("").as("tier"), lit(0L).as("batch_id"),
        lit(0).as("bucket"))
      .limit(0)
  }
}
