package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TimeSeries

/** Continuously-maintained daily-totals relation over a transaction
  * stream — the streaming face of [[TimeSeries.dailyTotals]]: each
  * micro-batch contributes its own bounded day aggregate, the store is
  * one [[TimeSeries.mergeDaily]] + aside-rename swap per batch, and
  * [[anomalies]] serves q193's trailing-median flags from the resident
  * relation at any moment without touching the transaction history.
  *
  * Replay safety: day merging is ADDITION, which is NOT idempotent — a
  * replayed batch would double-count its days. The high-water batch id is
  * therefore load-bearing (as in [[StreamingTextIndex]], unlike the
  * max/union sketches), and the swap is the same crash-safe aside-rename
  * scheme: a failure leaves the old or the new relation, never a mix.
  *
  * Scale shape: store size is DAYS, not transactions — merge cost is
  * O(batch days + resident days) per batch forever.
  */
object StreamingDayStats {

  final case class Config(storeDir: String, checkpointDir: String,
                          tsCol: String = "o_orderdate",
                          amountCol: String = "o_totalprice",
                          anomalyHighX: Long = 3L,
                          anomalyLowDiv: Long = 8L)

  def start(rows: DataFrame, cfg: Config): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, cfg)
      }
      .start()

  // The HWM lives INSIDE the days directory (underscore-prefixed, so the
  // parquet reader ignores it) and is written into the tmp directory
  // BEFORE the atomic rename: store and HWM always travel together, so
  // there is no crash window where the new sums are installed but the
  // stale HWM re-admits the same batch on replay (which, with additive
  // merges, would double-count).
  private def hwmPath(cfg: Config) =
    new Path(new Path(cfg.storeDir, "days"), "_hwm")

  private[streaming] def lastBatch(spark: SparkSession,
                                   cfg: Config): Long = {
    val fs = new Path(cfg.storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hwmPath(cfg))) -1L
    else {
      val in = fs.open(hwmPath(cfg))
      try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    }
  }

  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit = {
    val spark = batch.sparkSession
    // HWM is LOAD-BEARING: day sums are additive, replays double-count
    if (!Hwm.replayGuard(batchId, lastBatch(spark, cfg),
        "streaming day stats")) return // committed replay: skip
    val fs = new Path(cfg.storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, cfg.storeDir, "days")
    val days = new Path(cfg.storeDir, "days")
    val fresh = TimeSeries.dailyTotals(batch, cfg.tsCol, cfg.amountCol)
    val merged =
      if (fs.exists(days))
        TimeSeries.mergeDaily(spark.read.parquet(days.toString), fresh)
      else fresh
    val tmp = new Path(cfg.storeDir, "days__tmp")
    fs.delete(tmp, true)
    merged.write.mode("overwrite").parquet(tmp.toString)
    // HWM rides the same rename as the data it describes
    Hwm.write(fs, new Path(tmp, "_hwm"), batchId)
    val old = new Path(cfg.storeDir, "days__old")
    fs.delete(old, true)
    if (fs.exists(days) && !fs.rename(days, old))
      throw new IllegalStateException(s"daystats swap: cannot move $days")
    if (!fs.rename(tmp, days)) {
      if (fs.exists(old)) fs.rename(old, days) // roll back
      throw new IllegalStateException(s"daystats swap: cannot install $tmp")
    }
    fs.delete(old, true)
  }

  /** The resident day relation (empty when nothing has arrived). */
  def read(spark: SparkSession, cfg: Config): DataFrame = {
    val fs = new Path(cfg.storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, cfg.storeDir, "days")
    val days = new Path(cfg.storeDir, "days")
    if (fs.exists(days)) spark.read.parquet(days.toString)
    else {
      import org.apache.spark.sql.functions._
      spark.emptyDataFrame
        .select(lit(null).cast("date").as("day"),
          lit(0L).as("rev_e2"), lit(0L).as("n_rows"))
        .limit(0)
    }
  }

  /** q193's anomaly report served from the resident relation. */
  def anomalies(spark: SparkSession, cfg: Config): DataFrame =
    TimeSeries.anomalyFlags(read(spark, cfg),
      cfg.anomalyHighX, cfg.anomalyLowDiv)
}
