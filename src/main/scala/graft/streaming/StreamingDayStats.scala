package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TimeSeries

/** Continuously-maintained daily-totals relation over a transaction
  * stream — the streaming face of [[TimeSeries.dailyTotals]]: each
  * micro-batch contributes its own bounded day aggregate, the store is
  * one [[TimeSeries.mergeDaily]] + [[SwapStore]] install per batch, and
  * [[anomalies]] serves q193's trailing-median flags from the resident
  * relation at any moment without touching the transaction history.
  *
  * Replay safety: day merging is ADDITION, which is NOT idempotent — a
  * replayed batch would double-count its days. The high-water batch id is
  * therefore load-bearing (as in [[StreamingTextIndex]], unlike the
  * max/union sketches), and the install is the shared [[SwapStore]]
  * swap: a failure leaves the old or the new relation, never a mix.
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

  // HWM is LOAD-BEARING: day sums are additive, replays double-count.
  // SwapStore writes it INSIDE the temp before the install, so store and
  // HWM always travel together.
  private def store(cfg: Config) = new SwapStore(cfg.storeDir,
    "days", "streaming day stats",
    fresh = TimeSeries.dailyTotals(_, cfg.tsCol, cfg.amountCol),
    merge = TimeSeries.mergeDaily,
    schema = Seq(lit(null).cast("date").as("day"), lit(0L).as("rev_e2"),
      lit(0L).as("n_rows")))

  private[streaming] def lastBatch(spark: SparkSession,
                                   cfg: Config): Long =
    store(cfg).lastBatch(spark)

  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit =
    store(cfg).processBatch(batch, batchId)

  /** The resident day relation (empty when nothing has arrived). */
  def read(spark: SparkSession, cfg: Config): DataFrame =
    store(cfg).read(spark)

  /** q193's anomaly report served from the resident relation. */
  def anomalies(spark: SparkSession, cfg: Config): DataFrame =
    TimeSeries.anomalyFlags(read(spark, cfg),
      cfg.anomalyHighX, cfg.anomalyLowDiv)
}
