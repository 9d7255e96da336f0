package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained value histogram over a stream — the serving
  * store for distribution monitoring (length drift, latency percentiles)
  * without re-scanning history: each micro-batch contributes its bounded
  * (bucket, count) aggregate, the resident relation is one additive merge
  * + aside-rename swap per batch, and [[quantileBounds]] answers any
  * percentile from the resident histogram with error ≤ one bucket width.
  *
  * This is the STREAMING face of the exact-quantile family: the batch
  * operator ([[graft.operators.Quantiles]]) gets exact values with a
  * second pass over the owning bucket; a stream cannot re-read history,
  * so the resident histogram trades that pass for a ±bucketWidth bound —
  * stated in the output (`lo`/`hi`), never silently.
  *
  * Replay safety: counts are ADDITIVE (not idempotent) — the high-water
  * batch id is load-bearing and rides the same rename as the data
  * (the [[StreamingDayStats]] contract). Store size is OCCUPIED BUCKETS
  * (value-range/width), independent of row volume.
  */
object StreamingHistogram {

  final case class Config(storeDir: String, checkpointDir: String,
                          valueCol: String, bucketWidth: Long = 100L) {
    require(bucketWidth > 0, "bucketWidth must be positive")
  }

  def start(rows: DataFrame, cfg: Config): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, cfg)
      }
      .start()

  private def hwmPath(cfg: Config) =
    new Path(new Path(cfg.storeDir, "hist"), "_hwm")

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

  /** Floor-division bucketing: `div` truncates toward zero, which would
    * make bucket 0 span (-width, width) and shift every negative bucket —
    * the quantile bound lo = bucket*width is only exact for all signs
    * with floor semantics, so negatives subtract one when not on a
    * boundary (exact integer arithmetic, no double round-trip). */
  private[streaming] def bucketize(batch: DataFrame,
                                   cfg: Config): DataFrame =
    batch.select(col(cfg.valueCol).cast("long").as("v"))
      .select(expr(
        s"v div ${cfg.bucketWidth}L - " +
          s"(CASE WHEN v < 0L AND v % ${cfg.bucketWidth}L != 0L " +
          "THEN 1L ELSE 0L END)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

  /** One-shot merge — the CLI / batch-job face of the foreachBatch sink
    * (same HWM idempotence per batchId). */
  def mergeBatch(batch: DataFrame, batchId: Long, cfg: Config): Unit =
    processBatch(batch, batchId, cfg)

  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit = {
    val spark = batch.sparkSession
    // HWM is LOAD-BEARING: counts are additive, replays double-count.
    if (!Hwm.replayGuard(batchId, lastBatch(spark, cfg),
        "streaming histogram")) return // committed replay: skip
    val fs = new Path(cfg.storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, cfg.storeDir, "hist")
    val hist = new Path(cfg.storeDir, "hist")
    val fresh = bucketize(batch, cfg)
    val merged =
      if (fs.exists(hist))
        spark.read.parquet(hist.toString)
          .unionByName(fresh)
          .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
      else fresh
    val tmp = new Path(cfg.storeDir, "hist__tmp")
    fs.delete(tmp, true)
    merged.write.mode("overwrite").parquet(tmp.toString)
    Hwm.write(fs, new Path(tmp, "_hwm"), batchId)
    val old = new Path(cfg.storeDir, "hist__old")
    fs.delete(old, true)
    if (fs.exists(hist) && !fs.rename(hist, old))
      throw new IllegalStateException(s"hist swap: cannot move $hist")
    if (!fs.rename(tmp, hist)) {
      if (fs.exists(old)) fs.rename(old, hist) // roll back
      throw new IllegalStateException(s"hist swap: cannot install $tmp")
    }
    fs.delete(old, true)
    ()
  }

  /** The resident (bucket, cnt) relation. */
  def read(spark: SparkSession, cfg: Config): DataFrame = {
    val fs = new Path(cfg.storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, cfg.storeDir, "hist")
    val hist = new Path(cfg.storeDir, "hist")
    if (fs.exists(hist)) spark.read.parquet(hist.toString)
    else spark.emptyDataFrame
      .select(lit(0L).as("bucket"), lit(0L).as("cnt")).limit(0)
  }

  /** Percentile BOUNDS from the resident histogram: for each pct the
    * owning bucket's [lo, hi] value range (rank semantics identical to
    * the batch operator: target = ceil(n·pct/100)). The true quantile
    * lies inside the bound — error ≤ bucketWidth by construction. All
    * windows run over the OCCUPIED-BUCKET relation (bounded). */
  def quantileBounds(spark: SparkSession, cfg: Config,
                     pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      "percentiles must be in [1, 100]")
    import org.apache.spark.sql.expressions.Window
    val hist = read(spark, cfg)
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val targets = hist.agg(sum(col("cnt")).as("n"))
      .select(col("n"), explode(array(pcts.map(lit(_)): _*)).as("pct"))
      .withColumn("target", expr("(n * pct + 99) div 100"))
    cum.crossJoin(broadcast(targets))
      .filter(col("cum") >= col("target") &&
        col("cum") - col("cnt") < col("target"))
      .select(col("pct"),
        (col("bucket") * cfg.bucketWidth).as("lo"),
        (col("bucket") * cfg.bucketWidth + cfg.bucketWidth - 1).as("hi"))
      .orderBy(col("pct"))
  }
}
