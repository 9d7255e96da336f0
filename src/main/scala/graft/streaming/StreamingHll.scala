package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Sketches

/** Continuously-maintained HLL register sketch over a document stream —
  * the streaming face of [[Sketches.hllRegisters]], structured like
  * [[StreamingKmv]]: each micro-batch contributes its own register
  * relation, the store merge is max-per-register + aside-rename swap,
  * never a corpus re-scan. The resident relation answers
  * [[Sketches.hllEstimate]] at any moment in `m·groups` space.
  *
  * Replay safety is the same IDEMPOTENT kind as KMV — `max` re-applied
  * over the same registers changes nothing — so correctness needs no
  * coordination; the high-water batch id only skips wasted merge work,
  * and a crash mid-swap leaves the old or the new store, never a mix.
  */
object StreamingHll {

  final case class Config(sketchDir: String, checkpointDir: String,
                          regHex: Int = 2, windowHex: Int = 12,
                          groupCol: String = "source",
                          valueCol: String = "text")

  def start(docs: DataFrame, cfg: Config): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, cfg)
      }
      .start()

  private def hwmPath(cfg: Config) = new Path(cfg.sketchDir, "_hwm")

  // tolerant read (shared Hwm helper): a torn HWM file degrades to -1 —
  // safe here because the merge is idempotent (max/union), so a replayed
  // batch re-merging is a no-op, never a double count
  private[streaming] def lastBatch(spark: org.apache.spark.sql.SparkSession,
                                   cfg: Config): Long =
    Hwm.read(new Path(cfg.sketchDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), hwmPath(cfg))

  /** Max-per-register union of register relations. */
  private[streaming] def merge(parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy(col("grp"), col("register"))
      .agg(max(col("rho_max")).as("rho_max"))

  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit = {
    val spark = batch.sparkSession
    if (!Hwm.replayGuard(batchId, lastBatch(spark, cfg),
        "streaming hll")) return // committed replay: skip
    val fs = new Path(cfg.sketchDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, cfg.sketchDir, "registers")
    val regs = new Path(cfg.sketchDir, "registers")
    val fresh = Sketches.hllRegisters(batch, cfg.groupCol, cfg.valueCol,
      cfg.regHex, cfg.windowHex)
    val merged =
      if (fs.exists(regs)) merge(spark.read.parquet(regs.toString), fresh)
      else fresh
    val tmp = new Path(cfg.sketchDir, "registers__tmp")
    fs.delete(tmp, true)
    merged.write.mode("overwrite").parquet(tmp.toString)
    val old = new Path(cfg.sketchDir, "registers__old")
    fs.delete(old, true)
    if (fs.exists(regs) && !fs.rename(regs, old))
      throw new IllegalStateException(s"hll swap: cannot move $regs")
    if (!fs.rename(tmp, regs)) {
      if (fs.exists(old)) fs.rename(old, regs) // roll back
      throw new IllegalStateException(s"hll swap: cannot install $tmp")
    }
    fs.delete(old, true)
    Hwm.write(fs, hwmPath(cfg), batchId)
  }

  /** The resident register relation (empty when nothing has arrived). */
  def read(spark: org.apache.spark.sql.SparkSession,
           cfg: Config): DataFrame = {
    val fs = new Path(cfg.sketchDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, cfg.sketchDir, "registers")
    val regs = new Path(cfg.sketchDir, "registers")
    if (fs.exists(regs)) spark.read.parquet(regs.toString)
    else spark.emptyDataFrame
      .select(lit("").as("grp"), lit("").as("register"),
        lit(0).as("rho_max"))
      .limit(0)
  }
}
