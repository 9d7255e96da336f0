package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Sketches

/** Continuously-maintained KMV cardinality sketch over a document
  * stream — the streaming face of [[Sketches.kmvSketch]]: each
  * micro-batch contributes its own (≤ k slots per group) sketch, and the
  * store is one [[Sketches.mergeKmv]] + swap per batch, never a corpus
  * re-scan. The resident sketch answers "how many distinct documents has
  * each source ever produced" at any moment, in k·groups space, for the
  * full history of the stream.
  *
  * Replay safety differs from [[StreamingSketch]] in kind: KMV merging is
  * slot UNION, which is IDEMPOTENT — a replayed batch re-unions the same
  * hashes and changes nothing, so the sketch is correct with no
  * coordination at all. The high-water batch id kept here only skips the
  * wasted merge work on replay (and the swap is the same aside-rename
  * scheme, so a crash leaves the old or the new sketch, never a mix).
  */
object StreamingKmv {

  final case class Config(sketchDir: String, checkpointDir: String,
                          k: Int = 64, groupCol: String = "source",
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

  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit = {
    val spark = batch.sparkSession
    if (!Hwm.replayGuard(batchId, lastBatch(spark, cfg),
        "streaming kmv")) return // committed replay: skip
    val fs = new Path(cfg.sketchDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, cfg.sketchDir, "slots")
    val slots = new Path(cfg.sketchDir, "slots")
    val fresh = Sketches.kmvSketch(batch, cfg.k, cfg.groupCol, cfg.valueCol)
    val merged =
      if (fs.exists(slots))
        Sketches.mergeKmv(cfg.k,
          spark.read.parquet(slots.toString), fresh)
      else fresh
    val tmp = new Path(cfg.sketchDir, "slots__tmp")
    fs.delete(tmp, true)
    merged.write.mode("overwrite").parquet(tmp.toString)
    val old = new Path(cfg.sketchDir, "slots__old")
    fs.delete(old, true)
    if (fs.exists(slots) && !fs.rename(slots, old))
      throw new IllegalStateException(s"kmv swap: cannot move $slots")
    if (!fs.rename(tmp, slots)) {
      if (fs.exists(old)) fs.rename(old, slots) // roll back
      throw new IllegalStateException(s"kmv swap: cannot install $tmp")
    }
    fs.delete(old, true)
    Hwm.write(fs, hwmPath(cfg), batchId)
  }

  /** The resident sketch (empty relation when nothing has arrived). */
  def read(spark: org.apache.spark.sql.SparkSession,
           cfg: Config): DataFrame = {
    val fs = new Path(cfg.sketchDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, cfg.sketchDir, "slots")
    val slots = new Path(cfg.sketchDir, "slots")
    if (fs.exists(slots)) spark.read.parquet(slots.toString)
    else {
      import org.apache.spark.sql.functions._
      spark.emptyDataFrame
        .select(lit("").as(cfg.groupCol),
          array().cast("array<bigint>").as("hs"))
        .limit(0)
    }
  }
}
