package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Sketches

/** Continuously-maintained count-min sketch over a document stream — the
  * streaming face of [[graft.operators.Sketches]]: because CMS cells ADD,
  * each micro-batch contributes its own (bounded, depth × width) sketch
  * and the store is one merge + swap per batch, NEVER a corpus re-scan.
  * The resident sketch answers "how often has this token ever occurred"
  * at any moment, in fixed space, for the full history of the stream.
  *
  * Replay safety: CMS addition is NOT idempotent (a replayed batch would
  * double-count), so the store carries a high-water batch id and
  * `processBatch` skips ids at or below it — the same monotone-HWM
  * contract the offload path uses. The swap is the aside-rename scheme
  * of [[graft.sink.Compaction]]: a crash leaves the old or the new
  * sketch, never a mix.
  */
object StreamingSketch {

  final case class Config(sketchDir: String, checkpointDir: String,
                          depth: Int = 4, hexChars: Int = 2)

  def start(docs: DataFrame, cfg: Config): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, cfg)
      }
      .start()

  // HWM lives INSIDE the swapped cells directory (parquet readers skip
  // underscore files), so it commits ATOMICALLY with the counts it
  // certifies — CMS addition is not idempotent, and a separate post-swap
  // HWM write left a window where a crash produced counts-without-HWM
  // and the replay double-counted. The legacy beside-the-dir location is
  // still read for stores written before this change.
  private def hwmPath(cfg: Config) =
    new Path(new Path(cfg.sketchDir, "cells"), "_hwm")
  private def legacyHwmPath(cfg: Config) = new Path(cfg.sketchDir, "_hwm")

  private[streaming] def lastBatch(spark: org.apache.spark.sql.SparkSession,
                                   cfg: Config): Long = {
    val fs = new Path(cfg.sketchDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    math.max(Hwm.read(fs, hwmPath(cfg)),
      Hwm.read(fs, legacyHwmPath(cfg)))
  }

  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit = {
    val spark = batch.sparkSession
    val fs0 = new Path(cfg.sketchDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an interrupted previous swap must restore BEFORE the absent-store
    // check — mistaking an aside-renamed store for "empty" would quietly
    // reset every accumulated count
    SwapDir.recover(fs0, cfg.sketchDir, "cells")
    if (!Hwm.replayGuard(batchId, lastBatch(spark, cfg),
        "streaming sketch")) return // committed replay: skip
    val fs = fs0
    val cells = new Path(cfg.sketchDir, "cells")
    val fresh = Sketches.countMin(batch, cfg.depth, cfg.hexChars)
    val merged =
      if (fs.exists(cells))
        Sketches.mergeCms(spark.read.parquet(cells.toString), fresh)
      else fresh
    val tmp = new Path(cfg.sketchDir, "cells__tmp")
    fs.delete(tmp, true)
    merged.write.mode("overwrite").parquet(tmp.toString)
    // the HWM rides the same rename as the counts it certifies
    Hwm.write(fs, new Path(tmp, "_hwm"), batchId)
    val old = new Path(cfg.sketchDir, "cells__old")
    fs.delete(old, true)
    if (fs.exists(cells) && !fs.rename(cells, old))
      throw new IllegalStateException(s"sketch swap: cannot move $cells")
    if (!fs.rename(tmp, cells)) {
      if (fs.exists(old)) fs.rename(old, cells) // roll back
      throw new IllegalStateException(s"sketch swap: cannot install $tmp")
    }
    fs.delete(old, true)
    fs.delete(legacyHwmPath(cfg), false) // superseded by the riding HWM
    ()
  }

  /** The resident sketch (empty relation when nothing has arrived). */
  def read(spark: org.apache.spark.sql.SparkSession,
           cfg: Config): DataFrame = {
    val fs = new Path(cfg.sketchDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, cfg.sketchDir, "cells")
    val cells = new Path(cfg.sketchDir, "cells")
    if (fs.exists(cells)) spark.read.parquet(cells.toString)
    else spark.emptyDataFrame
      .select(org.apache.spark.sql.functions.lit(0).as("seed"),
        org.apache.spark.sql.functions.lit("").as("cell"),
        org.apache.spark.sql.functions.lit(0L).as("cnt"))
      .limit(0)
  }
}
