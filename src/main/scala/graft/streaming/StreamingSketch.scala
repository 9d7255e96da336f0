package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
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
  * contract the offload path uses. The merge and install are the shared
  * [[SwapStore]] (a [[SwapDir]] swap with the HWM inside): a crash
  * leaves the old or the new sketch, never a mix.
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

  // The HWM lives INSIDE the swapped cells directory (parquet readers
  // skip underscore files), so it commits ATOMICALLY with the counts it
  // certifies — CMS addition is not idempotent, and a separate post-swap
  // HWM write left a window where a crash produced counts-without-HWM
  // and the replay double-counted. SwapStore still reads the legacy
  // beside-the-dir file of stores written before that change.
  private def store(cfg: Config) = new SwapStore(cfg.sketchDir,
    "cells", "streaming sketch",
    fresh = Sketches.countMin(_, cfg.depth, cfg.hexChars),
    merge = Sketches.mergeCms(_, _),
    schema = Seq(lit(0).as("seed"), lit("").as("cell"), lit(0L).as("cnt")))

  private[streaming] def lastBatch(spark: org.apache.spark.sql.SparkSession,
                                   cfg: Config): Long =
    store(cfg).lastBatch(spark)

  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit =
    store(cfg).processBatch(batch, batchId)

  /** The resident sketch (empty relation when nothing has arrived). */
  def read(spark: org.apache.spark.sql.SparkSession,
           cfg: Config): DataFrame =
    store(cfg).read(spark)
}
