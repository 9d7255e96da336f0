package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, lit}
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
  * wasted merge work on replay (and the install is the same
  * [[SwapStore]] swap, so a crash leaves the old or the new sketch,
  * never a mix).
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

  private def store(cfg: Config) = new SwapStore(cfg.sketchDir,
    "slots", "streaming kmv",
    fresh = Sketches.kmvSketch(_, cfg.k, cfg.groupCol, cfg.valueCol),
    merge = Sketches.mergeKmv(cfg.k, _, _),
    schema = Seq(lit("").as(cfg.groupCol),
      array().cast("array<bigint>").as("hs")))

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
