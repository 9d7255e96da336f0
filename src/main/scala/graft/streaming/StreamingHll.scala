package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Sketches

/** Continuously-maintained HLL register sketch over a document stream —
  * the streaming face of [[Sketches.hllRegisters]], structured like
  * [[StreamingKmv]]: each micro-batch contributes its own register
  * relation, the store merge is max-per-register + one [[SwapStore]]
  * install, never a corpus re-scan. The resident relation answers
  * [[Sketches.hllEstimate]] at any moment in `m·groups` space.
  *
  * Replay safety is the same IDEMPOTENT kind as KMV — `max` re-applied
  * over the same registers changes nothing — so correctness needs no
  * coordination; the high-water batch id (riding inside the installed
  * generation) only skips wasted merge work, and a crash mid-swap
  * leaves the old or the new store, never a mix.
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

  private def store(cfg: Config) = new SwapStore(cfg.sketchDir,
    "registers", "streaming hll",
    fresh = Sketches.hllRegisters(_, cfg.groupCol, cfg.valueCol,
      cfg.regHex, cfg.windowHex),
    merge = merge(_, _),
    schema = Seq(lit("").as("grp"), lit("").as("register"),
      lit(0).as("rho_max")))

  private[streaming] def lastBatch(spark: org.apache.spark.sql.SparkSession,
                                   cfg: Config): Long =
    store(cfg).lastBatch(spark)

  /** Max-per-register union of register relations. */
  private[streaming] def merge(parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy(col("grp"), col("register"))
      .agg(max(col("rho_max")).as("rho_max"))

  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit =
    store(cfg).processBatch(batch, batchId)

  /** The resident register relation (empty when nothing has arrived). */
  def read(spark: org.apache.spark.sql.SparkSession,
           cfg: Config): DataFrame =
    store(cfg).read(spark)
}
