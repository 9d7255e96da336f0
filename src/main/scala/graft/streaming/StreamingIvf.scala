package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.IvfIndex

/** Streaming IVF ingest: every micro-batch of embeddings is assigned to
  * its cell with the PERSISTED model and appended to the cell-partitioned
  * index store — [[IvfIndex.appendIndex]] run continuously. The model
  * loads once at stream start (centroids are fixed at train time; a
  * deployment retrains out-of-band and swaps `modelPath`), so the
  * steady-state cost per batch is one assignment pass plus the appended
  * files — the existing index is never read, rewritten, or rebuilt, and
  * probes see new vectors as soon as their batch commits.
  *
  * This is the ANN ingest analogue of [[StreamingDedup]], exactly-once
  * the same way: rows land PARTITIONED BY (batch_id, ivf_cell) with
  * batch-scoped dynamic overwrite, and a sibling HWM file skips
  * fully-committed replays — a mid-crash rerun rewrites its own
  * partitions instead of appending duplicates. Probes still prune on
  * the `ivf_cell` directory (partition pruning applies at any nesting
  * level), and the extra `batch_id` column is inert to scoring.
  */
object StreamingIvf {

  final case class Config(
      indexPath: String,
      checkpointDir: String,
      modelPath: String,
      dim: Int,
      vecCol: String = "embedding")

  /** Attach the ingest sink to a streaming DataFrame of embeddings
    * (id, vector). Caller starts/stops the returned query. */
  def start(embeddings: DataFrame, cfg: Config): StreamingQuery = {
    val model = IvfIndex.loadModel(embeddings.sparkSession, cfg.modelPath)
    embeddings.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, model, cfg)
      }
      .start()
  }

  private def hwmPath(cfg: Config) =
    new org.apache.hadoop.fs.Path(cfg.indexPath + "__hwm")

  private[streaming] def lastBatch(spark: org.apache.spark.sql.SparkSession,
                                   cfg: Config): Long =
    Hwm.read(hwmPath(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), hwmPath(cfg))

  /** One micro-batch: assign with the pinned model, land the batch's own
    * (batch_id, cell) partitions — replay-idempotent by construction —
    * under the index's [[StoreLock]]. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      model: IvfIndex.Model,
                                      cfg: Config): Unit =
    StoreLock(cfg.indexPath) { ingest(batch, batchId, model, cfg) }

  private def ingest(batch: DataFrame, batchId: Long, model: IvfIndex.Model,
                     cfg: Config): Unit = {
    val spark = batch.sparkSession
    // guard BEFORE the empty short-circuit (the StreamingRank fix): a
    // misbound store must fail loudly even on an empty batch
    if (!Hwm.replayGuard(batchId, lastBatch(spark, cfg),
        "streaming ivf")) return // committed replay: skip
    if (batch.isEmpty) return // new but empty: no write, HWM unchanged
    LegacyLayout.fold(hwmPath(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(cfg.indexPath))
    IvfIndex.assign(batch, model, cfg.dim, cfg.vecCol)
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "ivf_cell").parquet(cfg.indexPath)
    Hwm.write(hwmPath(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      hwmPath(cfg), batchId)
  }

  /** Fold the batch dimension away: every committed batch's vectors
    * rewrite into ONE `batch_id=-1` partition per cell, preserving the
    * `ivf_cell` directory (the probe's pruning unit). The HWM rides a
    * sibling file, untouched. Same maintenance contract as
    * [[StreamingDedup.compactIndex]], the same [[StoreLock]]; the
    * batch-built (cell-only) index keeps using the generic
    * [[graft.sink.Compaction]] pass. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, cfg: Config)
      : graft.sink.Compaction.CompactionResult =
    StoreLock(cfg.indexPath) { compactLocked(spark, cfg) }

  private def compactLocked(spark: org.apache.spark.sql.SparkSession,
                            cfg: Config)
      : graft.sink.Compaction.CompactionResult = {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = new org.apache.hadoop.fs.Path(cfg.indexPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, SwapDir.compactTarget(dir))
    if (!fs.exists(dir))
      return graft.sink.Compaction.CompactionResult(0, 0, 0L, 0L)
    def fileCount(): Int =
      spark.read.parquet(cfg.indexPath).inputFiles.length
    val before = fileCount()
    val all = spark.read.parquet(cfg.indexPath)
    val hasBatch = all.columns.contains("batch_id")
    // fold ONLY committed batches (id <= HWM; negative migrated/folded
    // ids included) — an uncommitted partition must stay its own
    // partition so the stream's replay overwrites it, not duplicate it
    val hwm = lastBatch(spark, cfg)
    val committed =
      if (hasBatch) all.filter(col("batch_id").cast("long") <= hwm)
      else all // a batch-built (cell-only) index has no replay concept
    val uncommitted =
      if (hasBatch) CommittedFold.uncommittedDirs(fs, dir, hwm)
      else Array.empty[org.apache.hadoop.fs.Path]
    if (hasBatch && uncommitted.length ==
        fs.listStatus(dir).count(st =>
          CommittedFold.batchIdOf(st.getPath.getName).isDefined))
      return graft.sink.Compaction.CompactionResult(before, before, 0L, 0L)
    val cols = all.columns.filterNot(c => c == "batch_id").map(col).toSeq
    val folded = committed
      .select(cols: _*)
      .withColumn("batch_id", lit(-1L))
      .repartition(col("ivf_cell")) // one file per cell after the fold
    SwapDir.install(fs, SwapDir.compactTarget(dir)) { tmp =>
      folded.write.partitionBy("batch_id", "ivf_cell").parquet(tmp.toString)
      CommittedFold.preserveInto(fs, uncommitted, tmp)
    }
    val rows = spark.read.parquet(cfg.indexPath).count()
    graft.sink.Compaction.CompactionResult(before, fileCount(), 0L, rows)
  }
}
