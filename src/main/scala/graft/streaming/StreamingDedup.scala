package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** Streaming incremental dedup: every micro-batch of documents is
  * MinHash-signed, probed against the ACCUMULATED band index, its
  * candidate pairs appended to a pairs table, and its banded signatures
  * appended to the index — [[graft.operators.Dedup.lshCandidatesIncremental]]
  * run continuously. The stored corpus is only ever probed and
  * appended-to; no micro-batch re-pairs the existing corpus with itself.
  *
  * Index layout: the persisted index is the BAND RELATION
  * (sid, band, band_key) partitioned on `bucket` = hash(band_key) mod
  * [[Config.indexBuckets]]. A probe collects the batch's distinct buckets
  * (≤ indexBuckets values — metadata scale) and pushes `bucket IN (...)`
  * into the index read, so partition pruning keeps the per-batch scan
  * proportional to the BATCH's key footprint, not the corpus: without it
  * every micro-batch re-reads an index that grows with the corpus, which
  * at 100 TB is a full-index scan per batch. The pruning is
  * machine-checked by the flat-file-reads spec in `StreamingDedupSpec`.
  *
  * Replay semantics: EXACTLY-ONCE BY CONSTRUCTION (the
  * [[StreamingTextIndex]] scheme). foreachBatch is at-least-once, so
  * both stores are partitioned by `batch_id` and written with DYNAMIC
  * partition overwrite scoped to the batch's own partitions: a replayed
  * batch — including one that crashed mid-write — simply rewrites its
  * own `batch_id=N` directories. The index keeps `bucket` as the inner
  * partition level, so probe pruning is unchanged (partition pruning
  * applies to any partition column, at any nesting level).
  */
object StreamingDedup {

  final case class Config(
      indexPath: String,
      pairsPath: String,
      checkpointDir: String,
      numHashes: Int = 16,
      bands: Int = 4,
      /** Band-key hash-partition count for the stored index. More buckets
        * = finer pruning per probe; keep `expected index files / buckets`
        * comfortably above 1 so appends don't degenerate into one tiny
        * file per bucket per batch (compact periodically regardless). */
      indexBuckets: Int = 64)

  /** Stable bucket of a band key, the index's partition column. */
  private[streaming] def bucketCol(buckets: Int) =
    pmod(xxhash64(col("band_key")), lit(buckets.toLong)).cast("int")

  /** The batch's banded signatures with their index bucket attached. */
  private[streaming] def bandedWithBucket(sigs: DataFrame,
                                          cfg: Config): DataFrame =
    Dedup.bandRelation(sigs, cfg.numHashes, cfg.bands)
      .withColumn("bucket", bucketCol(cfg.indexBuckets))

  /** Attach the dedup sink to a streaming DataFrame of documents
    * (doc_id, text). Caller starts/stops the returned query. */
  def start(docs: DataFrame, cfg: Config): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, cfg)
      }
      .start()

  /** Bucket-pruned probe: the batch's band rows against the stored index.
    * Output (id_a, id_b), a < b — NOT distinct (the caller unions and
    * dedupes). `excludeBatchId` drops the probing batch's OWN stored
    * partitions — on a mid-crash replay the index already holds the
    * batch's rows, and probing them would emit self-pairs. */
  private[streaming] def probeIndex(spark: SparkSession, cfg: Config,
                                    freshBand: DataFrame,
                                    excludeBatchId: Option[Long] = None)
      : DataFrame = {
    val buckets = freshBand.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val idx0 = spark.read.parquet(cfg.indexPath)
      .filter(col("bucket").isInCollection(buckets))
    val idx = excludeBatchId match {
      case Some(b) if idx0.columns.contains("batch_id") =>
        idx0.filter(col("batch_id").cast("long") =!= b)
      case _ => idx0
    }
    freshBand.select(col("band"), col("band_key"), col("sid").as("id_f"))
      .join(idx.select(col("band"), col("band_key"), col("sid").as("id_e")),
        Seq("band", "band_key"))
      .filter(col("id_f") =!= col("id_e"))
      .select(least(col("id_f"), col("id_e")).as("id_a"),
              greatest(col("id_f"), col("id_e")).as("id_b"))
  }

  private def hwmPath(cfg: Config) =
    new org.apache.hadoop.fs.Path(cfg.indexPath + "__hwm")

  private[streaming] def lastBatch(spark: SparkSession,
                                   cfg: Config): Long =
    Hwm.read(hwmPath(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), hwmPath(cfg))

  /** One micro-batch: sign → band → probe index → append pairs → append
    * banded index rows, under the index's [[StoreLock]]. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit =
    StoreLock(cfg.indexPath) { ingest(batch, batchId, cfg) }

  private def ingest(batch: DataFrame, batchId: Long, cfg: Config): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // fully-committed batches skip on replay; a batch that crashed after
    // some writes but before the HWM falls through and REWRITES its own
    // partitions (dynamic overwrite) — exactly-once either way
    if (!Hwm.replayGuard(batchId, lastBatch(spark, cfg),
        "streaming dedup")) return // committed replay: skip
    val fresh = Dedup.minhashSignatures(batch, cfg.numHashes)
    val freshBand = bandedWithBucket(fresh, cfg)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // explicit existence check — a swallow-all Try would treat a CORRUPT
      // index as absent and silently emit wrong pairs; a real read error
      // must fail the batch (and be retried by the stream). recover()
      // first: a compaction that crashed mid-swap leaves the index
      // aside-renamed, and mistaking that for "no index yet" would
      // silently drop every cross-batch pair
      val indexFs = new org.apache.hadoop.fs.Path(cfg.indexPath)
      val ifs = indexFs
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      SwapDir.recover(ifs, SwapDir.compactTarget(indexFs))
      // one-time upgrade of pre-batch_id layouts (mixed-depth leaves
      // would make partition discovery throw, wedging the stream)
      LegacyLayout.fold(ifs, indexFs)
      LegacyLayout.rewriteFold(spark,
        new org.apache.hadoop.fs.Path(cfg.pairsPath))
      val exists = ifs.exists(indexFs)
      val within = freshBand
        .select(col("band"), col("band_key"), col("sid").as("id_a"))
        .join(freshBand
          .select(col("band"), col("band_key"), col("sid").as("id_b")),
          Seq("band", "band_key"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val pairs =
        (if (exists)
          within.union(probeIndex(spark, cfg, freshBand, Some(batchId)))
         else within).distinct()
      // batch-scoped dynamic overwrite: a replay rewrites its own
      // batch_id partitions instead of appending duplicates
      pairs.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(cfg.pairsPath)
      freshBand.select(col("sid"), col("band"), col("band_key"),
          col("bucket"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "bucket").parquet(cfg.indexPath)
      Hwm.write(hwmPath(cfg)
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
        hwmPath(cfg), batchId)
    } finally { freshBand.unpersist(); () }
  }

  /** Reclaim the per-batch partition sets the ingest accretes: fold all
    * committed batches into ONE `batch_id=-1` partition per band-key
    * bucket (the [[StreamingTextIndex.compact]] scheme — the generic
    * pass would preserve the batch dimension it exists to remove).
    * Probe cost depends on FILES in the probed buckets, so without a
    * periodic fold it grows with batch count even though pruned rows
    * stay flat. The HWM rides a sibling file, untouched, so replay
    * skipping survives the fold; new batches (id > HWM > -1) land
    * beside the folded partition. Maintenance only — [[probeIndex]] is
    * correct (just slower) without it, and a crashed pass is healed by
    * the next ingest or compaction ([[SwapDir.recover]]). Runs under the
    * index's [[StoreLock]], so it never interleaves with an ingest. */
  /** Path-only convenience — compaction touches nothing but the index. */
  def compactIndex(spark: SparkSession, indexPath: String)
      : graft.sink.Compaction.CompactionResult =
    compactIndex(spark, Config(indexPath = indexPath,
      pairsPath = indexPath, checkpointDir = indexPath))

  def compactIndex(spark: SparkSession, cfg: Config)
      : graft.sink.Compaction.CompactionResult =
    StoreLock(cfg.indexPath) { compactLocked(spark, cfg) }

  private def compactLocked(spark: SparkSession, cfg: Config)
      : graft.sink.Compaction.CompactionResult = {
    val dir = new org.apache.hadoop.fs.Path(cfg.indexPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, SwapDir.compactTarget(dir))
    if (!fs.exists(dir))
      return graft.sink.Compaction.CompactionResult(0, 0, 0L, 0L)
    def fileCount(): Int =
      spark.read.parquet(cfg.indexPath).inputFiles.length
    val before = fileCount()
    // fold ONLY committed batches (id <= HWM; negative migrated/folded
    // ids included) — an uncommitted partition must stay its own
    // partition so the stream's replay overwrites it, not duplicate it
    val hwm = lastBatch(spark, cfg)
    val all = spark.read.parquet(cfg.indexPath)
    val hasBatch = all.columns.contains("batch_id")
    val committed =
      if (hasBatch) all.filter(col("batch_id").cast("long") <= hwm)
      else all // a batch-built index has no replay concept: fold it all
    val uncommitted =
      if (hasBatch) CommittedFold.uncommittedDirs(fs, dir, hwm)
      else Array.empty[org.apache.hadoop.fs.Path]
    if (hasBatch && uncommitted.length ==
        fs.listStatus(dir).count(st =>
          CommittedFold.batchIdOf(st.getPath.getName).isDefined))
      return graft.sink.Compaction.CompactionResult(before, before, 0L, 0L)
    val folded = committed
      .select(col("sid"), col("band"), col("band_key"), col("bucket"))
      .withColumn("batch_id", lit(-1L))
      .repartition(col("bucket")) // one file per bucket after the fold
    SwapDir.install(fs, SwapDir.compactTarget(dir)) { tmp =>
      folded.write.partitionBy("batch_id", "bucket").parquet(tmp.toString)
      CommittedFold.preserveInto(fs, uncommitted, tmp)
    }
    val rows = spark.read.parquet(cfg.indexPath).count()
    graft.sink.Compaction.CompactionResult(before, fileCount(), 0L, rows)
  }
}
