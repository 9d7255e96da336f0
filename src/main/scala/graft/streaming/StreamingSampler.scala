package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous deterministic SYSTEMATIC sampling proportional to size —
  * the streaming face of q322: a document is picked exactly when its
  * char mass crosses a multiple of the stride, measured on the
  * per-source RUNNING cumulative across all batches so far. No RNG
  * anywhere. The walk order is ARRIVAL order — (batch, doc_id within
  * batch) — so when doc_ids arrive in order per source (the append-log
  * contract of every feed this repo ships), the streamed pick set is
  * bit-identical to the batch operator over the concatenated stream
  * (the spec pins exactly that case); an out-of-order feed still
  * yields a valid PPS sample OF ITS ARRIVAL ORDER, but not the batch
  * operator's doc_id-ordered picks — same mass, possibly different
  * representatives.
  *
  * State is ONE tiny relation: the per-(source, batch) char-mass
  * deltas, partitioned by `batch_id` — the offset a batch starts from
  * is the sum of all OTHER batches' deltas below it, so state never
  * rewrites, only appends; [[compact]] folds committed deltas into one
  * `batch_id = -1` partition so per-batch offset reads stay
  * source-scale regardless of stream age. Picks land partitioned by
  * `batch_id` too.
  *
  * Replay semantics: EXACTLY-ONCE BY CONSTRUCTION (the
  * [[StreamingCuration]] scheme): both outputs are written with
  * batch-scoped dynamic partition overwrite, a sibling HWM file skips
  * fully-committed replays, and the offset read EXCLUDES the replaying
  * batch's own delta partition — a mid-crash rerun therefore starts
  * from the same offset as the first attempt and deterministically
  * overwrites its own partitions with identical rows.
  */
object StreamingSampler {

  final case class Config(
      picksPath: String,
      massPath: String,
      checkpointDir: String,
      strideChars: Long = 2000L)

  def start(docs: DataFrame, cfg: Config): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, cfg)
      }
      .start()

  private def hwmPath(cfg: Config) = new Path(cfg.massPath + "__hwm")

  private[graft] def lastBatch(
      spark: org.apache.spark.sql.SparkSession, cfg: Config): Long =
    Hwm.read(hwmPath(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      hwmPath(cfg))

  /** [[compact]]'s swap paths: `mass`, `mass__tmp`, `mass__old`. A
    * death between the two renames leaves the only full state in
    * `__old`; a batch [[SwapDir.recover]]s it before any existence check
    * or read, or it would restart every source's offset at zero. */
  private def massTarget(cfg: Config) =
    SwapDir.target(new Path(cfg.massPath))

  private def fs(spark: org.apache.spark.sql.SparkSession, cfg: Config) =
    new Path(cfg.massPath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def processBatch(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit =
    StoreLock(cfg.massPath) { processBatchLocked(batch, batchId, cfg) }

  private def processBatchLocked(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit = {
    val spark = batch.sparkSession
    if (!Hwm.replayGuard(batchId, lastBatch(spark, cfg),
        "streaming sampler")) return // committed replay: skip
    // an empty batch must not write: a zero-row partitioned write
    // creates a schema-less parquet directory that poisons every later
    // read (the StreamingOffload guard)
    if (batch.isEmpty) return
    import org.apache.spark.sql.expressions.Window
    val b = batch.select(col("source"), col("doc_id"), col("n_chars"))
    SwapDir.recover(fs(spark, cfg), massTarget(cfg))
    // offsets = everyone ELSE's deltas (self-exclusion: a mid-crash
    // rerun must start where its first attempt started)
    val offsets: DataFrame =
      if (fs(spark, cfg).exists(massTarget(cfg).current))
        spark.read.parquet(cfg.massPath)
          .filter(col("batch_id").cast("long") =!= batchId)
          .groupBy(col("source"))
          .agg(sum(col("mass")).as("off"))
      else spark.emptyDataFrame
        .select(lit("").as("source"), lit(0L).as("off")).limit(0)
    // n_chars as SECONDARY sort key: doc_id alone leaves cumulative
    // attribution among tied doc_ids nondeterministic (Spark gives no
    // within-partition order guarantee for window ties), so a replay
    // could pick a different tied row than the first attempt — with
    // the tiebreak, duplicate (source, doc_id) rows order by mass and
    // fully-identical duplicates are interchangeable (same cum walk
    // either way), so the replay contract needs NO uniqueness
    // assumption on the feed
    val w = Window.partitionBy(col("source"))
      .orderBy(col("doc_id"), col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stride = cfg.strideChars
    val picks = b
      .withColumn("cum_in", sum(col("n_chars")).over(w))
      .join(broadcast(offsets), Seq("source"), "left_outer")
      .withColumn("cum", col("cum_in") + coalesce(col("off"), lit(0L)))
      .filter(expr(s"cum div $stride > (cum - n_chars) div $stride"))
      .select(col("source"), col("doc_id"), col("n_chars"),
        lit(batchId).as("batch_id"))
    // a batch with no picks is routine (one pick per stride of mass):
    // skip the write rather than leave a schema-less directory — a
    // mid-crash replay is still deterministic (same offsets ⇒ same
    // empty pick set ⇒ same skip)
    if (!picks.isEmpty)
      picks.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(cfg.picksPath)
    b.groupBy(col("source"))
      .agg(sum(col("n_chars")).as("mass"))
      .select(col("source"), col("mass"), lit(batchId).as("batch_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(cfg.massPath)
    Hwm.write(hwmPath(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      hwmPath(cfg), batchId)
  }

  /** Every pick so far (empty when nothing has arrived). */
  def picks(spark: org.apache.spark.sql.SparkSession,
            cfg: Config): DataFrame = {
    val fs = new Path(cfg.picksPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(cfg.picksPath)))
      spark.read.parquet(cfg.picksPath)
    else spark.emptyDataFrame
      .select(lit("").as("source"), lit(0L).as("doc_id"),
        lit(0L).as("n_chars"), lit(0L).as("batch_id"))
      .limit(0)
  }

  /** The per-source running char mass (the sampler's whole state).
    * Renames nothing: mid-compact, the aside is served. */
  def offsets(spark: org.apache.spark.sql.SparkSession,
              cfg: Config): DataFrame =
    SwapDir.resolveForRead(fs(spark, cfg), massTarget(cfg)) match {
      case Some(d) => spark.read.parquet(d.toString)
        .groupBy(col("source")).agg(sum(col("mass")).as("mass"))
      case None => spark.emptyDataFrame
        .select(lit("").as("source"), lit(0L).as("mass")).limit(0)
    }

  /** Fold every COMMITTED per-batch mass delta into one
    * `batch_id = -1` partition (the *-compact discipline the dedup /
    * text-index / cc stores share), so the per-batch offset read stays
    * one partition per source regardless of stream age. Safe against
    * the running stream's self-exclusion (−1 never equals a real batch
    * id) and against replays (only batches ≤ the committed HWM fold —
    * an uncommitted partition from a mid-crash attempt stays in place
    * for its rerun to overwrite). The swap is [[SwapDir.install]], as for
    * every other store; the HWM file is a SIBLING of the swapped
    * directory and survives it.
    *
    * Concurrency: the whole compact (existence check through swap) runs
    * under the SAME advisory lock as every batch commit
    * ([[StoreLock]]), so the non-atomic two-rename swap can never
    * interleave with a processBatch's [[SwapDir.recover]] — the race
    * that previously had to be excluded by an operational "run between
    * batches" contract is now structurally impossible on one driver host
    * (`StreamingSamplerSpec` forces it and observes mutual exclusion). */
  def compact(spark: org.apache.spark.sql.SparkSession,
              cfg: Config): Unit = StoreLock(cfg.massPath) {
    compactLocked(spark, cfg)
  }

  private def compactLocked(spark: org.apache.spark.sql.SparkSession,
              cfg: Config): Unit = {
    SwapDir.recover(fs(spark, cfg), massTarget(cfg))
    if (!fs(spark, cfg).exists(massTarget(cfg).current)) return
    val committed = lastBatch(spark, cfg)
    val all = spark.read.parquet(cfg.massPath)
    val fold = all.filter(col("batch_id").cast("long") <= committed)
    val keep = all.filter(col("batch_id").cast("long") > committed)
    val merged = fold
      .groupBy(col("source")).agg(sum(col("mass")).as("mass"))
      .select(col("source"), col("mass"), lit(-1L).as("batch_id"))
      .unionByName(keep
        .select(col("source"), col("mass"),
          col("batch_id").cast("long").as("batch_id")))
    SwapDir.install(fs(spark, cfg), massTarget(cfg)) { tmp =>
      merged.write.partitionBy("batch_id").parquet(tmp.toString)
    }
  }
}
