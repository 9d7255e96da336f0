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

  /** Crash-window recovery for [[compact]]'s aside-rename swap: a
    * death between `rename(cur → old)` and `rename(tmp → cur)` leaves
    * the only full state in `__old` — restore it BEFORE any existence
    * check or read, or the next batch would restart every source's
    * offset at zero (the [[SwapDir.recover]] contract). */
  private def massExists(spark: org.apache.spark.sql.SparkSession,
      cfg: Config): Boolean = {
    val fs = new Path(cfg.massPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(cfg.massPath)
    val old = new Path(cfg.massPath + "__old")
    if (!fs.exists(cur) && fs.exists(old) && !fs.rename(old, cur))
      throw new IllegalStateException(s"sampler swap recovery: $old")
    fs.exists(cur)
  }

  /** Advisory lock serializing batch commits against [[compact]]'s
    * two-rename swap (r16 VERDICT ask #6): blocking, so a compact arriving
    * mid-batch queues behind the batch instead of corrupting the swap, and
    * a batch arriving mid-compact waits instead of crashing the stream.
    * Keyed by the mass store path; the lock directory rides beside it
    * (local driver-host scope, like every OffloadLock — a cluster
    * deployment swaps the lock backend, not the call sites). */
  private def withStoreLock[T](cfg: Config)(body: => T): T =
    graft.orchestrate.OffloadLock.withBlockingLock(
      cfg.massPath.stripPrefix("file:") + "__lock", "sampler-store")(body)

  private[graft] def processBatch(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit =
    withStoreLock(cfg) { processBatchLocked(batch, batchId, cfg) }

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
    // offsets = everyone ELSE's deltas (self-exclusion: a mid-crash
    // rerun must start where its first attempt started)
    val offsets: DataFrame =
      if (massExists(spark, cfg))
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

  /** The per-source running char mass (the sampler's whole state). */
  def offsets(spark: org.apache.spark.sql.SparkSession,
              cfg: Config): DataFrame = {
    if (massExists(spark, cfg))
      spark.read.parquet(cfg.massPath)
        .groupBy(col("source")).agg(sum(col("mass")).as("mass"))
    else spark.emptyDataFrame
      .select(lit("").as("source"), lit(0L).as("mass")).limit(0)
  }

  /** Fold every COMMITTED per-batch mass delta into one
    * `batch_id = -1` partition (the *-compact discipline the dedup /
    * text-index / cc stores share), so the per-batch offset read stays
    * one partition per source regardless of stream age. Safe against
    * the running stream's self-exclusion (−1 never equals a real batch
    * id) and against replays (only batches ≤ the committed HWM fold —
    * an uncommitted partition from a mid-crash attempt stays in place
    * for its rerun to overwrite). Same aside-rename swap + rollback as
    * every other store; the HWM file is a SIBLING of the swapped
    * directory and survives it.
    *
    * Concurrency: the whole compact (existence check through swap) runs
    * under the SAME advisory lock as every batch commit
    * ([[withStoreLock]]), so the non-atomic two-rename swap can never
    * interleave with a processBatch's `__old` recovery rename — the race
    * that previously had to be excluded by an operational "run between
    * batches" contract is now structurally impossible on one driver host
    * (`StreamingSamplerSpec` forces it and observes mutual exclusion). */
  def compact(spark: org.apache.spark.sql.SparkSession,
              cfg: Config): Unit = withStoreLock(cfg) {
    compactLocked(spark, cfg)
  }

  private def compactLocked(spark: org.apache.spark.sql.SparkSession,
              cfg: Config): Unit = {
    if (!massExists(spark, cfg)) return
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
    val fs = new Path(cfg.massPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(cfg.massPath + "__tmp")
    fs.delete(tmp, true)
    merged.write.mode("overwrite").partitionBy("batch_id")
      .parquet(tmp.toString)
    val old = new Path(cfg.massPath + "__old")
    fs.delete(old, true)
    if (!fs.rename(new Path(cfg.massPath), old))
      throw new IllegalStateException("sampler compact: cannot move")
    if (!fs.rename(tmp, new Path(cfg.massPath))) {
      fs.rename(old, new Path(cfg.massPath)) // roll back
      throw new IllegalStateException("sampler compact: cannot install")
    }
    fs.delete(old, true)
    ()
  }
}
