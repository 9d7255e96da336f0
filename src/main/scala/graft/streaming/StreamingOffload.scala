package graft.streaming

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.meta.{MetadataStore, OffloadMetadata}

/** Streaming offload: the incremental HWM model as a continuous query.
  *
  * The reference's incremental offload is a BATCH loop over new partitions;
  * its streaming-native restatement is `readStream → foreachBatch(append +
  * HWM update)`: every micro-batch is one "offload chunk", the watermark is
  * the HWM, and the metadata store records progress exactly like the batch
  * path — so a consumer can switch between batch and streaming ingest
  * without changing the metadata contract.
  *
  * Scale: the sink appends partitioned parquet; each micro-batch writes only
  * its own files (no rewrite), and the per-batch metadata write is O(1).
  */
object StreamingOffload {

  final case class Config(
      sourceTable: String,
      finalPath: String,
      metadataDir: String,
      hwmColumn: String,
      partitionCols: Seq[String] = Nil,
      checkpointDir: String)

  /** Attach the offload sink to a streaming DataFrame. Caller starts/stops
    * the returned query. */
  def start(stream: DataFrame, cfg: Config): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, cfg)
      }
      .start()

  /** One micro-batch = one offload chunk, EXACTLY-ONCE via the batch
    * path's own crash-window protocol (`OffloadRunner`'s pending-chunk
    * marker): a fully-committed batch replays as a no-op (`snapshotId`
    * records the last committed batch id); a batch that crashed BETWEEN
    * the append and the metadata commit left a pending marker recording
    * the pre-append and batch ROW COUNTS, so the rerun reconciles by
    * exact arithmetic — table at pre+batch rows means the append landed
    * (commit only), at pre rows means it didn't (append), anything else
    * is a partial append and FAILS LOUDLY rather than silently losing
    * or duplicating the slice. Counting is exact and type-free, unlike
    * a max-HWM probe, which is ambiguous when batches share boundary
    * values and blind to partially-committed files. The pre-append
    * count normally comes from a crash-safe running-total sidecar
    * (`<finalPath>__rows`), so the steady-state path never counts the
    * table. */
  private[streaming] def writeBatch(batch: DataFrame, batchId: Long,
                                    cfg: Config): Unit = {
    if (batch.isEmpty) return
    val previous = MetadataStore.load(cfg.metadataDir, cfg.sourceTable)
    // committed replay: the recorded snapshot covers exactly this batch.
    // A legitimate foreachBatch replay can only re-fire the LAST batch
    // (offsets commit per batch), so snapshotId == batchId is the ONLY
    // benign skip. snapshotId ABOVE batchId means the checkpoint was
    // reset (batch ids restarted at 0) or the metadata document is bound
    // to the wrong stream — silently skipping would turn EVERY future
    // batch into a no-op and drop new data without a signal, so fail
    // loudly and make the operator reset or rebind explicitly.
    val snapshot = previous.flatMap(_.snapshotId)
    if (snapshot.contains(batchId)) return
    snapshot.filter(_ > batchId).foreach { snap =>
      throw new IllegalStateException(
        s"streaming offload ${cfg.sourceTable}: batch id $batchId is " +
          s"below the committed snapshot id $snap — the checkpoint was " +
          "reset or this metadata document belongs to another stream. " +
          "Refusing to skip (that would silently drop every new batch); " +
          "delete/rebind the metadata document or restore the checkpoint.")
    }

    val spark = batch.sparkSession
    val agg = batch.agg(max(col(cfg.hwmColumn)), count(lit(1))).head()
    val newMaxS = String.valueOf(agg.get(0))
    val batchRows = agg.getLong(1)
    // rendered HWMs compare lexicographically; valid for the fixed-width
    // timestamp rendering used on event-time columns (the streaming HWM
    // case) — a replayed old batch therefore never regresses the HWM
    val prevHwm = previous.map(_.incrementalHighValue).getOrElse(Nil)

    val finalDir = new org.apache.hadoop.fs.Path(cfg.finalPath)
    val fs = finalDir
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rowsPath = new org.apache.hadoop.fs.Path(cfg.finalPath + "__rows")
    def tableRows(): Long =
      if (fs.exists(finalDir)) spark.read.parquet(cfg.finalPath).count()
      else 0L
    // running-total sidecar, BOUND to the snapshot that produced it
    // ("<snapshotId>:<total>", tmp+rename): a crash between the metadata
    // commit and the sidecar write leaves a STALE total, which a bare
    // number could not reveal — binding it to the snapshot id makes
    // staleness detectable, and the fallback is one exact re-count
    def readRows(): Option[Long] = {
      if (!fs.exists(rowsPath)) return None
      val in = fs.open(rowsPath)
      val raw = try new String(in.readAllBytes(), "UTF-8").trim
        finally in.close()
      raw.split(':') match {
        case Array(snap, total)
            if scala.util.Try(snap.toLong).isSuccess &&
              scala.util.Try(total.toLong).isSuccess &&
              previous.flatMap(_.snapshotId).contains(snap.toLong) =>
          Some(total.toLong)
        case _ => None // missing, torn, or stale: recount
      }
    }

    val markerHwm = previous
      .filter(_.pendingChunkKeys == Seq(cfg.hwmColumn))
      .map(_.pendingChunkHwm)
      .filter(_.headOption.contains(batchId.toString))
    val marker = markerHwm.filter(_.length == 3)
    val landed = marker match {
      case Some(Seq(_, preS, bcS)) =>
        val (pre, bc) = (preS.toLong, bcS.toLong)
        val actual = tableRows()
        if (actual == pre + bc) true
        else if (actual == pre) false
        else throw new IllegalStateException(
          s"streaming offload ${cfg.sourceTable} batch $batchId: final " +
            s"table holds $actual rows, expected $pre (append lost) or " +
            s"${pre + bc} (append landed) — a partial append needs " +
            "manual reconciliation before the stream can resume")
      case _ if markerHwm.exists(_.length == 1) =>
        // marker written by the PREVIOUS build (batch id only, no row
        // accounting): reconcile with its heuristic — the append landed
        // iff the table's max HWM already covers the batch's. Coarser
        // than the count protocol (ambiguous for equal boundary values)
        // but strictly better than re-appending a landed slice.
        fs.exists(finalDir) && {
          val m = spark.read.parquet(cfg.finalPath)
            .agg(max(col(cfg.hwmColumn))).head().get(0)
          m != null && String.valueOf(m) >= newMaxS
        }
      case _ => false
    }
    // pre-append count: the marker's record on a replay, else the
    // snapshot-bound sidecar, else (first batch / stale sidecar) one
    // exact count
    val preRows = marker.map(_(1).toLong)
      .orElse(readRows())
      .getOrElse(tableRows())
    if (!landed) {
      if (marker.isEmpty)
        // pending marker BEFORE the append — the crash-window breadcrumb
        MetadataStore.save(cfg.metadataDir, OffloadMetadata(
          sourceTable = cfg.sourceTable,
          backendTable = cfg.finalPath,
          offloadType = "INCREMENTAL",
          incrementalKey = Seq(cfg.hwmColumn),
          incrementalHighValue = prevHwm,
          snapshotId = previous.flatMap(_.snapshotId),
          pendingChunkKeys = Seq(cfg.hwmColumn),
          pendingChunkHwm = Seq(batchId.toString, preRows.toString,
            batchRows.toString)))
      val writer = batch.write.mode("append")
      (if (cfg.partitionCols.nonEmpty) writer.partitionBy(cfg.partitionCols: _*)
       else writer).parquet(cfg.finalPath)
    }
    val advanced =
      if (prevHwm.isEmpty || prevHwm.head < newMaxS) Seq(newMaxS)
      else prevHwm
    // commit: HWM + snapshot advance and the pending marker clears, in
    // one atomic metadata save
    MetadataStore.save(cfg.metadataDir, OffloadMetadata(
      sourceTable = cfg.sourceTable,
      backendTable = cfg.finalPath,
      offloadType = "INCREMENTAL",
      incrementalKey = Seq(cfg.hwmColumn),
      incrementalHighValue = advanced,
      snapshotId = Some(batchId)))
    // running total AFTER the commit — a crash in between leaves a
    // sidecar bound to the OLD snapshot, detected and re-counted once
    Hwm.write(fs, rowsPath, s"$batchId:${preRows + batchRows}")
  }
}
