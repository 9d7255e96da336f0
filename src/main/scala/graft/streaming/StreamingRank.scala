package graft.streaming

import graft.Cut.CutOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Graph

/** Incrementally-maintained PageRank over a stream of co-occurrence
  * pairs — the iterative companion to [[StreamingCc]] (labels stay
  * current there; global rank stays current here).
  *
  * Two stores under `Config.storeDir`:
  *   - `edges`: canonical `(a < b)` pairs, EXACTLY-ONCE by construction
  *     (the [[StreamingDedup]] scheme): partitioned `(batch_id, bucket)`
  *     with batch-scoped dynamic overwrite + a crash-safe [[Hwm]]
  *     sidecar, so a replayed or mid-crash batch rewrites its own
  *     partitions. Each batch stores only pairs NOT already in committed
  *     history — the probe is bucket-pruned (`pmod(a, buckets)`) and
  *     excludes the batch's own partitions, so degrees never
  *     double-count a re-delivered edge.
  *   - `ranks`: the whole rank relation, swap-managed (temp + aside
  *     rename with crash recovery, the [[StreamingCc.compact]] scheme).
  *
  * Ranking itself is a MAINTENANCE pass, not per-batch work: a PageRank
  * step is a full-edge-relation join, so running it inside every
  * micro-batch would make ingest cost grow with the graph, not the
  * batch. [[refreshRanks]] runs `Config.iterations` power steps
  * warm-started from the previous rank relation — power iteration
  * composes (K₂ steps from the K₁-step state = K₁+K₂ cold steps,
  * spec-pinned), so periodic refreshes converge exactly like one long
  * cold run while each refresh pays only its own steps. At 100 TB the
  * edge relation stays bucket-partitioned and never moves; only the
  * node-scale rank relation shuffles per step.
  */
object StreamingRank {

  final case class Config(
      storeDir: String,
      checkpointDir: String,
      /** `pmod(a, buckets)` partition count for the edge store. An
        * IMMUTABLE store property: the first ingest persists it in an
        * `edges__buckets` sidecar and every later ingest uses the
        * persisted value — the dedup probe prunes history by bucket, so
        * probing with a different modulus than the stored rows were
        * written with would silently miss stored edges and double-count
        * degrees. */
      buckets: Int = 16,
      /** power steps per [[refreshRanks]] call. */
      iterations: Int = 5,
      dampingPct: Int = 85)

  private def edgesDir(cfg: Config) = new Path(cfg.storeDir, "edges")
  private def ranksTarget(cfg: Config) =
    SwapDir.target(new Path(cfg.storeDir, "ranks"))
  /** [[compactEdges]]' swap paths (`edges__compact_tmp`/`_old`). */
  private def edgesTarget(cfg: Config) = SwapDir.compactTarget(edgesDir(cfg))
  private def hwmPath(cfg: Config) =
    new Path(cfg.storeDir, "edges__hwm")
  private def bucketsPath(cfg: Config) =
    new Path(cfg.storeDir, "edges__buckets")

  /** The store's effective bucket count: the persisted value if the
    * store has one, else `cfg.buckets` persisted now (write-once,
    * BEFORE any data write — a crash in between replays with the same
    * persisted value). */
  private def effectiveBuckets(fs: org.apache.hadoop.fs.FileSystem,
                               cfg: Config): Int = {
    val stored = Hwm.read(fs, bucketsPath(cfg))
    if (stored > 0) stored.toInt
    else {
      require(cfg.buckets >= 1, s"buckets must be >= 1: ${cfg.buckets}")
      Hwm.write(fs, bucketsPath(cfg), cfg.buckets.toLong)
      cfg.buckets
    }
  }

  private[streaming] def lastBatch(spark: SparkSession,
                                   cfg: Config): Long =
    Hwm.read(hwmPath(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      hwmPath(cfg))

  /** Attach the rank-maintenance sink to a streaming DataFrame of
    * `(id_a, id_b)` pairs. Caller starts/stops the returned query and
    * calls [[refreshRanks]] at its own cadence. */
  def start(pairs: DataFrame, cfg: Config): StreamingQuery =
    pairs.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, cfg)
      }
      .start()

  /** One micro-batch: canonicalise, dedup against committed history
    * (bucket-pruned probe, own batch excluded), batch-scoped dynamic
    * overwrite, HWM last. Exactly-once under replay and mid-crash.
    * Public for the CLI's `rank-merge` (batch-at-a-time driving, the
    * [[StreamingCc.mergeBatch]] pattern). Runs under the store's
    * [[StoreLock]], as [[compactEdges]] does. */
  def ingestBatch(batch: DataFrame, batchId: Long,
                  cfg: Config): Unit =
    StoreLock(cfg.storeDir) { ingest(batch, batchId, cfg) }

  private def ingest(batch: DataFrame, batchId: Long, cfg: Config): Unit = {
    val spark = batch.sparkSession
    // guard BEFORE the empty short-circuit: a reset checkpoint or
    // misbound store (batchId below the committed HWM) must fail loudly
    // even when the offending batch happens to carry no rows — the
    // other HWM stores run the guard first for the same reason
    if (!Hwm.replayGuard(batchId, lastBatch(spark, cfg),
        "streaming rank")) return // committed replay: skip
    if (batch.isEmpty) return // new but empty: no write, HWM unchanged
    val fs = edgesDir(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, edgesTarget(cfg))
    val nBuckets = effectiveBuckets(fs, cfg)
    val fresh = batch
      .select(least(col("id_a"), col("id_b")).cast("long").as("a"),
        greatest(col("id_a"), col("id_b")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .withColumn("bucket",
        pmod(col("a"), lit(nBuckets.toLong)).cast("int"))
      .cut(true)
    // All-self-pair (or all-null) batches write NOTHING — an empty
    // first write would leave a parquet-less edges directory that
    // wedges every later read ("unable to infer schema"); the HWM
    // still advances so the replay skips the no-op batch.
    if (!fresh.isEmpty) {
      val novel =
        if (fs.exists(edgesDir(cfg))) {
          val buckets = fresh.select(col("bucket")).distinct()
            .collect().map(_.getInt(0)).toSeq
          val hist = spark.read.parquet(edgesDir(cfg).toString)
            .filter(col("bucket").isInCollection(buckets) &&
              col("batch_id").cast("long") =!= batchId)
            .select(col("a"), col("b"))
          fresh.join(hist, Seq("a", "b"), "left_anti")
        } else fresh
      novel.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "bucket")
        .parquet(edgesDir(cfg).toString)
    }
    Hwm.write(fs, hwmPath(cfg), batchId)
  }

  /** The committed canonical edge set (uncommitted partitions — a batch
    * that crashed before its HWM — excluded; the replay rewrites them). */
  def edges(spark: SparkSession, cfg: Config): DataFrame = {
    val fs = edgesDir(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.resolveForRead(fs, edgesTarget(cfg)) match {
      case Some(d) => spark.read.parquet(d.toString)
        .filter(col("batch_id").cast("long") <= lastBatch(spark, cfg))
        .select(col("a"), col("b"))
      case None => spark.emptyDataFrame
        .select(lit(0L).as("a"), lit(0L).as("b")).limit(0)
    }
  }

  /** Current rank relation `(node, rank_e6)`; empty before the first
    * refresh. READ-ONLY — the [[SwapDir]] contract: readers never heal
    * (a concurrent reader landing inside [[refreshRanks]]'s rename
    * window serves the aside and must not rename it back mid-install);
    * a crash that LEAVES the aside is healed by the next writer. */
  def ranks(spark: SparkSession, cfg: Config): DataFrame = {
    val fs = ranksTarget(cfg).current
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.resolveForRead(fs, ranksTarget(cfg)) match {
      case Some(d) => spark.read.parquet(d.toString)
        .select(col("node"), col("rank_e6"))
      case None => spark.emptyDataFrame
        .select(lit(0L).as("node"), lit(0L).as("rank_e6")).limit(0)
    }
  }

  /** Run `Config.iterations` power steps over the committed edge set,
    * warm-started from the stored ranks, and atomically install the
    * result ([[SwapDir]] — writer heals, aside retained through the
    * swap for concurrent readers). Idempotent per edge-state only in
    * the fixpoint sense — each call advances the iteration count; see
    * the class doc. */
  def refreshRanks(spark: SparkSession, cfg: Config): Unit = {
    val fs = ranksTarget(cfg).current
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, ranksTarget(cfg))
    val pairs = edges(spark, cfg)
    if (pairs.isEmpty) return
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val init =
      if (fs.exists(ranksTarget(cfg).current)) Some(ranks(spark, cfg))
      else None
    val next = Graph.pageRankFrom(sym, init, cfg.iterations,
      cfg.dampingPct)
    // release in `finally`: on success the parquet install was the
    // checkpointed result's last read; on an install FAILURE the same
    // holds — a long-lived refresher whose refresh keeps failing must
    // not pin one node-scale RDD per attempt
    try {
      // rank-stability drift, the rank view's twin of the community
      // drift log: the outgoing vs incoming TOP-K heads compared by
      // overlap count and Spearman FOOTRULE over the shared members
      // (Σ|position change|, exact integer) — measured BEFORE the
      // install while the outgoing generation is readable; two K-row
      // collects, K = 100, the top-k itself is a TakeOrdered. A high
      // footrule or a low overlap tells rank consumers (serving caches,
      // routing tables) the head reorganised and should be re-resolved.
      def top(df: DataFrame): Array[Long] =
        df.orderBy(col("rank_e6").desc, col("node")).limit(DriftK)
          .collect().map(_.getLong(0))
      val driftRow = init.map(top).filter(_.nonEmpty).map { pt =>
        val nt = top(next)
        val prevPos = pt.zipWithIndex.toMap
        val nextPos = nt.zipWithIndex.toMap
        val shared = prevPos.keySet & nextPos.keySet
        val footrule = shared.toSeq
          .map(n => math.abs(prevPos(n) - nextPos(n)).toLong).sum
        (math.min(pt.length, nt.length).toLong, shared.size.toLong,
          footrule)
      }
      SwapDir.install(fs, ranksTarget(cfg)) { tmp =>
        next.write.parquet(tmp.toString)
      }
      // appended only AFTER a successful install: the advisory log never
      // references a generation that failed to land (a crash in between
      // loses one row, never corrupts the ranks)
      driftRow.foreach { case (k, overlap, footrule) =>
        import spark.implicits._
        // max(refresh_seq)+1, not count()+1 (r14 ask #8): correct even
        // if a row were ever lost, and append-cheap under frequent
        // refreshes — same bounded read either way
        val seq = rankDrift(spark, cfg)
          .agg(coalesce(max(col("refresh_seq")), lit(0L)))
          .head.getLong(0) + 1
        Seq((seq, k, overlap, footrule))
          .toDF("refresh_seq", "k", "overlap", "footrule")
          .coalesce(1)
          .write.mode("append").parquet(rankDriftPath(cfg).toString)
      }
    } finally Graph.release(next)
  }

  private def rankDriftPath(cfg: Config) =
    new Path(cfg.storeDir, "ranks_drift")

  /** Size of the compared head in the rank drift log — shared by the
    * community drift's head comparison so the two logs' `k` columns
    * mean the same thing. */
  private[graft] val DriftK = 100

  /** The refresh-over-refresh rank-stability log, oldest first:
    * `(refresh_seq, k, overlap, footrule)` — overlap is |top-K ∩ top-K|
    * across the two generations, footrule the exact Σ|position change|
    * over the shared members (0 = head unchanged). Refresh-cardinality
    * (one row per refresh after the first), so reading it whole is
    * always cheap. */
  def rankDrift(spark: SparkSession, cfg: Config): DataFrame = {
    val p = rankDriftPath(cfg)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.emptyDataFrame
        .select(lit(0L).as("refresh_seq"), lit(0L).as("k"),
          lit(0L).as("overlap"), lit(0L).as("footrule"))
        .limit(0)
    else spark.read.parquet(p.toString).orderBy(col("refresh_seq"))
  }

  /** Fold committed edge batches into one `batch_id=-1` partition per
    * bucket (the [[StreamingDedup.compactIndex]] scheme): the probe's
    * file cost stays flat as batch count grows; uncommitted partitions
    * are preserved for their replay. Runs under the store's
    * [[StoreLock]], so it never interleaves with an ingest. */
  def compactEdges(spark: SparkSession, cfg: Config)
      : graft.sink.Compaction.CompactionResult =
    StoreLock(cfg.storeDir) { compactLocked(spark, cfg) }

  private def compactLocked(spark: SparkSession, cfg: Config)
      : graft.sink.Compaction.CompactionResult = {
    val dir = edgesDir(cfg)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, edgesTarget(cfg))
    if (!fs.exists(dir))
      return graft.sink.Compaction.CompactionResult(0, 0, 0L, 0L)
    def fileCount(): Int =
      spark.read.parquet(dir.toString).inputFiles.length
    val before = fileCount()
    val hwm = lastBatch(spark, cfg)
    val committed = spark.read.parquet(dir.toString)
      .filter(col("batch_id").cast("long") <= hwm)
    val uncommitted = CommittedFold.uncommittedDirs(fs, dir, hwm)
    if (uncommitted.length == fs.listStatus(dir).count(st =>
        CommittedFold.batchIdOf(st.getPath.getName).isDefined))
      return graft.sink.Compaction.CompactionResult(before, before, 0L, 0L)
    val folded = committed.select(col("a"), col("b"), col("bucket"))
      .withColumn("batch_id", lit(-1L))
      .repartition(col("bucket"))
    SwapDir.install(fs, edgesTarget(cfg)) { tmp =>
      folded.write.partitionBy("batch_id", "bucket").parquet(tmp.toString)
      CommittedFold.preserveInto(fs, uncommitted, tmp)
    }
    val rows = spark.read.parquet(dir.toString).count()
    graft.sink.Compaction.CompactionResult(before, fileCount(), 0L, rows)
  }
}
