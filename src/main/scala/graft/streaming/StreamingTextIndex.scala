package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis

/** Continuously-maintained inverted index for lexical (BM25) serving —
  * the retrieval counterpart of [[StreamingDedup]]'s band index: each
  * micro-batch writes its postings `(term, doc_id, tf)` PARTITIONED BY
  * `(batch_id, bucket)` where `bucket = hash(term) mod termBuckets`, its
  * doc lengths, and a one-row per-batch totals relation. A query then
  * reads ONLY the buckets its terms hash to — partition pruning keeps
  * query cost proportional to the query's term footprint, not the
  * corpus (machine-checked by the flat-file-reads spec, same scheme as
  * the dedup index).
  *
  * [[query]] reproduces [[TextAnalysis.bm25Search]] digit-for-digit on
  * the same corpus (spec-pinned): document frequency comes from the
  * pruned postings, lengths from the doc-key join against candidates
  * only, and the integer BM25 arithmetic is the SHARED
  * [[TextAnalysis.bm25ScoreTopK]] scoring stage.
  *
  * Replay semantics: every write is scoped to the batch's own
  * `batch_id=N` partitions and uses DYNAMIC partition overwrite, so a
  * replayed batch — including one that crashed MID-WRITE, after some
  * appends but before the high-water mark — simply rewrites its own
  * partitions: the store is idempotent by construction, with no swap
  * window at all. The high-water batch id only skips wasted work on
  * replay of a fully-committed batch. */
object StreamingTextIndex {

  final case class Config(indexPath: String, lengthsPath: String,
                          totalsPath: String, checkpointDir: String,
                          termBuckets: Int = 64,
                          idCol: String = "doc_id",
                          textCol: String = "text")

  /** Stable bucket of a term — the postings partition column. */
  private[streaming] def bucketCol(buckets: Int) =
    pmod(xxhash64(col("term")), lit(buckets.toLong)).cast("int")

  /** The batch's postings with their index bucket attached. */
  private[streaming] def postings(batch: DataFrame,
                                  cfg: Config): DataFrame =
    batch.select(col(cfg.idCol).as("doc_id"),
        explode(TextAnalysis.tokens(lower(col(cfg.textCol)))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", bucketCol(cfg.termBuckets))

  def start(docs: DataFrame, cfg: Config): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, cfg)
      }
      .start()

  private def hwmPath(cfg: Config) = new Path(cfg.totalsPath, "_hwm")

  // tolerant read + temp-rename write (shared Hwm helper): a torn HWM
  // degrades to -1, which only costs a redundant rewrite — every write
  // here is batch-scoped dynamic overwrite, so replays are exactly-once
  private[streaming] def lastBatch(spark: SparkSession,
                                   cfg: Config): Long =
    Hwm.read(new Path(cfg.totalsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), hwmPath(cfg))

  private def totalsRoot(cfg: Config) =
    new Path(cfg.totalsPath, "totals").toString

  /** [[compact]]'s swap paths for one root (`__compact_tmp`/`_old`). */
  private def target(root: String) = SwapDir.compactTarget(new Path(root))

  /** The generation of `root` a reader should scan: the root, or its
    * aside while a fold is between its two renames. Renames nothing. */
  private def resolve(spark: SparkSession, root: String): Option[String] =
    SwapDir.resolveForRead(new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), target(root))
      .map(_.toString)

  private[streaming] def readTotals(spark: SparkSession,
                                    cfg: Config): (Long, Long) =
    resolve(spark, totalsRoot(cfg)) match {
      case None => (0L, 0L)
      case Some(t) =>
        val r = spark.read.parquet(t)
          .agg(sum(col("n_docs")), sum(col("corpus_len"))).head()
        (Option(r.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L),
         Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
    }

  /** Batch-scoped dynamic-overwrite writer: rewrites only this batch's
    * partitions, making a (partial-)replay a clean rewrite. */
  private def writeBatchPartitions(df: DataFrame, parts: Seq[String],
                                   path: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(parts: _*).parquet(path)

  /** One micro-batch under the store's [[StoreLock]] (keyed by the
    * totals root, which holds the HWM), as [[compact]] runs. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      cfg: Config): Unit =
    StoreLock(cfg.totalsPath) { ingest(batch, batchId, cfg) }

  private def ingest(batch: DataFrame, batchId: Long, cfg: Config): Unit = {
    val spark = batch.sparkSession
    if (!Hwm.replayGuard(batchId, lastBatch(spark, cfg),
        "streaming text index")) return // committed replay: skip
    val fs = new Path(cfg.totalsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed compact left the root aside-renamed: restore BEFORE any
    // write, or the fresh root would shadow the old data and the next
    // install would reclaim it
    Seq(cfg.indexPath, cfg.lengthsPath, totalsRoot(cfg))
      .foreach(root => SwapDir.recover(fs, target(root)))
    if (!batch.isEmpty) {
      writeBatchPartitions(
        postings(batch, cfg).withColumn("batch_id", lit(batchId)),
        Seq("batch_id", "bucket"), cfg.indexPath)
      val lengths = batch.select(col(cfg.idCol).as("doc_id"),
        TextAnalysis.tokenCount(col(cfg.textCol)).cast("long").as("dl"))
      writeBatchPartitions(lengths.withColumn("batch_id", lit(batchId)),
        Seq("batch_id"), cfg.lengthsPath)
      val agg = lengths.agg(count(lit(1)).as("n"), sum(col("dl")).as("l"))
        .head()
      import spark.implicits._
      writeBatchPartitions(
        Seq((agg.getLong(0),
          Option(agg.getAs[Long]("l")).getOrElse(0L), batchId))
          .toDF("n_docs", "corpus_len", "batch_id"),
        Seq("batch_id"), totalsRoot(cfg))
    }
    Hwm.write(fs, hwmPath(cfg), batchId)
  }

  /** Bucket-pruned postings for a query's terms. */
  private[streaming] def prunedPostings(spark: SparkSession, cfg: Config,
                                        terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val buckets = terms.toDF("term").select(bucketCol(cfg.termBuckets))
      .distinct().collect().map(_.getInt(0)).toSeq
    spark.read.parquet(resolve(spark, cfg.indexPath).getOrElse(cfg.indexPath))
      .filter(col("bucket").isInCollection(buckets) &&
        col("term").isin(terms: _*))
  }

  /** Fold the per-batch partition dimension away: every committed
    * batch's postings rewrite into ONE `batch_id=-1` partition, still
    * partitioned by term `bucket` (the pruning unit — a compaction that
    * flattened it would turn every query into an index scan); lengths
    * and totals fold the same way (totals to a single summed row). Run
    * periodically: the ingest path appends one partition set per batch,
    * so file count grows with batch count until a fold, exactly like
    * [[StreamingCc.compact]] for the label store. Maintenance only —
    * queries are correct, just slower, without it.
    *
    * Replay-safe: the high-water mark rides `_hwm` BESIDE the swapped
    * `totals` directory and is untouched, so a replayed batch id still
    * skips; new batches (id > HWM > -1) write their own partitions and
    * never collide with the folded one. Crash-safe by one
    * [[SwapDir.install]] per root; readers resolve to the aside while a
    * fold is between its renames, so an interrupted fold can never make
    * the index look empty, and the next batch or fold heals it. The fold
    * holds the [[StoreLock]] every batch takes, so no ingest lands in a
    * generation being replaced. */
  def compact(spark: SparkSession, cfg: Config): Unit =
    StoreLock(cfg.totalsPath) { compactLocked(spark, cfg) }

  private def compactLocked(spark: SparkSession, cfg: Config): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    // fold ONLY committed batches (id <= HWM; negative migrated/folded
    // ids included): an uncommitted partition — its batch crashed
    // between the data write and the HWM write — must stay its own
    // partition so the stream's replay dynamic-overwrites it; folding
    // it into -1 would double its postings once the replay lands
    val hwm = lastBatch(spark, cfg)
    def swapIn(root: String)(write: String => Unit): Unit = {
      val dir = new Path(root)
      val fs = dir.getFileSystem(hc)
      SwapDir.recover(fs, target(root))
      if (!fs.exists(dir)) return
      val uncommitted = CommittedFold.uncommittedDirs(fs, dir, hwm)
      if (uncommitted.length == fs.listStatus(dir).count(st =>
          CommittedFold.batchIdOf(st.getPath.getName).isDefined))
        return // nothing committed to fold
      SwapDir.install(fs, target(root)) { tmp =>
        write(tmp.toString)
        CommittedFold.preserveInto(fs, uncommitted, tmp)
      }
    }
    def committed(root: String) =
      spark.read.parquet(root).filter(col("batch_id").cast("long") <= hwm)
    swapIn(cfg.indexPath) { tmp =>
      committed(cfg.indexPath)
        .select(col("doc_id"), col("term"), col("tf"), col("bucket"))
        .withColumn("batch_id", lit(-1L))
        .repartition(col("bucket")) // one file per bucket after the fold
        .write.partitionBy("batch_id", "bucket").parquet(tmp)
    }
    swapIn(cfg.lengthsPath) { tmp =>
      committed(cfg.lengthsPath)
        .select(col("doc_id"), col("dl"))
        .withColumn("batch_id", lit(-1L))
        .repartition(col("doc_id")) // file sizing via shuffle.partitions
        .write.partitionBy("batch_id").parquet(tmp)
    }
    swapIn(totalsRoot(cfg)) { tmp =>
      committed(totalsRoot(cfg))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("corpus_len")).as("corpus_len"))
        .withColumn("batch_id", lit(-1L))
        .coalesce(1)
        .write.partitionBy("batch_id").parquet(tmp)
    }
  }

  /** BM25 top-k against the maintained index — digit-identical to
    * [[TextAnalysis.bm25Search]] over the same corpus (shared scoring
    * stage); query cost is the pruned postings + a candidate-only
    * doc-length join, never a corpus scan. */
  def query(spark: SparkSession, cfg: Config, queryTerms: Seq[String],
            k: Int): DataFrame = {
    require(queryTerms.nonEmpty && k > 0, "need query terms and k > 0")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val tf = prunedPostings(spark, cfg, terms)
      .select(col("doc_id"), col("term"), col("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val (nDocs, corpusLen) = readTotals(spark, cfg)
    val lens = spark.read
      .parquet(resolve(spark, cfg.lengthsPath).getOrElse(cfg.lengthsPath))
      .select(col("doc_id"), col("dl"))
    TextAnalysis.bm25ScoreTopK(
      tf.join(broadcast(dfreq), "term")
        .withColumn("n_docs", lit(nDocs))
        .withColumn("corpus_len", lit(corpusLen))
        .join(lens, "doc_id"),
      k)
  }
}
