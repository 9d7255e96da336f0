package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TextAnalysis

final case class IdxDoc(doc_id: Long, text: String)

class StreamingTextIndexSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(base: String) = StreamingTextIndex.Config(
    indexPath = s"$base/postings", lengthsPath = s"$base/lengths",
    totalsPath = s"$base/totals", checkpointDir = s"$base/ckpt")

  private val corpus = Seq(
    IdxDoc(1, "dup dup vector merge window over data"),
    IdxDoc(2, "vector vector vector search with window"),
    IdxDoc(3, "merge sort and shuffle with no query words"),
    IdxDoc(4, "dup window dup window dup window"),
    IdxDoc(5, "entirely unrelated body of text here"))
  private val terms = Seq("dup", "vector", "merge", "window")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0),
      r.getLong(r.fieldIndex("score_ppm")),
      r.getLong(r.fieldIndex("n_terms_hit")))).toSeq

  test("batch-incremental index serves digit-identical BM25; replay " +
       "is skipped via the load-bearing HWM") {
    val base = Files.createTempDirectory("stidx").toString
    val c = cfg(base)
    val (b1, b2) = corpus.splitAt(2)
    StreamingTextIndex.processBatch(b1.toDF(), 0L, c)
    StreamingTextIndex.processBatch(b2.toDF(), 1L, c)

    val expected = rows(TextAnalysis.bm25Search(corpus.toDF(), terms, 10))
    assert(rows(StreamingTextIndex.query(spark, c, terms, 10)) == expected)

    // replayed batch: HWM skips it
    StreamingTextIndex.processBatch(b2.toDF(), 1L, c)
    assert(rows(StreamingTextIndex.query(spark, c, terms, 10)) == expected)
    assert(StreamingTextIndex.readTotals(spark, c)._1 == corpus.length)

    // MID-BATCH CRASH replay: simulate a batch that wrote its data but
    // died before the HWM (delete the HWM, re-process) — the
    // batch-scoped dynamic overwrite must rewrite, never duplicate
    val fs = new org.apache.hadoop.fs.Path(c.totalsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(c.totalsPath, "_hwm"), false)
    StreamingTextIndex.processBatch(b2.toDF(), 1L, c)
    assert(rows(StreamingTextIndex.query(spark, c, terms, 10)) == expected)
    assert(StreamingTextIndex.readTotals(spark, c)._1 == corpus.length)
  }

  test("streaming end-to-end over MemoryStream") {
    val base = Files.createTempDirectory("stidx_e2e").toString
    val c = cfg(base)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[IdxDoc]
    mem.addData(corpus.take(3): _*)
    val q = StreamingTextIndex.start(mem.toDF(), c)
    try {
      q.processAllAvailable()
      mem.addData(corpus.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(rows(StreamingTextIndex.query(spark, c, terms, 10)) ==
      rows(TextAnalysis.bm25Search(corpus.toDF(), terms, 10)))
  }

  test("bucket pruning keeps query file reads flat as the index grows") {
    val base = Files.createTempDirectory("stidx_prune").toString
    val c = cfg(base)
    StreamingTextIndex.processBatch(corpus.toDF(), 0L, c)

    def queryScanFiles(): Long = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try StreamingTextIndex.prunedPostings(spark, c, terms)
        .queryExecution.executedPlan.collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths
                .exists(_.toString.contains("postings")) =>
            f.selectedPartitions.totalNumberOfFiles
        }.sum
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    val before = queryScanFiles()
    assert(before > 0)

    // filler batches whose words hash OUTSIDE the query's buckets: the
    // index grows, the query's pruned footprint must not
    val queryBuckets = terms.toDF("term")
      .select(StreamingTextIndex.bucketCol(c.termBuckets))
      .distinct().collect().map(_.getInt(0)).toSet
    val candidates = (0 until 120)
      .map(i => IdxDoc(1000L + i, s"filler$i pad${i * 7} tail${i * 13}"))
    val clashing = StreamingTextIndex.postings(candidates.toDF(), c)
      .filter(col("bucket").isInCollection(queryBuckets.toSeq))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val fillers = candidates.filterNot(d => clashing(d.doc_id))
    assert(fillers.size >= 10, s"only ${fillers.size} bucket-disjoint fillers")
    StreamingTextIndex.processBatch(fillers.take(5).toDF(), 1L, c)
    StreamingTextIndex.processBatch(
      fillers.slice(5, 10).map(d => d.copy(doc_id = d.doc_id + 10000)).toDF(),
      2L, c)

    val after = queryScanFiles()
    assert(after == before,
      s"query scan grew with unrelated index growth: $before -> $after")
    val totalFiles = spark.read.parquet(c.indexPath).inputFiles.length.toLong
    assert(totalFiles > after,
      s"no pruning: query reads all $totalFiles index files")
  }

  test("compact folds per-batch partitions: file count drops, results " +
      "and bucket pruning hold, later batches still land") {
    val base = Files.createTempDirectory("stidx_compact").toString
    val c = cfg(base)
    // one doc per batch — the worst-case partition accretion
    corpus.zipWithIndex.foreach { case (d, i) =>
      StreamingTextIndex.processBatch(Seq(d).toDF(), i.toLong, c)
    }
    val expected = rows(StreamingTextIndex.query(spark, c, terms, 10))
    val totalsBefore = StreamingTextIndex.readTotals(spark, c)
    def storeFiles(): Int =
      spark.read.parquet(c.indexPath).inputFiles.length +
        spark.read.parquet(c.lengthsPath).inputFiles.length
    val filesBefore = storeFiles()

    StreamingTextIndex.compact(spark, c)

    assert(storeFiles() < filesBefore,
      s"compaction did not shrink the store: $filesBefore -> ${storeFiles()}")
    assert(rows(StreamingTextIndex.query(spark, c, terms, 10)) == expected)
    assert(StreamingTextIndex.readTotals(spark, c) === totalsBefore)
    // pruning preserved: the folded index still carries bucket partitions
    // the query scan can skip (selectedPartitions, not inputFiles — the
    // latter reports the whole relation regardless of filters)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val pruned = try StreamingTextIndex.prunedPostings(spark, c, terms)
      .queryExecution.executedPlan.collect {
        case f: FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(pruned > 0 &&
      pruned < spark.read.parquet(c.indexPath).inputFiles.length)

    // a batch arriving after the fold (id above the untouched HWM) lands
    // beside the batch_id=-1 partition and serves combined results
    val extra = IdxDoc(6, "vector window vector window fresh arrival")
    StreamingTextIndex.processBatch(Seq(extra).toDF(), 10L, c)
    assert(rows(StreamingTextIndex.query(spark, c, terms, 10)) ==
      rows(TextAnalysis.bm25Search((corpus :+ extra).toDF(), terms, 10)))
  }

  test("compact folds ONLY committed batches: a batch that crashed " +
      "before its HWM keeps its partitions so the replay overwrites " +
      "them — postings and totals never double") {
    val base = Files.createTempDirectory("stidx_fold_guard").toString
    val c = cfg(base)
    val (b1, b2) = corpus.splitAt(2)
    StreamingTextIndex.processBatch(b1.toDF(), 0L, c)
    StreamingTextIndex.processBatch(b2.toDF(), 1L, c)
    val expected = rows(TextAnalysis.bm25Search(corpus.toDF(), terms, 10))
    // simulate the crash window: batch 1's writes landed, HWM stayed at 0
    val fs = new org.apache.hadoop.fs.Path(c.totalsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Hwm.write(fs, new org.apache.hadoop.fs.Path(c.totalsPath, "_hwm"), 0L)

    StreamingTextIndex.compact(spark, c)

    // the uncommitted batch kept its own partitions beside the fold
    val ids = spark.read.parquet(c.indexPath)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(-1L, 1L),
      s"fold swallowed the uncommitted batch: partitions $ids")
    assert(rows(StreamingTextIndex.query(spark, c, terms, 10)) == expected)
    // the stream replays batch 1: dynamic overwrite — had the fold
    // included it, postings, lengths and totals would all double-count
    StreamingTextIndex.processBatch(b2.toDF(), 1L, c)
    assert(rows(StreamingTextIndex.query(spark, c, terms, 10)) == expected)
    assert(StreamingTextIndex.readTotals(spark, c)._1 === corpus.length.toLong)
  }

  test("a compaction crash between the swap renames heals on next read") {
    val base = Files.createTempDirectory("stidx_crash").toString
    val c = cfg(base)
    StreamingTextIndex.processBatch(corpus.toDF(), 0L, c)
    val expected = rows(StreamingTextIndex.query(spark, c, terms, 10))
    // simulate the crash window: index root renamed aside, nothing installed
    val fs = new org.apache.hadoop.fs.Path(c.indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(c.indexPath),
      new org.apache.hadoop.fs.Path(c.indexPath + "__compact_old")))
    // the query serves the aside and leaves it for the next writer
    assert(rows(StreamingTextIndex.query(spark, c, terms, 10)) == expected)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(c.indexPath)) &&
      fs.exists(new org.apache.hadoop.fs.Path(c.indexPath + "__compact_old")),
      "a reader must never rename the aside back")
  }
}
