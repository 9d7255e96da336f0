package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

final case class Doc(doc_id: Long, text: String)

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(base: String) = StreamingDedup.Config(
    indexPath = s"$base/index", pairsPath = s"$base/pairs",
    checkpointDir = s"$base/ckpt")

  test("each batch probes the accumulated index, never re-pairs it") {
    val base = Files.createTempDirectory("sdedup").toString
    val c = cfg(base)
    val batch1 = Seq(
      Doc(1, "the quick brown fox jumps over the lazy dog"),
      Doc(2, "the quick brown fox jumps over the lazy dog"), // dup of 1
      Doc(3, "completely different text with no overlap at all")).toDF()
    StreamingDedup.processBatch(batch1, 0L, c)
    def pairRows() = spark.read.parquet(c.pairsPath)
      .select(col("id_a"), col("id_b"), col("batch_id").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val p1 = pairRows()
    assert(p1 == Set((1L, 2L, 0L)))
    // batch 2: one more copy — pairs against BOTH stored dups, plus
    // nothing among the unrelated doc; the (1,2) pair is NOT re-emitted
    val batch2 = Seq(
      Doc(4, "the quick brown fox jumps over the lazy dog"),
      Doc(5, "yet another unrelated document body entirely")).toDF()
    StreamingDedup.processBatch(batch2, 1L, c)
    val p2 = pairRows()
    assert(p2 == Set((1L, 2L, 0L), (1L, 4L, 1L), (2L, 4L, 1L)))
    // the index accumulated all five docs' band rows (bands per doc)
    val idx = spark.read.parquet(c.indexPath)
    assert(idx.select("sid").distinct().count() == 5L)
    assert(idx.count() == 5L * c.bands)
    // index is physically partitioned on the band-key bucket
    assert(idx.columns.contains("bucket"))
  }

  test("streaming end-to-end over MemoryStream") {
    val base = Files.createTempDirectory("sdedup_e2e").toString
    val c = cfg(base)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    mem.addData(
      Doc(10, "alpha beta gamma delta epsilon zeta eta theta"),
      Doc(11, "alpha beta gamma delta epsilon zeta eta theta"),
      Doc(12, "unrelated words here that match nothing else"))
    val q = StreamingDedup.start(mem.toDF(), c)
    q.awaitTermination()
    val pairs = spark.read.parquet(c.pairsPath).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((10L, 11L)))
    assert(spark.read.parquet(c.indexPath)
      .select("sid").distinct().count() == 3L)
  }

  test("bucket pruning keeps probe file reads flat as the index grows") {
    val base = Files.createTempDirectory("sdedup_prune").toString
    val c = cfg(base)
    StreamingDedup.processBatch(Seq(
      Doc(1, "seed corpus document one with plenty of words"),
      Doc(2, "seed corpus document two entirely different body")).toDF(),
      0L, c)

    // the probe whose file footprint we track across index growth
    val probeDocs = Seq(
      Doc(100, "probe document alpha with its own wording"),
      Doc(101, "probe document beta nothing like the others")).toDF()
    val probeBand = StreamingDedup.bandedWithBucket(
      Dedup.minhashSignatures(probeDocs, c.numHashes), c)
    val probeBuckets = probeBand.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet

    // count index files the probe's scan selects after partition pruning
    // (AQE off so the plan exposes its FileSourceScanExec directly)
    def probeScanFiles(): Long = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try StreamingDedup.probeIndex(spark, c, probeBand)
        .queryExecution.executedPlan.collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths
                .exists(_.toString.contains("index")) =>
            f.selectedPartitions.totalNumberOfFiles
        }.sum
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    val before = probeScanFiles()
    assert(before > 0)

    // filler batches engineered to land OUTSIDE the probe's buckets: the
    // index grows, the probe's pruned footprint must not
    val candidates = (0 until 80).map(i =>
      Doc(1000 + i, s"filler number $i body ${i * 7} tail ${i * 13} pad"))
    val clashing = StreamingDedup.bandedWithBucket(
        Dedup.minhashSignatures(candidates.toDF(), c.numHashes), c)
      .filter(col("bucket").isInCollection(probeBuckets.toSeq))
      .select("sid").distinct().collect().map(_.getLong(0)).toSet
    val fillers = candidates.filterNot(d => clashing(d.doc_id))
    assert(fillers.size >= 5, s"only ${fillers.size} bucket-disjoint fillers")
    StreamingDedup.processBatch(fillers.take(5).toDF(), 1L, c)
    StreamingDedup.processBatch(
      fillers.take(5).map(d => d.copy(doc_id = d.doc_id + 10000)).toDF(),
      2L, c)

    val after = probeScanFiles()
    assert(after == before,
      s"probe scan grew with unrelated index growth: $before -> $after")
    // and the pruning is real: the index holds more files than the probe reads
    val totalFiles = spark.read.parquet(c.indexPath).inputFiles.length.toLong
    assert(totalFiles > after,
      s"no pruning: probe reads all $totalFiles index files")
  }

  test("compactIndex collapses per-batch appends; probe results, bucket " +
      "layout, and crash recovery preserved") {
    val base = Files.createTempDirectory("sdedup_compact").toString
    val c = cfg(base)
    val docs = (0 until 12).map(i =>
      Doc(i.toLong, s"body number $i filler ${i % 3} tail ${i % 4} pad"))
    // one doc per batch: worst-case file accretion in every touched bucket
    docs.zipWithIndex.foreach { case (d, i) =>
      StreamingDedup.processBatch(Seq(d).toDF(), i.toLong, c)
    }
    val probeBand = StreamingDedup.bandedWithBucket(
      Dedup.minhashSignatures(
        Seq(Doc(100, "body number 3 filler 0 tail 3 pad")).toDF(),
        c.numHashes), c)
    def probePairs(): Set[(Long, Long)] =
      StreamingDedup.probeIndex(spark, c, probeBand).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = probePairs()
    assert(expected.nonEmpty)
    val filesBefore = spark.read.parquet(c.indexPath).inputFiles.length

    val res = StreamingDedup.compactIndex(spark, c)
    assert(res.filesAfter < res.filesBefore &&
      spark.read.parquet(c.indexPath).inputFiles.length < filesBefore)
    assert(probePairs() == expected)
    // the bucket= layout survived: pruning still reads a strict subset
    // (selectedPartitions, not inputFiles — the latter ignores filters)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val prunedAfter = try spark.read.parquet(c.indexPath)
      .filter(col("bucket").isInCollection(
        probeBand.select("bucket").distinct()
          .collect().map(_.getInt(0)).toSeq))
      .queryExecution.executedPlan.collect {
        case f: FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(prunedAfter > 0 &&
      prunedAfter < spark.read.parquet(c.indexPath).inputFiles.length)

    // crash window: index aside-renamed; the next batch must recover it
    // rather than probing "no index" and silently dropping pairs
    val fs = new org.apache.hadoop.fs.Path(c.indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the compaction above kept its aside; an install reclaims it right
    // before its first rename, so the crash state has only this aside
    fs.delete(new org.apache.hadoop.fs.Path(c.indexPath + "__compact_old"),
      true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(c.indexPath),
      new org.apache.hadoop.fs.Path(c.indexPath + "__compact_old")))
    StreamingDedup.processBatch(
      Seq(Doc(200, "body number 3 filler 0 tail 3 pad")).toDF(), 50L, c)
    val pairs = spark.read.parquet(c.pairsPath)
      .filter(col("batch_id") === 50L)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.exists { case (a, b) => a == 3L && b == 200L },
      s"recovered index should pair doc 200 with doc 3; got $pairs")
  }

  test("a pre-batch_id store upgrades in place on first contact: legacy " +
      "index rows fold by rename, legacy pairs rewrite by their data " +
      "column, and new batches pair against the migrated corpus") {
    val base = Files.createTempDirectory("sdedup_legacy").toString
    val c = cfg(base)
    val legacy = Seq(
      Doc(1, "the quick brown fox jumps over the lazy dog"),
      Doc(2, "the quick brown fox jumps over the lazy dog"),
      Doc(3, "completely different text with no overlap at all")).toDF()
    // hand-build the OLD layouts: index partitioned on bucket only,
    // pairs as loose files with batch_id as a data column
    StreamingDedup.bandedWithBucket(
        Dedup.minhashSignatures(legacy, c.numHashes), c)
      .select(col("sid"), col("band"), col("band_key"), col("bucket"))
      .write.partitionBy("bucket").parquet(c.indexPath)
    Seq((1L, 2L, 0L)).toDF("id_a", "id_b", "batch_id")
      .write.parquet(c.pairsPath)

    StreamingDedup.processBatch(
      Seq(Doc(4, "the quick brown fox jumps over the lazy dog")).toDF(),
      5L, c)
    // reads work post-migration, legacy rows live under batch_id=-1
    val idx = spark.read.parquet(c.indexPath)
    assert(idx.select("sid").distinct().count() === 4L)
    assert(idx.filter(col("batch_id").cast("long") === -1L)
      .select("sid").distinct().count() === 3L)
    // the new batch paired against the MIGRATED legacy corpus, and the
    // legacy pair survived the rewrite with its batch id remapped into
    // the reserved range (0 -> -2), out of any future live id's way
    val pairs = spark.read.parquet(c.pairsPath)
      .select(col("id_a"), col("id_b"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(pairs === Set((1L, 2L, -2L), (1L, 4L, 5L), (2L, 4L, 5L)))
  }

  test("replay is exactly-once: a committed batch skips via the HWM, a " +
      "mid-crash batch rewrites its own partitions — no duplicate band " +
      "rows, no duplicate pairs, no self-pairs") {
    val base = Files.createTempDirectory("sdedup_replay").toString
    val c = cfg(base)
    StreamingDedup.processBatch(Seq(
      Doc(1, "the quick brown fox jumps over the lazy dog"),
      Doc(2, "the quick brown fox jumps over the lazy dog"),
      Doc(3, "completely different text with no overlap at all")).toDF(),
      0L, c)
    val b1 = Seq(Doc(4, "the quick brown fox jumps over the lazy dog"))
      .toDF()
    StreamingDedup.processBatch(b1, 1L, c)
    def idxRows() = spark.read.parquet(c.indexPath).count()
    def pairSet() = spark.read.parquet(c.pairsPath)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (idx0, pairs0) = (idxRows(), pairSet())
    assert(pairs0 == Set((1L, 2L), (1L, 4L), (2L, 4L)))

    // committed replay: skipped entirely
    StreamingDedup.processBatch(b1, 1L, c)
    assert(idxRows() === idx0 && pairSet() === pairs0)

    // mid-crash replay: writes landed, HWM didn't — the rerun must
    // rewrite batch 1's own partitions (not append) and must not pair
    // the batch against its own stored rows (self/duplicate pairs)
    val fs = new org.apache.hadoop.fs.Path(c.indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(c.indexPath + "__hwm"), false)
    StreamingDedup.processBatch(b1, 1L, c)
    assert(idxRows() === idx0, "replay duplicated index band rows")
    assert(pairSet() === pairs0, "replay changed the pair set")
    assert(spark.read.parquet(c.pairsPath)
      .filter(col("id_a") === col("id_b")).count() === 0L)
  }

  test("compactIndex folds ONLY committed batches: a batch that crashed " +
      "before its HWM keeps its partition so the replay overwrites it, " +
      "never doubles it") {
    val base = Files.createTempDirectory("sdedup_fold_guard").toString
    val c = cfg(base)
    StreamingDedup.processBatch(Seq(
      Doc(1, "the quick brown fox jumps over the lazy dog"),
      Doc(2, "completely different text with no overlap at all")).toDF(),
      0L, c)
    val b1 = Seq(
      Doc(3, "a third body of words that stands alone"),
      Doc(4, "a third body of words that stands alone")).toDF()
    StreamingDedup.processBatch(b1, 1L, c)
    // simulate the crash window: batch 1's data landed, HWM stayed at 0
    val hwmP = new org.apache.hadoop.fs.Path(c.indexPath + "__hwm")
    val fs = hwmP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Hwm.write(fs, hwmP, 0L)

    StreamingDedup.compactIndex(spark, c)

    // batch 0 folded into -1; the uncommitted batch 1 kept its partition
    val ids = spark.read.parquet(c.indexPath)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(-1L, 1L),
      s"fold swallowed the uncommitted batch: partitions $ids")
    // the stream replays batch 1 (HWM 0 < 1): dynamic overwrite of its
    // own partition — had the fold included it, these rows would double
    StreamingDedup.processBatch(b1, 1L, c)
    val idx = spark.read.parquet(c.indexPath)
    assert(idx.count() === 4L * c.bands,
      "replay after fold double-counted the crashed batch")
    assert(idx.select("sid").distinct().count() === 4L)
  }
}
