package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Graph

final case class Pair(id_a: Long, id_b: Long)

class StreamingRankSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(base: String, iters: Int = 5) = StreamingRank.Config(
    storeDir = s"$base/store", checkpointDir = s"$base/ckpt",
    buckets = 4, iterations = iters)

  private def rankMap(c: StreamingRank.Config): Map[Long, Long] =
    StreamingRank.ranks(spark, c).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def coldRanks(pairs: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] = {
    val df = pairs.toDF("a", "b")
    val sym = df.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(df.select(col("b").as("src"), col("a").as("dst")))
    Graph.pageRank(sym, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private val batch0 = Seq(Pair(1, 2), Pair(2, 3), Pair(1, 3))
  private val batch1 = Seq(Pair(3, 4), Pair(4, 5), Pair(2, 1))

  test("cold refresh equals batch PageRank over the accumulated " +
      "distinct canonical edges") {
    val c = cfg(Files.createTempDirectory("srank").toString)
    StreamingRank.ingestBatch(batch0.toDF(), 0L, c)
    StreamingRank.ingestBatch(batch1.toDF(), 1L, c)
    // (2,1) re-delivers the canonical (1,2): stored once
    val stored = StreamingRank.edges(spark, c).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored ===
      Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)))
    StreamingRank.refreshRanks(spark, c)
    assert(rankMap(c) === coldRanks(stored.toSeq, 5))
  }

  test("warm refreshes compose: two K-step refreshes over unchanged " +
      "edges equal one cold 2K-step run") {
    val c = cfg(Files.createTempDirectory("srank_warm").toString,
      iters = 3)
    StreamingRank.ingestBatch(batch0.toDF(), 0L, c)
    StreamingRank.refreshRanks(spark, c)
    StreamingRank.refreshRanks(spark, c)
    val canonical = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(rankMap(c) === coldRanks(canonical, 6))
  }

  test("committed replay skips; mid-crash replay rewrites its own " +
      "partitions — degrees never double-count") {
    val c = cfg(Files.createTempDirectory("srank_replay").toString)
    StreamingRank.ingestBatch(batch0.toDF(), 0L, c)
    StreamingRank.ingestBatch(batch1.toDF(), 1L, c)
    def edgeRows(): Long = spark.read
      .parquet(s"${c.storeDir}/edges").count()
    val n0 = edgeRows()
    // committed replay: skipped
    StreamingRank.ingestBatch(batch1.toDF(), 1L, c)
    assert(edgeRows() === n0)
    // mid-crash: data landed, HWM didn't — replay must overwrite
    val hwmP = new org.apache.hadoop.fs.Path(s"${c.storeDir}/edges__hwm")
    val fs = hwmP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Hwm.write(fs, hwmP, 0L)
    StreamingRank.ingestBatch(batch1.toDF(), 1L, c)
    assert(edgeRows() === n0, "mid-crash replay duplicated edges")
    StreamingRank.refreshRanks(spark, c)
    val stored = StreamingRank.edges(spark, c).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rankMap(c) === coldRanks(stored.toSeq, 5))
  }

  test("a batch id BELOW the committed HWM fails loudly (checkpoint " +
      "reset / wrong store binding), only == is the benign replay") {
    val c = cfg(Files.createTempDirectory("srank_reset").toString)
    StreamingRank.ingestBatch(batch0.toDF(), 0L, c)
    StreamingRank.ingestBatch(batch1.toDF(), 1L, c)
    // == HWM: benign replay, silent no-op (covered above); < HWM must
    // refuse — after a checkpoint reset ids restart at 0 and a silent
    // skip would drop every new batch until ids pass the old HWM
    val ex = intercept[IllegalStateException] {
      StreamingRank.ingestBatch(batch0.toDF(), 0L, c)
    }
    assert(ex.getMessage.contains("below the committed HWM"))
    // the guard runs BEFORE the empty short-circuit: a misbound store
    // must fail loudly even when the offending batch carries no rows
    val exEmpty = intercept[IllegalStateException] {
      StreamingRank.ingestBatch(batch0.toDF().limit(0), 0L, c)
    }
    assert(exEmpty.getMessage.contains("below the committed HWM"))
  }

  test("compactEdges folds committed batches only, keeps ranks " +
      "reproducible, and drops the per-batch file accretion") {
    val c = cfg(Files.createTempDirectory("srank_compact").toString)
    StreamingRank.ingestBatch(batch0.toDF(), 0L, c)
    StreamingRank.ingestBatch(batch1.toDF(), 1L, c)
    StreamingRank.ingestBatch(Seq(Pair(9, 10)).toDF(), 2L, c)
    StreamingRank.ingestBatch(Seq(Pair(5, 6)).toDF(), 3L, c)
    // crash window: batch 3's data landed, HWM stays at 2
    val hwmP = new org.apache.hadoop.fs.Path(s"${c.storeDir}/edges__hwm")
    val fs = hwmP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Hwm.write(fs, hwmP, 2L)
    val res = StreamingRank.compactEdges(spark, c)
    assert(res.filesAfter < res.filesBefore)
    // uncommitted batch 3 kept its partition (outside the -1 fold)
    val ids = spark.read.parquet(s"${c.storeDir}/edges")
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(-1L, 3L))
    // committed view excludes the uncommitted batch…
    val stored = StreamingRank.edges(spark, c).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored ===
      Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (9L, 10L)))
    // …and the replay completes batch 3 without doubling it
    StreamingRank.ingestBatch(Seq(Pair(5, 6)).toDF(), 3L, c)
    val after = StreamingRank.edges(spark, c).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after === stored + ((5L, 6L)))
    StreamingRank.refreshRanks(spark, c)
    assert(rankMap(c) === coldRanks(after.toSeq, 5))
  }

  test("an all-self-pair first batch is a committed no-op — the store " +
      "is not wedged and later batches work") {
    val c = cfg(Files.createTempDirectory("srank_selfpairs").toString)
    StreamingRank.ingestBatch(Seq(Pair(7, 7), Pair(8, 8)).toDF(), 0L, c)
    // HWM advanced (replay skips), but no parquet-less directory exists
    assert(StreamingRank.lastBatch(spark, c) === 0L)
    assert(StreamingRank.edges(spark, c).isEmpty)
    StreamingRank.refreshRanks(spark, c) // no edges: a quiet no-op
    StreamingRank.ingestBatch(batch0.toDF(), 1L, c)
    StreamingRank.refreshRanks(spark, c)
    assert(rankMap(c) ===
      coldRanks(Seq((1L, 2L), (2L, 3L), (1L, 3L)), 5))
  }

  test("the bucket layout is a persisted store property: a later " +
      "ingest with a different cfg.buckets still dedups against " +
      "history") {
    val base = Files.createTempDirectory("srank_buckets").toString
    StreamingRank.ingestBatch(batch0.toDF(), 0L,
      cfg(base).copy(buckets = 4))
    // re-deliver (1,2) under a mismatched configured bucket count —
    // the persisted 4-bucket layout must still prune to the right
    // history partition and drop the duplicate
    StreamingRank.ingestBatch(Seq(Pair(2, 1), Pair(4, 5)).toDF(), 1L,
      cfg(base).copy(buckets = 16))
    val c = cfg(base)
    val stored = StreamingRank.edges(spark, c).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(stored.length === stored.distinct.length)
    assert(stored.toSet ===
      Set((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L)))
    // every stored bucket respects the persisted modulus
    val bad = spark.read.parquet(s"${c.storeDir}/edges")
      .filter(col("bucket") =!= pmod(col("a"), lit(4L)).cast("int"))
    assert(bad.count() === 0L)
  }

  test("reads are swap-tolerant without healing: inside the rename " +
      "window the aside ranks are served and left in place") {
    val c = cfg(Files.createTempDirectory("srank_swapread").toString)
    StreamingRank.ingestBatch(batch0.toDF(), 0L, c)
    StreamingRank.refreshRanks(spark, c)
    val before = rankMap(c)
    // simulate the mid-swap window: ranks moved aside, install pending
    val ranksP = new org.apache.hadoop.fs.Path(s"${c.storeDir}/ranks")
    val oldP = new org.apache.hadoop.fs.Path(s"${c.storeDir}/ranks__old")
    val fs = ranksP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(ranksP, oldP))
    // a read serves the aside and must NOT rename it back (a racing
    // writer's install would collide with a resurrected ranks dir)
    assert(rankMap(c) === before)
    assert(!fs.exists(ranksP) && fs.exists(oldP))
    // the next WRITER heals the crash window; the aside it moves the
    // healed generation to is DELIBERATELY retained past the swap (a
    // concurrent reader inside the rename window may still be scanning
    // it — deleting under an in-flight scan 500s the /api/rank route),
    // so after the refresh BOTH generations exist and reads serve the
    // current one
    StreamingRank.refreshRanks(spark, c)
    assert(fs.exists(ranksP) && fs.exists(oldP),
      "previous generation must stay readable through the swap window")
    assert(rankMap(c) === coldRanks(
      Seq((1L, 2L), (2L, 3L), (1L, 3L)), 10))
    // the retained aside holds exactly the PREVIOUS generation…
    val asideRanks = spark.read.parquet(oldP.toString)
      .select(col("node"), col("rank_e6"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asideRanks === before)
    // …and the START of the next refresh reclaims it before swapping
    StreamingRank.refreshRanks(spark, c)
    val afterThird = spark.read.parquet(oldP.toString)
      .select(col("node"), col("rank_e6"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterThird === coldRanks(
      Seq((1L, 2L), (2L, 3L), (1L, 3L)), 10),
      "next refresh must reclaim the stale aside, not accumulate")
  }

  test("edges inside a compaction's rename window serve the aside and " +
      "leave it in place; the next ingest recovers it") {
    val c = cfg(Files.createTempDirectory("srank_edgeswap").toString)
    StreamingRank.ingestBatch(batch0.toDF(), 0L, c)
    val cur = new org.apache.hadoop.fs.Path(s"${c.storeDir}/edges")
    val aside =
      new org.apache.hadoop.fs.Path(s"${c.storeDir}/edges__compact_old")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(cur, aside))
    def stored() = StreamingRank.edges(spark, c).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored() === Set((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(!fs.exists(cur) && fs.exists(aside),
      "a reader must never rename the aside back")
    StreamingRank.ingestBatch(batch1.toDF(), 1L, c)
    assert(stored() ===
      Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)))
  }

  test("continuous centrality: StreamingDedup's pair stream feeds " +
      "StreamingRank — ranks equal batch PageRank of the accumulated " +
      "candidate graph") {
    val base = Files.createTempDirectory("srank_dedup").toString
    val dc = StreamingDedup.Config(indexPath = s"$base/index",
      pairsPath = s"$base/pairs", checkpointDir = s"$base/dckpt")
    StreamingDedup.processBatch(Seq(
      Doc(1, "the quick brown fox jumps over the lazy dog"),
      Doc(2, "the quick brown fox jumps over the lazy dog"),
      Doc(3, "completely different text with no overlap at all")).toDF(),
      0L, dc)
    StreamingDedup.processBatch(Seq(
      Doc(4, "the quick brown fox jumps over the lazy dog")).toDF(),
      1L, dc)
    val c = cfg(s"$base/rank")
    // drive the rank store from the persisted pair stream, batch by batch
    Seq(0L, 1L).foreach { b =>
      StreamingRank.ingestBatch(
        spark.read.parquet(dc.pairsPath)
          .filter(col("batch_id").cast("long") === b)
          .select(col("id_a"), col("id_b")), b, c)
    }
    StreamingRank.refreshRanks(spark, c)
    val pairs = spark.read.parquet(dc.pairsPath)
      .select(col("id_a"), col("id_b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rankMap(c) === coldRanks(pairs, 5))
    // the dup triangle (1,2,4) outranks the isolated doc 3 — which
    // never entered the graph at all
    val ranks = rankMap(c)
    assert(!ranks.contains(3L))
    assert(Seq(1L, 2L, 4L).forall(ranks.contains))
  }

  test("the persisted dedup pair table consumed as a FILE STREAM " +
      "feeds rank maintenance — the full continuous composition") {
    val base = Files.createTempDirectory("srank_filestream").toString
    val dc = StreamingDedup.Config(indexPath = s"$base/index",
      pairsPath = s"$base/pairs", checkpointDir = s"$base/dckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    mem.addData(
      Doc(10, "alpha beta gamma delta epsilon zeta eta theta"),
      Doc(11, "alpha beta gamma delta epsilon zeta eta theta"),
      Doc(12, "unrelated words here that match nothing else"))
    StreamingDedup.start(mem.toDF(), dc).awaitTermination(60000)
    mem.addData(
      Doc(13, "alpha beta gamma delta epsilon zeta eta theta"))
    StreamingDedup.start(mem.toDF(), dc).awaitTermination(60000)
    val c = cfg(s"$base/rank")
    val pairsStream = spark.readStream
      .schema(spark.read.parquet(dc.pairsPath).schema)
      .parquet(dc.pairsPath)
    StreamingRank.start(pairsStream, c).awaitTermination(60000)
    StreamingRank.refreshRanks(spark, c)
    val accumulated = spark.read.parquet(dc.pairsPath)
      .select(col("id_a"), col("id_b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rankMap(c) === coldRanks(accumulated, 5))
    // the duplicate triangle 10/11/13 holds equal rank; 12 is absent
    val ranks = rankMap(c)
    assert(ranks(10L) === ranks(11L) && ranks(11L) === ranks(13L))
    assert(!ranks.contains(12L))
  }

  test("streaming end-to-end over MemoryStream") {
    val base = Files.createTempDirectory("srank_e2e").toString
    val c = cfg(base)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Pair]
    mem.addData(batch0: _*)
    val q = StreamingRank.start(mem.toDF(), c)
    q.awaitTermination(60000)
    mem.addData(batch1: _*)
    val q2 = StreamingRank.start(mem.toDF(), c)
    q2.awaitTermination(60000)
    StreamingRank.refreshRanks(spark, c)
    val stored = StreamingRank.edges(spark, c).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored ===
      Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)))
    assert(rankMap(c) === coldRanks(stored.toSeq, 5))
  }

  test("rank drift log: nothing after the first refresh; a symmetric " +
      "fixed point logs zero footrule; a new hub reorganising the head " +
      "is visible") {
    val c = cfg(java.nio.file.Files
      .createTempDirectory("srank_drift").toString)
    StreamingRank.ingestBatch(batch0.toDF(), 0L, c) // triangle 1-2-3
    StreamingRank.refreshRanks(spark, c)
    assert(StreamingRank.rankDrift(spark, c).count() === 0L)
    // a symmetric triangle's e6 ranks are uniform and already a fixed
    // point — the second refresh reproduces them exactly, so the head
    // is unchanged: overlap = k, footrule = 0
    StreamingRank.refreshRanks(spark, c)
    val d1 = StreamingRank.rankDrift(spark, c).collect()
    assert(d1.length === 1)
    assert(d1.head.getAs[Long]("refresh_seq") === 1L)
    assert(d1.head.getAs[Long]("k") === 3L)
    assert(d1.head.getAs[Long]("overlap") === 3L)
    assert(d1.head.getAs[Long]("footrule") === 0L)
    // a hub wired to the triangle PLUS a pendant takes the top slot
    // (9 alone would make K4 — symmetric again); the log must register
    // the reorganisation (displacement or eviction)
    StreamingRank.ingestBatch(
      Seq(Pair(9, 1), Pair(9, 2), Pair(9, 3), Pair(9, 4)).toDF(), 1L, c)
    StreamingRank.refreshRanks(spark, c)
    val last = StreamingRank.rankDrift(spark, c).collect()
      .maxBy(_.getAs[Long]("refresh_seq"))
    assert(last.getAs[Long]("refresh_seq") === 2L)
    assert(last.getAs[Long]("k") === 3L) // min(|prev head|, |next head|)
    val (ov, fr) =
      (last.getAs[Long]("overlap"), last.getAs[Long]("footrule"))
    assert(ov <= 3L)
    assert(ov < 3L || fr > 0L, s"hub must disturb the head: $ov/$fr")
  }
}
