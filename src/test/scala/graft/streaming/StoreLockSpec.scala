package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Every streaming store that compacts itself runs its ingest and its
  * compaction under one [[StoreLock]] keyed by the store root, so an
  * ingest can never write into a generation a compaction is replacing. */
class StoreLockSpec extends SparkSpec {
  import spark.implicits._

  /** `work` on another thread, started while this thread holds `root`'s
    * lock: it must not finish until the lock is released, then must. */
  private def waitsForLock(root: String)(work: => Unit): Unit = {
    val done = new CountDownLatch(1)
    val failure = new AtomicReference[Throwable]
    val worker = new Thread(() =>
      try work catch { case e: Throwable => failure.set(e) }
      finally done.countDown())
    StoreLock(root) {
      worker.start()
      assert(!done.await(400, TimeUnit.MILLISECONDS),
        s"ran while the lock on $root was held")
    }
    assert(done.await(120, TimeUnit.SECONDS),
      s"did not finish after the lock on $root was released")
    worker.join()
    Option(failure.get).foreach(e => throw e)
  }

  test("dedup ingest and compaction wait for the store lock") {
    val base = Files.createTempDirectory("store_lock_dedup").toString
    val c = StreamingDedup.Config(indexPath = s"$base/index",
      pairsPath = s"$base/pairs", checkpointDir = s"$base/ckpt")
    val text = "the quick brown fox jumps over the lazy dog"
    StreamingDedup.processBatch(Seq(Doc(1, text)).toDF(), 0L, c)
    waitsForLock(c.indexPath) {
      StreamingDedup.processBatch(Seq(Doc(2, text)).toDF(), 1L, c)
    }
    assert(StreamingDedup.lastBatch(spark, c) == 1L)
    waitsForLock(c.indexPath) { StreamingDedup.compactIndex(spark, c) }
    assert(spark.read.parquet(c.indexPath)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(-1L))
  }

  test("IVF, rank-edge and text-index compactions wait for the store " +
      "lock") {
    val base = Files.createTempDirectory("store_lock_others").toString
    val ivf = StreamingIvf.Config(indexPath = s"$base/ivf",
      checkpointDir = s"$base/ivf_ckpt", modelPath = s"$base/model", dim = 2)
    waitsForLock(ivf.indexPath) { StreamingIvf.compactIndex(spark, ivf) }
    val rank = StreamingRank.Config(storeDir = s"$base/rank",
      checkpointDir = s"$base/rank_ckpt")
    waitsForLock(rank.storeDir) { StreamingRank.compactEdges(spark, rank) }
    val text = StreamingTextIndex.Config(indexPath = s"$base/postings",
      lengthsPath = s"$base/lengths", totalsPath = s"$base/totals",
      checkpointDir = s"$base/text_ckpt")
    waitsForLock(text.totalsPath) { StreamingTextIndex.compact(spark, text) }
  }
}
