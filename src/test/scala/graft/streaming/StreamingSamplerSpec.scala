package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

final case class SampDoc(source: String, doc_id: Long, n_chars: Long)

class StreamingSamplerSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(base: String, stride: Long = 100L) =
    StreamingSampler.Config(picksPath = s"$base/picks",
      massPath = s"$base/mass", checkpointDir = s"$base/ckpt",
      strideChars = stride)

  /** The batch sampler's stride walk (q322 semantics) over docs in
    * (source, doc_id) order — the executable definition the streamed
    * picks must match exactly. */
  private def walk(docs: Seq[SampDoc], stride: Long): Set[Long] =
    docs.groupBy(_.source).values.flatMap { xs =>
      var cum = 0L
      xs.sortBy(_.doc_id).flatMap { d =>
        val prev = cum; cum += d.n_chars
        if (cum / stride > prev / stride) Some(d.doc_id) else None
      }
    }.toSet

  private def pickedIds(c: StreamingSampler.Config): Set[Long] =
    StreamingSampler.picks(spark, c)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet

  test("streamed picks equal the batch stride walk over the " +
      "concatenated stream; offsets carry across batches") {
    val base = Files.createTempDirectory("ssamp").toString
    val c = cfg(base)
    // source a: 60 + 60 (crosses 100 in batch 1), then 90 in batch 2
    // (120 → 210 crosses 200); source b: never reaches 100 until batch 3
    val b1 = Seq(SampDoc("a", 1L, 60L), SampDoc("a", 2L, 60L),
      SampDoc("b", 10L, 40L))
    val b2 = Seq(SampDoc("a", 3L, 90L), SampDoc("b", 11L, 30L))
    val b3 = Seq(SampDoc("b", 12L, 50L)) // 40+30+50 = 120 crosses 100
    StreamingSampler.processBatch(b1.toDF(), 0L, c)
    StreamingSampler.processBatch(b2.toDF(), 1L, c)
    StreamingSampler.processBatch(b3.toDF(), 2L, c)
    assert(pickedIds(c) === walk(b1 ++ b2 ++ b3, 100L))
    assert(pickedIds(c) === Set(2L, 3L, 12L))
    // the whole state is the per-source mass — and it is the stream sum
    val mass = StreamingSampler.offsets(spark, c).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("mass")).toMap
    assert(mass === Map("a" -> 210L, "b" -> 120L))
  }

  test("a mid-crash replay restarts from the same offset and " +
      "overwrites its own partitions with identical rows") {
    val base = Files.createTempDirectory("ssamp_replay").toString
    val c = cfg(base)
    val b1 = Seq(SampDoc("a", 1L, 60L), SampDoc("a", 2L, 60L))
    val b2 = Seq(SampDoc("a", 3L, 90L))
    StreamingSampler.processBatch(b1.toDF(), 0L, c)
    StreamingSampler.processBatch(b2.toDF(), 1L, c)
    val before = pickedIds(c)
    // simulate a crash AFTER batch 1's writes but BEFORE its HWM: reset
    // the HWM to batch 0 and replay — the offset read excludes batch
    // 1's own mass partition, so the rerun starts from 120, not 210
    val fs = new org.apache.hadoop.fs.Path(c.massPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Hwm.write(fs, new org.apache.hadoop.fs.Path(c.massPath + "__hwm"),
      0L)
    StreamingSampler.processBatch(b2.toDF(), 1L, c)
    assert(pickedIds(c) === before)
    assert(StreamingSampler.offsets(spark, c).collect()
      .map(_.getAs[Long]("mass")).sum === 210L)
    // a fully-committed replay is skipped outright by the HWM guard
    StreamingSampler.processBatch(b2.toDF(), 1L, c)
    assert(pickedIds(c) === before)
  }

  test("empty and pick-less batches never poison the store; compact " +
      "folds committed deltas without changing offsets or later picks") {
    val base = Files.createTempDirectory("ssamp_compact").toString
    val c = cfg(base)
    // batch 0 is EMPTY; batch 1 has mass but crosses no stride —
    // neither may leave a schema-less parquet directory behind
    StreamingSampler.processBatch(
      Seq.empty[SampDoc].toDF(), 0L, c)
    StreamingSampler.processBatch(
      Seq(SampDoc("a", 1L, 40L)).toDF(), 1L, c)
    assert(pickedIds(c) === Set.empty[Long])
    assert(StreamingSampler.offsets(spark, c).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("mass"))
      .toMap === Map("a" -> 40L))
    StreamingSampler.processBatch(
      Seq(SampDoc("a", 2L, 40L), SampDoc("b", 10L, 70L)).toDF(), 2L, c)
    val offBefore = StreamingSampler.offsets(spark, c).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("mass")).toMap
    StreamingSampler.compact(spark, c)
    // one folded partition, same totals
    val offAfter = StreamingSampler.offsets(spark, c).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("mass")).toMap
    assert(offAfter === offBefore)
    assert(spark.read.parquet(c.massPath)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet === Set(-1L))
    // the stream continues from the folded state exactly where the
    // unfolded one would have: a at 80 + 30 = 110 crosses 100
    StreamingSampler.processBatch(
      Seq(SampDoc("a", 3L, 30L), SampDoc("b", 11L, 40L)).toDF(), 3L, c)
    assert(pickedIds(c) ===
      walk(Seq(SampDoc("a", 1L, 40L), SampDoc("a", 2L, 40L),
        SampDoc("b", 10L, 70L), SampDoc("a", 3L, 30L),
        SampDoc("b", 11L, 40L)), 100L))
  }

  test("offsets inside a compact's rename window serve the aside and " +
      "leave it in place; the next batch recovers it") {
    val base = Files.createTempDirectory("ssamp_swap").toString
    val c = cfg(base)
    StreamingSampler.processBatch(
      Seq(SampDoc("a", 1L, 60L)).toDF(), 0L, c)
    val cur = new org.apache.hadoop.fs.Path(c.massPath)
    val aside = new org.apache.hadoop.fs.Path(c.massPath + "__old")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(cur, aside))
    def mass() = StreamingSampler.offsets(spark, c).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("mass")).toMap
    assert(mass() === Map("a" -> 60L))
    assert(!fs.exists(cur) && fs.exists(aside),
      "a reader must never rename the aside back")
    // the batch recovers the aside before its offset read: 60 + 60
    // crosses the 100 stride
    StreamingSampler.processBatch(
      Seq(SampDoc("a", 2L, 60L)).toDF(), 1L, c)
    assert(pickedIds(c) === Set(2L))
    assert(mass() === Map("a" -> 120L))
  }

  test("compact queues behind a live batch's store lock: the forced race " +
      "observes mutual exclusion, then compacts correctly") {
    val base = Files.createTempDirectory("ssamp_lock").toString
    val c = cfg(base)
    StreamingSampler.processBatch(
      Seq(SampDoc("a", 1L, 120L), SampDoc("b", 10L, 70L)).toDF(), 0L, c)
    // Hold the sampler's store lock from another thread — the same lock
    // processBatch commits under — simulating an in-flight batch, and fire
    // compact concurrently: it must NOT start its swap until release.
    val holderHasLock = new java.util.concurrent.CountDownLatch(1)
    val releaseHolder = new java.util.concurrent.CountDownLatch(1)
    val compactDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val holder = new Thread(() =>
      StoreLock(c.massPath) {
        holderHasLock.countDown()
        releaseHolder.await()
      })
    holder.start()
    holderHasLock.await()
    val compactor = new Thread(() => {
      StreamingSampler.compact(spark, c)
      compactDone.set(true)
    })
    compactor.start()
    Thread.sleep(400) // give a broken (non-blocking) compact time to finish
    assert(!compactDone.get,
      "compact entered the swap while the batch lock was held")
    releaseHolder.countDown()
    compactor.join(60000)
    holder.join(60000)
    assert(compactDone.get, "compact never completed after lock release")
    // and the store is correctly folded + still serving offsets
    assert(spark.read.parquet(c.massPath)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet === Set(-1L))
    assert(StreamingSampler.offsets(spark, c).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("mass"))
      .toMap === Map("a" -> 120L, "b" -> 70L))
  }

  test("streaming end-to-end over MemoryStream matches the walk") {
    val base = Files.createTempDirectory("ssamp_e2e").toString
    val c = cfg(base)
    val mem = MemoryStream[SampDoc](spark)
    val q = StreamingSampler.start(mem.toDF(), c)
    try {
      val docs = (1L to 9L).map(i =>
        SampDoc(if (i % 2 == 0) "even" else "odd", i, 45L))
      mem.addData(docs.take(4): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(4): _*)
      q.processAllAvailable()
      assert(pickedIds(c) === walk(docs, 100L))
    } finally q.stop()
  }
}
