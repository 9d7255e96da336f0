package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.meta.MetadataStore
import graft.operators.IvfIndex
import graft.orchestrate.OffloadLock
import graft.source.ExtractionProjection
import graft.streaming.StreamingOffload
import graft.types.{CanonicalColumn, CanonicalType}

class ExtractionProjectionSpec extends SparkSpec {
  import spark.implicits._

  test("NaN policy applies to float columns unless allowed") {
    val df = Seq((1L, Double.NaN), (2L, 5.5)).toDF("id", "v")
    val cols = Seq(
      CanonicalColumn("id", CanonicalType.Integer8),
      CanonicalColumn("v", CanonicalType.Double8))
    val strict = ExtractionProjection(df, cols)
    assert(strict.filter(col("v").isNull).count() == 1)
    val allowed = ExtractionProjection(df, cols,
      ExtractionProjection.Policy(allowFloatingPointConversions = true))
    assert(allowed.filter(isnan(col("v"))).count() == 1)
  }

  test("TSTZ columns normalise from the source zone to UTC instants") {
    val df = Seq("2024-01-01 12:00:00").toDF("s")
      .select(col("s").cast("timestamp").as("t"))
    val cols = Seq(CanonicalColumn("t", CanonicalType.TimestampTz))
    val shifted = ExtractionProjection(df, cols,
      ExtractionProjection.Policy(sourceTimeZone = "America/New_York"))
    val utc = shifted.select(date_format(col("t"), "yyyy-MM-dd HH:mm:ss"))
      .head().getString(0)
    assert(utc == "2024-01-01 17:00:00") // EST is UTC-5 in January
  }
}

class OffloadLockSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("second acquisition of the same table fails until release") {
    val dir = Files.createTempDirectory("graft_lock").toString
    val first = OffloadLock.tryAcquire(dir, "db.t")
    assert(first.isDefined)
    assert(OffloadLock.tryAcquire(dir, "db.t").isEmpty)
    assert(OffloadLock.tryAcquire(dir, "db.other").isDefined)
    first.get.release()
    val again = OffloadLock.tryAcquire(dir, "db.t")
    assert(again.isDefined)
    again.get.release()
  }

  test("withLock runs body with a fresh execution id and always releases") {
    val dir = Files.createTempDirectory("graft_lock2").toString
    val id1 = OffloadLock.withLock(dir, "t")(identity)
    val id2 = OffloadLock.withLock(dir, "t")(identity)
    assert(id1 != id2)
    intercept[IllegalStateException] {
      OffloadLock.withLock(dir, "t") { _ =>
        OffloadLock.withLock(dir, "t")(identity) // nested: must fail fast
      }
    }
  }
}

class StreamingOffloadSpec extends SparkSpec {

  test("AvailableNow streaming offload appends batches and advances the HWM") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream_offload").toString
    val events = graft.Tables.load(spark, sf("sf0.001"), "events")
    events.write.parquet(s"$base/source")

    val stream = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/source")
      .withColumn("hour", date_format(col("ts"), "yyyy-MM-dd-HH"))

    val q = StreamingOffload.start(stream, StreamingOffload.Config(
      sourceTable = "events_stream",
      finalPath = s"$base/final",
      metadataDir = s"$base/meta",
      hwmColumn = "ts",
      partitionCols = Seq("hour"),
      checkpointDir = s"$base/ckpt"))
    q.awaitTermination(120000)

    val out = spark.read.parquet(s"$base/final")
    assert(out.count() == events.count())
    val meta = MetadataStore.load(s"$base/meta", "events_stream").get
    assert(meta.offloadType == "INCREMENTAL")
    val expectedMax = events.agg(max(col("ts"))).head().getTimestamp(0)
    assert(meta.incrementalHighValue.head == expectedMax.toString)
    // restart with no new data: no duplicate rows (checkpoint idempotence)
    val q2 = StreamingOffload.start(
      spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/source")
        .withColumn("hour", date_format(col("ts"), "yyyy-MM-dd-HH")),
      StreamingOffload.Config("events_stream", s"$base/final", s"$base/meta",
        "ts", Seq("hour"), s"$base/ckpt"))
    q2.awaitTermination(60000)
    assert(spark.read.parquet(s"$base/final").count() == events.count())
  }

}

class IvfIndexSpec extends SparkSpec {

  test("IVF probe finds the brute-force top neighbour in nprobe cells") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val model = IvfIndex.train(emb, nlist = 8, dim = 64)
    assert(model.nlist == 8)
    val indexed = IvfIndex.assign(emb, model, dim = 64).cache()
    // every vector lands in exactly one cell
    assert(indexed.filter(col("ivf_cell") < 0).count() == 0)
    val cellCount = indexed.select("ivf_cell").distinct().count()
    assert(cellCount > 1 && cellCount <= 8)

    val query = emb.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    val ivfTop = IvfIndex.probe(indexed.filter(col("vec_id") =!= 0), model,
      query, k = 5, nprobe = 4, dim = 64).collect()
    assert(ivfTop.length == 5)

    // recall check vs brute force with generous probes
    val brute = graft.operators.Similarity
      .cosineTopK(emb, queryId = 0, k = 5, dim = 64)
      .collect().map(_.getLong(0)).toSet
    val wide = IvfIndex.probe(indexed.filter(col("vec_id") =!= 0), model,
      query, k = 5, nprobe = 8, dim = 64).collect().map(_.getLong(0)).toSet
    assert(wide == brute) // nprobe = nlist degenerates to exact search
  }

  test("model save/load round-trips and probes identically") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val model = IvfIndex.train(emb, nlist = 8, dim = 64)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_model")
      .toString
    IvfIndex.saveModel(spark, model, s"$dir/model")
    val loaded = IvfIndex.loadModel(spark, s"$dir/model")
    assert(loaded.nlist == model.nlist)
    model.centroids.zip(loaded.centroids).foreach { case (a, b) =>
      assert(a.sameElements(b))
    }
    // probing through the loaded model gives identical results
    val indexed = IvfIndex.assign(emb, model, dim = 64).cache()
    val query = emb.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    val a = IvfIndex.probe(indexed, model, query, k = 5, nprobe = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val b = IvfIndex.probe(indexed, loaded, query, k = 5, nprobe = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(a == b)
  }

  test("persisted index: incremental append equals full rebuild and probes prune files") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val model = IvfIndex.train(emb, nlist = 8, dim = 64)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx")
      .toString
    val path = s"$dir/index"
    // build in two increments against the same model...
    IvfIndex.writeIndex(
      IvfIndex.assign(emb.filter(col("vec_id") % 2 === 0), model, dim = 64),
      path)
    IvfIndex.appendIndex(emb.filter(col("vec_id") % 2 === 1), model,
      dim = 64, path)
    val query = emb.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    // ...and the probe cannot tell it from a one-shot build
    val fromDisk = IvfIndex.probe(
        IvfIndex.readIndex(spark, path).filter(col("vec_id") =!= 0),
        model, query, k = 5, nprobe = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val oneShot = IvfIndex.probe(
        IvfIndex.assign(emb, model, dim = 64).filter(col("vec_id") =!= 0),
        model, query, k = 5, nprobe = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(fromDisk == oneShot)

    // the pruning is physical: the probe's scan selects only the probed
    // cells' files (AQE off so the plan exposes FileSourceScanExec)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probed = IvfIndex.probe(IvfIndex.readIndex(spark, path), model,
        query, k = 5, nprobe = 2, dim = 64)
      val scanned = probed.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum
      val total = IvfIndex.readIndex(spark, path).inputFiles.length.toLong
      assert(scanned > 0 && scanned < total,
        s"no file pruning: probe reads $scanned of $total index files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("index compaction shrinks files, preserves probes and pruning") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val model = IvfIndex.train(emb, nlist = 8, dim = 64)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_cmp")
      .toString
    val path = s"$dir/index"
    // five small appends — the steady-state ingest pattern that accretes
    // small files per cell
    val batches = (0 until 5).map(i => emb.filter(col("vec_id") % 5 === i))
    IvfIndex.writeIndex(IvfIndex.assign(batches.head, model, dim = 64), path)
    batches.tail.foreach(b => IvfIndex.appendIndex(b, model, dim = 64, path))
    val query = emb.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    def probeIds() = IvfIndex.probe(
        IvfIndex.readIndex(spark, path).filter(col("vec_id") =!= 0),
        model, query, k = 5, nprobe = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val before = probeIds()
    val res = graft.sink.Compaction.compact(spark, path)
    assert(res.filesAfter < res.filesBefore,
      s"no shrink: ${res.filesBefore} -> ${res.filesAfter}")
    // identical probe results, and the cell directories survived (the
    // physical pruning unit is preserved, not flattened)
    assert(probeIds() == before)
    assert(IvfIndex.readIndex(spark, path)
      .inputFiles.forall(_.contains("ivf_cell=")))
  }

  test("batch probe equals per-query single probes") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val model = IvfIndex.train(emb, nlist = 8, dim = 64)
    val indexed = IvfIndex.assign(emb, model, dim = 64).cache()
    val qids = Seq(5L, 6L, 7L)
    val queries = emb.filter(col("vec_id").isInCollection(qids))
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("q_vec"))
    val batch = IvfIndex.probeBatch(indexed, model, queries,
      k = 5, nprobe = 3, dim = 64).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(3))).toSeq).toMap
    qids.foreach { qid =>
      val qv = emb.filter(col("vec_id") === qid)
        .head().getSeq[Float](1).map(_.toDouble).toArray
      val single = IvfIndex.probe(
          indexed.filter(col("vec_id") =!= qid), model, qv,
          k = 5, nprobe = 3, dim = 64).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(batch(qid) == single, s"query $qid")
    }
  }

  test("cell assignment codegen COMPILES at nlist=256, dim=768") {
    // the chain formulation was nlist × dim expression nodes — a janino
    // 64KB blowout at this size; the NearestCentroid kernel must hold.
    // Compile failures fall back silently, so compile the stage eagerly.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 768
    val nlist = 256
    val vecs = (0 until 64).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextDouble() - 0.5)))
    val centroids = Array.fill(nlist)(Array.fill(dim)(rnd.nextDouble() - 0.5))
    // through parquet: a projection over an in-memory LocalRelation is
    // constant-folded by ConvertToLocalRelation and never reaches codegen
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_codegen").toString
    vecs.toDF("vec_id", "embedding").write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val assigned = IvfIndex.assign(df, IvfIndex.Model(centroids), dim)
    val compiled = org.apache.spark.sql.graftbridge.CodegenBridge
      .compileWholeStageCode(assigned.queryExecution.executedPlan)
    assert(compiled >= 1, "expected at least one whole-stage codegen stage")

    // and the kernel agrees with a driver-side argmax (first index wins)
    val got = assigned.collect()
      .map(r => r.getLong(0) -> r.getInt(r.fieldIndex("ivf_cell"))).toMap
    vecs.foreach { case (id, v) =>
      var best = -1
      var bestScore = Double.NegativeInfinity
      centroids.indices.foreach { i =>
        var dot = 0.0; var nc = 0.0
        var j = 0
        while (j < dim) {
          dot += v(j) * centroids(i)(j)
          nc += centroids(i)(j) * centroids(i)(j)
          j += 1
        }
        val s = dot / math.sqrt(nc)
        if (s > bestScore) { bestScore = s; best = i }
      }
      assert(got(id) == best, s"vec $id: kernel ${got(id)} vs driver $best")
    }
  }
}
