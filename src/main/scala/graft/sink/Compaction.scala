package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Small-file compaction: rewrite a parquet directory into files of
  * roughly `targetBytes` each.
  *
  * Why this is a first-class operator at 100 TB: incremental offload
  * chunks, streaming foreachBatch appends and dynamic partition
  * overwrites all accrete small files; past a few thousand per directory,
  * task scheduling and footer reads dominate scan time. The reference
  * never needs this (its backends compact internally — BigQuery storage,
  * Hive compactions); a parquet-on-DFS engine must own it.
  *
  * Shape: file count is decided from the CURRENT byte size (one metadata
  * listing, no data read); the rewrite is one repartition; the swap is
  * write-to-temp + atomic-ish rename with the original kept until the
  * rewrite has fully committed — a crash mid-compaction leaves either the
  * old directory or the new one, never a mix.
  */
object Compaction {

  final case class CompactionResult(
      filesBefore: Int, filesAfter: Int, bytes: Long, rows: Long)

  private def parquetFiles(spark: SparkSession, dir: Path) = {
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(dir, true)
    val buf = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) buf += f
    }
    (fs, buf.result())
  }

  /** Hive-style partition columns inferred from the directory layout
    * (`k=v` path segments of the first data file, in order). A compaction
    * that flattened these would silently destroy partition pruning. */
  private def partitionColsOf(dir: Path,
      files: Seq[org.apache.hadoop.fs.LocatedFileStatus]): Seq[String] =
    files.headOption.toSeq.flatMap { f =>
      val rel = f.getPath.toUri.getPath
        .stripPrefix(dir.toUri.getPath).stripPrefix("/")
      rel.split('/').dropRight(1).toSeq
        .filter(_.contains('=')).map(_.takeWhile(_ != '='))
    }

  /** Compact `path` in place. `sortCols` re-establishes in-file ordering
    * (e.g. the z-value or sort columns) — a plain repartition would
    * destroy min/max locality. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024,
              sortCols: Seq[String] = Nil): CompactionResult = {
    require(targetBytes > 0)
    val dir = new Path(path)
    val (fs, files) = parquetFiles(spark, dir)
    val totalBytes = files.map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

    val df = spark.read.parquet(path)
    val rows = df.count()
    // preserve a Hive-partitioned layout: flattening k=v directories into
    // plain files would silently break partition pruning for readers
    val partCols = partitionColsOf(dir, files)
    val rewritten = {
      val rep =
        if (partCols.isEmpty) df.repartition(nFiles)
        else df.repartition(nFiles, partCols.map(col): _*)
      if (sortCols.isEmpty) rep
      else rep.sortWithinPartitions(sortCols.map(col): _*)
    }
    val tmp = new Path(dir.getParent, dir.getName + "__compact_tmp")
    fs.delete(tmp, true)
    val writer = rewritten.write
    (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
      .parquet(tmp.toString)

    // swap: old dir out of the way first, new dir in, then drop the old —
    // a failure between the renames leaves a recoverable __compact_old
    val old = new Path(dir.getParent, dir.getName + "__compact_old")
    fs.delete(old, true)
    if (!fs.rename(dir, old))
      throw new IllegalStateException(s"compaction: cannot move $dir aside")
    if (!fs.rename(tmp, dir)) {
      fs.rename(old, dir) // roll back
      throw new IllegalStateException(s"compaction: cannot install $tmp")
    }
    fs.delete(old, true)

    val (_, after) = parquetFiles(spark, dir)
    CompactionResult(files.length, after.length, totalBytes, rows)
  }
}
