package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Crash-safe high-water-mark sidecar files for the streaming stores.
  *
  * A bare `fs.create(path, overwrite = true)` TRUNCATES the old value
  * before the new bytes land, so a crash between the two leaves an
  * empty file — and a reader that throws on it wedges the stream on
  * every restart. Writes here go through a temp file + rename (the
  * [[graft.meta.MetadataStore]] discipline), and reads tolerate a
  * missing, empty, or torn file by returning -1.
  *
  * What a lost HWM costs depends on the store. Where replays are
  * idempotent by construction (batch-scoped dynamic overwrite, or a
  * max/union merge), it costs a redundant rewrite. Where the merge is
  * ADDITIVE — the count-min sketch, the histogram, the day totals, the
  * SCD runs, the text-index totals once folded — a replay the HWM does
  * not cover double-counts, so the HWM is load-bearing: the swapped
  * stores write it inside the generation it certifies, and one install
  * commits both ([[SwapStore]], the SCD buckets).
  */
private[streaming] object Hwm {

  def read(fs: FileSystem, path: Path): Long = {
    if (!fs.exists(path)) return -1L
    val in = fs.open(path)
    val raw = try new String(in.readAllBytes(), "UTF-8").trim
      finally in.close()
    try if (raw.isEmpty) -1L else raw.toLong
    catch { case _: NumberFormatException => -1L }
  }

  /** Discriminate a benign foreachBatch replay from a checkpoint reset.
    *
    * Offsets commit per batch, so a legitimate replay can only re-fire
    * the LAST committed batch — `batchId == committed` is the ONLY
    * benign skip (returns false: caller no-ops). `batchId` BELOW the
    * committed HWM means the checkpoint was reset (ids restarted at 0)
    * or the store is bound to the wrong stream; silently skipping would
    * turn EVERY future batch into a no-op and drop new data without a
    * signal (ids climb from 0 toward the old HWM), so fail loudly and
    * make the operator reset the store or restore the checkpoint — the
    * [[graft.streaming.StreamingOffload]] discipline, shared by every
    * HWM-guarded store. Returns true when the batch is new work. */
  def replayGuard(batchId: Long, committed: Long,
                  store: String): Boolean = {
    if (batchId > committed) return true
    if (batchId == committed) return false
    throw new IllegalStateException(
      s"$store: batch id $batchId is below the committed HWM " +
        s"$committed — the checkpoint was reset (batch ids restart " +
        "at 0) or this store belongs to another stream. Refusing to " +
        "skip (that would silently drop every new batch until ids " +
        "pass the old HWM); reset the store or restore the checkpoint.")
  }

  def write(fs: FileSystem, path: Path, value: Long): Unit =
    write(fs, path, value.toString)

  /** Install `text` at `path` through a temp file + rename. */
  def write(fs: FileSystem, path: Path, text: String): Unit = {
    val tmp = new Path(path.getParent, path.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
    fs.delete(path, false)
    if (!fs.rename(tmp, path))
      throw new IllegalStateException(s"sidecar write: cannot install $tmp")
  }
}

/** Swap-managed relation directory: temp write + two renames install a
  * new generation, with crash recovery and swap-tolerant reads. This is
  * the only code in the streaming stores that moves a generation aside
  * or installs one. The contract, spec-pinned on the rank and community
  * stores:
  *   - WRITERS heal: [[recover]] runs before an install or a write into
  *     the live directory (a crash between the two renames leaves the
  *     aside but no current — rename it back).
  *   - READERS never heal: [[resolveForRead]] serves the aside when the
  *     current dir is missing. A reader that renamed the aside back
  *     inside a LIVE writer's rename window would make the writer's
  *     `rename(temp, current)` nest the new generation INSIDE the
  *     resurrected one and still return true: the batch would be lost.
  *   - The aside is RETAINED through the swap and reclaimed by the NEXT
  *     install, after its temp is written: deleting it at swap end would
  *     fail a concurrent reader still scanning the previous generation.
  *     Every swap-managed directory therefore keeps one previous
  *     generation on disk. */
private[streaming] object SwapDir {

  /** The three paths of one swap-managed directory: the live
    * generation, the temp the next one is written to, and the aside the
    * previous one moves to. */
  final case class Target(current: Path, temp: Path, aside: Path)

  /** `dir`, `dir__tmp`, `dir__old`. */
  def target(dir: Path): Target = beside(dir, "__tmp", "__old")

  /** `dir`, `dir__compact_tmp`, `dir__compact_old` — the names of the
    * batch-fold compactions. */
  def compactTarget(dir: Path): Target =
    beside(dir, "__compact_tmp", "__compact_old")

  private def beside(dir: Path, tmp: String, old: String): Target =
    Target(dir, new Path(dir.getParent, dir.getName + tmp),
      new Path(dir.getParent, dir.getName + old))

  /** Writer-side crash recovery: current missing + aside present. */
  def recover(fs: FileSystem, t: Target): Unit =
    if (!fs.exists(t.current) && fs.exists(t.aside) &&
        !fs.rename(t.aside, t.current))
      throw new IllegalStateException(s"swap recovery failed: ${t.aside}")

  /** Read-side resolution — current, else the aside, else nothing; no
    * filesystem mutation ever. */
  def resolveForRead(fs: FileSystem, t: Target): Option[Path] =
    Seq(t.current, t.aside).find(fs.exists)

  /** Install the generation `write` puts at the temp path it is given
    * (with its partitioning, a riding `_hwm`, preserved partitions). The
    * previous generation moves to the aside and STAYS there (deferred
    * reclaim — see the object doc).
    *
    * Hadoop's rename onto an existing directory moves the source INTO it
    * and returns true, so a `current` put back inside the window (another
    * writer's [[recover]]) would turn the install into a nested
    * generation Spark cannot read. The second rename therefore must not
    * leave `current/<temp name>`; when it does (or fails), the nested
    * generation moves back out to the temp and install throws, so the
    * batch fails and replays. */
  def install(fs: FileSystem, t: Target)(write: Path => Unit): Unit = {
    fs.delete(t.temp, true)
    write(t.temp)
    fs.delete(t.aside, true)
    if (fs.exists(t.current) && !fs.rename(t.current, t.aside))
      throw new IllegalStateException(s"${t.current}: cannot move aside")
    val nested = new Path(t.current, t.temp.getName)
    if (!fs.rename(t.temp, t.current) || fs.exists(nested)) {
      if (fs.exists(nested)) fs.rename(nested, t.temp)
      else if (!fs.exists(t.current) && fs.exists(t.aside))
        fs.rename(t.aside, t.current) // roll back
      throw new IllegalStateException(s"${t.current}: cannot install")
    }
  }
}

/** Advisory lock serializing a store's ingest against its own compaction,
  * keyed by the store root (the lock file sits in `<root>__lock`). A
  * compaction's [[SwapDir.install]] moves the live generation aside and
  * installs a temp built from it: an ingest writing into the live root or
  * running [[SwapDir.recover]] inside that window would land its rows in
  * the generation being replaced, or put `current` back. Blocking, so a
  * compaction arriving mid-batch runs right after the batch and a batch
  * arriving mid-compaction waits instead of failing the stream. Local
  * driver-host scope, like every [[graft.orchestrate.OffloadLock]].
  * NOT re-entrant: the OS file lock is held per JVM, so a locked call
  * must never reach another locked call on the same store. */
private[streaming] object StoreLock {
  def apply[T](root: String)(body: => T): T =
    graft.orchestrate.OffloadLock.withBlockingLock(
      root.stripPrefix("file:") + "__lock", "store")(body)
}

/** One swap-managed relation that every micro-batch merges into — the
  * shared body of the merge stores ([[StreamingHll]], [[StreamingKmv]],
  * [[StreamingSketch]], [[StreamingHistogram]], [[StreamingDayStats]]).
  * A batch runs, in this order:
  *   1. writer-side [[SwapDir.recover]] — an aside-renamed store must
  *      never look empty, or the merge would reset every count;
  *   2. the replay guard on [[lastBatch]];
  *   3. the merge of the batch's `fresh` relation with the resident one;
  *   4. one [[SwapDir.install]] whose temp carries the batch's `_hwm`, so
  *      data and HWM commit in one rename — additive merges (counts,
  *      sums) would double-count on a replay the HWM did not cover.
  * Reads resolve, never heal. `schema` is the empty relation's columns. */
private[streaming] final class SwapStore(
    dir: String, name: String, label: String,
    fresh: DataFrame => DataFrame,
    merge: (DataFrame, DataFrame) => DataFrame,
    schema: Seq[Column]) {

  private val target = SwapDir.target(new Path(dir, name))
  // where stores written before the HWM rode the install kept it
  private val legacyHwm = new Path(dir, "_hwm")

  private def fs(spark: SparkSession) =
    target.current.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed batch id: the HWM inside the generation a reader
    * would see, or the legacy beside-the-dir file, whichever is higher. */
  def lastBatch(spark: SparkSession): Long = {
    val f = fs(spark)
    val riding = SwapDir.resolveForRead(f, target)
      .map(d => Hwm.read(f, new Path(d, "_hwm"))).getOrElse(-1L)
    math.max(riding, Hwm.read(f, legacyHwm))
  }

  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val f = fs(spark)
    SwapDir.recover(f, target)
    if (!Hwm.replayGuard(batchId, lastBatch(spark), label))
      return // committed replay: skip
    val merged =
      if (f.exists(target.current))
        merge(spark.read.parquet(target.current.toString), fresh(batch))
      else fresh(batch)
    SwapDir.install(f, target) { tmp =>
      merged.write.parquet(tmp.toString)
      Hwm.write(f, new Path(tmp, "_hwm"), batchId)
    }
    f.delete(legacyHwm, false) // superseded by the riding HWM
    ()
  }

  /** The resident relation (empty when nothing has arrived). */
  def read(spark: SparkSession): DataFrame =
    SwapDir.resolveForRead(fs(spark), target) match {
      case Some(d) => spark.read.parquet(d.toString)
      case None => spark.emptyDataFrame.select(schema: _*).limit(0)
    }
}

/** Shared guard for the maintenance folds ([[StreamingDedup.compactIndex]],
  * [[StreamingIvf.compactIndex]], [[StreamingTextIndex.compact]]): only
  * COMMITTED batches may fold into `batch_id=-1`, i.e. `batch_id <= HWM`
  * (negative migrated/folded ids sort below every HWM and are committed
  * by construction). An UNCOMMITTED partition — id above the HWM, its
  * batch crashed between the data write and the HWM write — must stay
  * its own partition: the stream's replay will dynamic-overwrite it, and
  * folding it into `-1` first would double its rows the moment the
  * replay lands. The preserved dirs ride into the rewritten temp as pure
  * metadata renames before the swap, so the installed directory carries
  * them unchanged. (A crash between those renames and the swap can drop
  * an uncommitted partition from the live root — harmless: its batch is
  * by definition not in the stream's commit log and replays in full.) */
private[streaming] object CommittedFold {

  def batchIdOf(name: String): Option[Long] =
    if (!name.startsWith("batch_id=")) None
    else scala.util.Try(name.stripPrefix("batch_id=").toLong).toOption

  /** `batch_id=N` partition dirs under `root` with N above the HWM. */
  def uncommittedDirs(fs: FileSystem, root: Path,
                      hwm: Long): Array[Path] =
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root)
      .filter(st => batchIdOf(st.getPath.getName).exists(_ > hwm))
      .map(_.getPath)

  /** Metadata-rename each preserved partition dir into the rewritten
    * temp, so the swap installs committed-fold + uncommitted-as-is. */
  def preserveInto(fs: FileSystem, dirs: Array[Path], tmp: Path): Unit =
    dirs.foreach { d =>
      if (!fs.rename(d, new Path(tmp, d.getName)))
        throw new IllegalStateException(
          s"compact: cannot preserve uncommitted partition $d")
    }
}

/** One-time in-place upgrade of a pre-`batch_id` store layout.
  *
  * The exactly-once rewrite partitions every store by `batch_id`; a
  * store written by the append-only layout has its leaves one level
  * shallower (`bucket=K/part-*.parquet`, or bare part files), and Spark
  * partition discovery over the MIXED tree throws "Conflicting
  * directory structures" — the store would wedge, not degrade. Folding
  * the legacy entries under `batch_id=-1` (pure metadata renames, one
  * level) makes old data a normal committed partition: probed, pruned,
  * and compacted exactly like a folded batch. */
private[streaming] object LegacyLayout {

  // per-JVM memo of paths already checked: the migration is one-time, so
  // steady-state batches skip the listStatus probes entirely (on object
  // stores those are billable LIST calls on every micro-batch)
  private val migrated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def legacyEntries(fs: FileSystem, root: Path) =
    if (!fs.exists(root)) Array.empty[org.apache.hadoop.fs.FileStatus]
    else fs.listStatus(root).filter { st =>
      val n = st.getPath.getName
      !n.startsWith("batch_id=") && !n.startsWith("_") &&
        !n.startsWith(".")
    }

  /** Rename-fold, for stores whose legacy files do NOT carry a
    * `batch_id` data column (the dedup band index, the curation hash
    * index, the IVF cell store): legacy entries move under
    * `batch_id=-1` as pure metadata renames. */
  def fold(fs: FileSystem, root: Path): Unit = {
    if (migrated.contains(root.toString)) return
    val entries = legacyEntries(fs, root)
    if (entries.isEmpty) { migrated.add(root.toString); (); return }
    val dest = new Path(root, "batch_id=-1")
    fs.mkdirs(dest)
    entries.foreach { st =>
      if (!fs.rename(st.getPath, new Path(dest, st.getPath.getName)))
        throw new IllegalStateException(
          s"legacy layout fold: cannot move ${st.getPath}")
    }
    migrated.add(root.toString); ()
  }

  /** Rewrite-fold, for stores whose legacy files DO carry `batch_id` as
    * a DATA column (the dedup pairs table, the curation corpus and
    * quarantine): a rename under `batch_id=-1` would collide the data
    * column with the partition column and fail every read. Instead the
    * loose legacy files rewrite ONCE into `batch_id` partitions derived
    * from their own column — a pair/doc-scale job, run only on first
    * contact with an old store. Crash-safe: the rewrite lands in a temp
    * dir first; the loose files are deleted only after it completes; a
    * leftover temp with no loose files resumes the move.
    *
    * Legacy ids are REMAPPED into the reserved negative range
    * `id -> -(id + 2)` (keeping `-1` for compaction folds). Preserving
    * them verbatim would be a data-loss trap: a stream restarted with a
    * FRESH checkpoint over an upgraded store restarts batch ids at 0,
    * and its dynamic partition overwrite of `batch_id=0..K` would
    * silently replace the migrated partitions carrying the same ids.
    * Negative ids can never collide with a live foreachBatch id (always
    * >= 0), and sort below every HWM, so compaction folds treat migrated
    * data as committed — which it is. */
  def rewriteFold(spark: org.apache.spark.sql.SparkSession,
                  root: Path): Unit = {
    if (migrated.contains(root.toString)) return
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(root.getParent, root.getName + "__legacy_tmp")
    def moveIn(): Unit = {
      fs.listStatus(tmp).filter(_.getPath.getName.startsWith("batch_id="))
        .foreach { st =>
          val dest = new Path(root, st.getPath.getName)
          fs.delete(dest, true)
          if (!fs.rename(st.getPath, dest))
            throw new IllegalStateException(
              s"legacy rewrite: cannot move ${st.getPath}")
        }
      fs.delete(tmp, true)
      ()
    }
    // Spark's committer writes _SUCCESS when the rewrite COMPLETED — the
    // authoritative resume signal. A completed tmp must never be thrown
    // away while loose files remain: the interrupted step was the
    // deletion loop, and the tmp holds the ONLY copy of the rows whose
    // loose files are already gone. An incomplete tmp (no _SUCCESS) is
    // discardable garbage precisely because no loose file was deleted
    // before the write finished.
    val tmpComplete = fs.exists(new Path(tmp, "_SUCCESS"))
    val loose = legacyEntries(fs, root).filter(_.isFile)
    if (tmpComplete) {
      loose.foreach(st => fs.delete(st.getPath, false))
      moveIn()
      migrated.add(root.toString); ()
      return
    }
    if (loose.isEmpty) {
      fs.delete(tmp, true) // incomplete leftover, nothing to fold
      migrated.add(root.toString); ()
      return
    }
    fs.delete(tmp, true)
    spark.read.parquet(loose.map(_.getPath.toString): _*)
      .withColumn("batch_id",
        org.apache.spark.sql.functions.expr("-(CAST(batch_id AS BIGINT) + 2)"))
      .write.partitionBy("batch_id").parquet(tmp.toString)
    loose.foreach(st => fs.delete(st.getPath, false))
    moveIn()
    migrated.add(root.toString); ()
  }
}
