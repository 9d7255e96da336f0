package graft.streaming

import graft.Cut.CutOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup

/** Incrementally-maintained connected components over a stream of
  * candidate pairs — the missing third of the streaming dedup story
  * ([[StreamingDedup]] emits pairs continuously; batch
  * [[Dedup.connectedComponents]] labels them; this keeps the labels
  * CURRENT without ever re-running CC over the full pair history).
  *
  * Representation (a union-find laid out as relations):
  *   - `labels/bucket=N`: (node, root0) — each node's FIRST assigned
  *     root, append-only, partitioned on node mod buckets;
  *   - `aliases`: (old_root, new_root) — merge events, append-only and
  *     merge-count-sized (tiny next to the node relation).
  * A node's current component is root0 pushed through the alias
  * closure. When two components merge, ONE alias row records it — no
  * member relabeling, which is the classic incremental-CC trap: at
  * 100 TB relabeling a giant component's members per merge is a full
  * rewrite; an alias append is O(1).
  *
  * Per batch: only the batch's node buckets are read (partition
  * pruning), the batch-local CC runs over component REPRESENTATIVES
  * (batch-bounded, never history-bounded), and writes are appends.
  *
  * Replay safety: min-union is a semilattice (idempotent, commutative,
  * monotone) — a replayed batch re-derives self-merges and an empty
  * new-node set, so NO high-water mark is needed (same contract class
  * as the max/union sketches, unlike the additive StreamingDayStats).
  * Alias chains grow at most one hop per merge of an already-aliased
  * root; [[compact]] folds the closure into `labels` and resets chains
  * to depth zero.
  */
object StreamingCc {

  final case class Config(
      storeDir: String,
      checkpointDir: String,
      /** node-mod partition count for the labels relation. */
      buckets: Int = 16,
      /** alias-closure iteration cap (chains are merge-depth short;
        * compact() resets them). */
      maxChase: Int = 20)

  private def labelsRoot(cfg: Config) = new Path(cfg.storeDir, "labels")
  private def aliasDir(cfg: Config) = new Path(cfg.storeDir, "aliases")

  /** [[compact]]'s swap paths. A death between the two renames leaves
    * labels__old but no labels: writers [[SwapDir.recover]] it before
    * anything else (or the next merge would discard the entire
    * component history), readers serve it without renaming. */
  private def labelsTarget(cfg: Config) = SwapDir.target(labelsRoot(cfg))

  /** Transitive closure of the alias relation: (old_root, final_root).
    * Runs entirely on the merge-event-sized relation. */
  private[streaming] def aliasClosure(aliases: DataFrame,
                                      maxChase: Int): DataFrame = {
    var closed = aliases.select(col("old_root"), col("new_root"))
      .cut(true)
    // the release must target the CHECKPOINTED step itself: `closed`
    // after hop one is a Project over it, which Graph.release's
    // bare-LogicalRDD match deliberately ignores
    var prevCut: org.apache.spark.sql.DataFrame = closed
    var i = 0
    var done = false
    while (!done && i < maxChase) {
      val step = closed.alias("c")
        .join(aliases.alias("a"),
          col("c.new_root") === col("a.old_root"), "left")
        .select(col("c.old_root"),
          coalesce(col("a.new_root"), col("c.new_root")).as("new_root"),
          col("a.new_root").isNotNull.as("moved"))
        .cut(true)
      done = step.filter(col("moved")).isEmpty
      // step is materialised: the previous hop's snapshot had its last
      // read and is released (the Graph.iterate lifetime rule — at most
      // two merge-event-scale relations resident, not one per hop)
      graft.operators.Graph.release(prevCut)
      prevCut = step
      closed = step.drop("moved")
      i += 1
    }
    // A silently-truncated closure would hand out NON-terminal roots —
    // wrong labels now, and a second outgoing alias per root later
    // (compounding corruption). Fail loudly; the operator needs compact().
    if (!done)
      throw new IllegalStateException(
        s"alias closure did not converge within $maxChase hops — " +
          "run StreamingCc.compact() to fold chains")
    closed
  }

  def start(pairs: DataFrame, cfg: Config): StreamingQuery =
    pairs.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, cfg)
      }
      .start()

  /** Merge one batch of (id_a, id_b) pairs. Idempotent — replays and
    * overlapping deliveries converge to the same state. */
  def mergeBatch(batch: DataFrame, cfg: Config): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val fs = labelsRoot(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, labelsTarget(cfg))
    val pairs = batch.select(col("id_a").cast("long"),
        col("id_b").cast("long"))
      .filter(col("id_a") =!= col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = pairs.select(col("id_a").as("node"))
        .union(pairs.select(col("id_b").as("node"))).distinct()
        .withColumn("bucket",
          pmod(col("node"), lit(cfg.buckets.toLong)).cast("int"))
      val touched = nodes.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
      // Resident roots for batch nodes only — bucket-pruned read.
      val resident =
        if (fs.exists(labelsRoot(cfg)))
          spark.read.parquet(labelsRoot(cfg).toString)
            .filter(col("bucket").isInCollection(touched))
            .join(nodes.select(col("node")), Seq("node"))
            .select(col("node"), col("root0")).distinct()
        else nodes.select(col("node"), lit(null).cast("long").as("root0"))
          .limit(0)
      val aliases =
        if (fs.exists(aliasDir(cfg)))
          spark.read.parquet(aliasDir(cfg).toString).distinct()
        else spark.emptyDataFrame
          .select(lit(0L).as("old_root"), lit(0L).as("new_root")).limit(0)
      val closure = aliasClosure(aliases, cfg.maxChase)
      // Each batch node's current representative: resolved resident root,
      // or itself when unseen.
      val rep = nodes.select(col("node"))
        .join(resident, Seq("node"), "left")
        .join(closure.withColumnRenamed("old_root", "root0"),
          Seq("root0"), "left")
        .select(col("node"),
          coalesce(col("new_root"), col("root0"), col("node")).as("rep"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // Batch-local CC over representatives (batch-bounded input).
      val repEdges = pairs
        .join(rep.withColumnRenamed("node", "id_a")
          .withColumnRenamed("rep", "rep_a"), Seq("id_a"))
        .join(rep.withColumnRenamed("node", "id_b")
          .withColumnRenamed("rep", "rep_b"), Seq("id_b"))
        .select(col("rep_a"), col("rep_b"))
        .filter(col("rep_a") =!= col("rep_b"))
      val repLabels =
        if (repEdges.isEmpty)
          rep.select(col("rep").as("doc_id"),
            col("rep").as("cluster_id")).distinct()
        else {
          val cc = Dedup.connectedComponents(repEdges, "rep_a", "rep_b")
          // reps untouched by any cross-component edge keep themselves
          rep.select(col("rep").as("doc_id")).distinct()
            .join(cc, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        }
      val target = repLabels
        .select(col("doc_id").as("rep"), col("cluster_id").as("tgt"))
      // New nodes: first label row, root0 = the component's current min.
      val newLabels = rep.join(resident.select(col("node")), Seq("node"),
          "left_anti")
        .join(target, Seq("rep"))
        .select(col("node"), col("tgt").as("root0"),
          pmod(col("node"), lit(cfg.buckets.toLong)).cast("int")
            .as("bucket"))
      if (!newLabels.isEmpty)
        newLabels.write.mode("append").partitionBy("bucket")
          .parquet(labelsRoot(cfg).toString)
      // Resident roots swallowed by a merge: one alias row each.
      val newAliases = target
        .join(rep.select(col("rep")).distinct()
          .join(resident.select(col("root0")).distinct()
            .join(closure.withColumnRenamed("old_root", "root0"),
              Seq("root0"), "left")
            .select(coalesce(col("new_root"), col("root0")).as("rep"))
            .distinct(), Seq("rep")), Seq("rep"))
        .filter(col("rep") =!= col("tgt"))
        .select(col("rep").as("old_root"), col("tgt").as("new_root"))
      if (!newAliases.isEmpty)
        newAliases.write.mode("append").parquet(aliasDir(cfg).toString)
      rep.unpersist()
      ()
    } finally { pairs.unpersist(); () }
  }

  /** Current labels: (node, root) with root pushed through the alias
    * closure — equals batch [[Dedup.connectedComponents]] over the full
    * pair history (component root = its minimum node id). */
  def resolved(spark: SparkSession, cfg: Config): DataFrame = {
    val fs = labelsRoot(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val labelsDir = SwapDir.resolveForRead(fs, labelsTarget(cfg)) match {
      case Some(d) => d
      case None => return spark.emptyDataFrame
        .select(lit(0L).as("node"), lit(0L).as("root")).limit(0)
    }
    val labels = spark.read.parquet(labelsDir.toString)
      .select(col("node"), col("root0")).distinct()
    val closure =
      if (fs.exists(aliasDir(cfg)))
        aliasClosure(
          spark.read.parquet(aliasDir(cfg).toString).distinct(),
          cfg.maxChase)
      else spark.emptyDataFrame
        .select(lit(0L).as("old_root"), lit(0L).as("new_root")).limit(0)
    // No forced broadcast: the alias closure is usually tiny (AQE will
    // broadcast it), but if compact() hasn't run and the merge history
    // grew past the broadcast threshold, a hint would OOM the build side
    // — compact() must stay an optimization, never a correctness gate.
    labels
      .join(closure.withColumnRenamed("old_root", "root0"),
        Seq("root0"), "left")
      .select(col("node"),
        coalesce(col("new_root"), col("root0")).as("root"))
  }

  /** Fold the alias closure into the label relation and clear the alias
    * chains (root0 becomes final again; chase depth resets to zero).
    * A maintenance pass — run it when the alias relation grows past the
    * broadcast-comfortable range. */
  def compact(spark: SparkSession, cfg: Config): Unit = {
    val fs = labelsRoot(cfg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, labelsTarget(cfg))
    if (!fs.exists(labelsRoot(cfg)) || !fs.exists(aliasDir(cfg))) return
    val folded = resolved(spark, cfg)
      .select(col("node"), col("root").as("root0"),
        pmod(col("node"), lit(cfg.buckets.toLong)).cast("int")
          .as("bucket"))
    SwapDir.install(fs, labelsTarget(cfg)) { tmp =>
      folded.write.partitionBy("bucket").parquet(tmp.toString)
    }
    fs.delete(aliasDir(cfg), true)
    ()
  }
}
