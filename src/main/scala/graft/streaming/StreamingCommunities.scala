package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Continuously-maintained community assignment over the SAME
  * exactly-once edge store [[StreamingRank]] ingests — one co-occurrence
  * stream, two maintained views: global rank (power iteration, warm-
  * startable) and community labels (label propagation). The edge store,
  * its replay/crash guarantees, and its compaction are StreamingRank's;
  * this object adds only the second derived relation.
  *
  * Unlike PageRank, LPA has NO warm-start composition law (power
  * iteration composes — K₂ steps from the K₁ state ≡ K₁+K₂ cold steps;
  * label propagation's fixed-round result is defined from the identity
  * seeding), so by default every [[refresh]] is a COLD fixed-round run
  * over the committed edge set. That is the honest deterministic
  * contract: the stored labels always equal the batch operator over the
  * accumulated graph (spec-pinned), at the cost of recomputing per
  * refresh — the per-round work is one edge ⋈ labels join, the same
  * per-step cost the rank refresh already pays.
  *
  * `warmStart = true` opts into the SEEDED contract instead
  * ([[Graph.seededLabelPropagation]]): rounds start from the previous
  * stored assignment (new nodes from the cold identity), so at 100 TB
  * stable regions converge in ~1 round and only changed neighbourhoods
  * move — and label ids stay comparable across generations, which is
  * exactly what the drift log measures. Still deterministic — the
  * result is a pure function of (edge store, previous labels, rounds) —
  * but no longer equal to the cold batch operator unless the previous
  * assignment was a true fixed point (both pinned in the spec).
  *
  * The labels relation is swap-managed via [[SwapDir]]: writers heal,
  * readers never heal, the aside generation stays readable through the
  * swap window (the /api/communities route reads this store).
  */
object StreamingCommunities {

  /** Cold fixed-round LPA over the committed edges; atomic install.
    * Each refresh after the first also APPENDS one row to the DRIFT
    * LOG: the Rand index (exact ppm, [[Graph.randIndexPpm]] — computed
    * from the label contingency table, never the n² pair space) between
    * the outgoing and incoming assignments. A continuously-maintained
    * clustering needs a stability signal — rand ≈ 1e6 means the new
    * edges left the structure intact; a drop says the partition
    * reorganised and downstream consumers of community ids should
    * re-resolve. The row is appended only AFTER a successful install,
    * so the log never references a generation that failed to land (the
    * log is advisory: a crash between install and append loses one row,
    * never corrupts the labels). */
  /** Per-store refresh locks: the refresh is a read-modify-write over
    * the labels swap AND the drift log's max(refresh_seq)+1, and the
    * listener's POST route runs handlers on a thread pool (r15 review:
    * two concurrent POSTs could race the install and append duplicate
    * sequence numbers). One JVM-wide lock per store dir — cross-process
    * writers remain out of scope, same as every HWM store. */
  private val refreshLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def labelsTarget(cfg: StreamingRank.Config) =
    SwapDir.target(new org.apache.hadoop.fs.Path(cfg.storeDir, "labels"))

  def refresh(spark: SparkSession, cfg: StreamingRank.Config,
              rounds: Int = 4, warmStart: Boolean = false): Unit =
    refreshLocks.computeIfAbsent(cfg.storeDir, _ => new Object)
      .synchronized { refreshLocked(spark, cfg, rounds, warmStart) }

  private def refreshLocked(spark: SparkSession,
      cfg: StreamingRank.Config,
      rounds: Int, warmStart: Boolean): Unit = {
    val store = new org.apache.hadoop.fs.Path(cfg.storeDir)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.recover(fs, labelsTarget(cfg))
    val pairs = StreamingRank.edges(spark, cfg)
    if (pairs.isEmpty) return
    val prev = communities(spark, cfg)
    // the first refresh has no previous generation — warm degrades to
    // cold (the identity seeding) rather than failing
    val next =
      if (warmStart && !prev.isEmpty)
        Graph.seededLabelPropagation(pairs, prev, rounds)
      else Graph.labelPropagation(pairs, rounds)
    // release in `finally`: on success the parquet install was the
    // checkpointed result's last read; on an install FAILURE the same
    // holds — a long-lived refresher (listener / cron) whose refresh
    // keeps failing must not pin one node-scale RDD per attempt
    try {
      // measure BEFORE the install, while the outgoing generation is
      // still the readable one; 1 collected row, contingency-scale work.
      // Disjoint node sets (prev ∩ next = ∅) make the global aggregate
      // one all-NULL row — getAs[Long] would unbox that to an all-zero
      // record reading as a total reorganisation, so it is SKIPPED: no
      // shared nodes means there is no comparison to log.
      val driftRow =
        if (prev.isEmpty) None
        else Some(Graph.randIndexPpm(prev, next).collect().head)
          .filter(r => !r.isNullAt(r.fieldIndex("n_nodes")) &&
            r.getAs[Long]("n_nodes") > 0L)
      // the HEAD comparison beside the Rand index (the rank drift's
      // overlap/footrule applied to communities): the top-K community
      // ids BY SIZE of each generation — a serving layer can now
      // distinguish "stable partition, reshuffled heads" (rand high,
      // overlap low) from "stable heads" (both high). Two K-row
      // collects, K = StreamingRank.DriftK; the top-K itself is a
      // TakeOrdered over the community-scale size aggregate.
      def heads(labels: DataFrame): Array[Long] =
        labels.groupBy(col("label")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("label"))
          .select(col("label")).limit(StreamingRank.DriftK)
          .collect().map(_.getLong(0))
      val headRow = driftRow.map { _ =>
        val ph = heads(prev)
        val nh = heads(next)
        val prevPos = ph.zipWithIndex.toMap
        val nextPos = nh.zipWithIndex.toMap
        val shared = prevPos.keySet & nextPos.keySet
        val footrule = shared.toSeq
          .map(c => math.abs(prevPos(c) - nextPos(c)).toLong).sum
        (math.min(ph.length, nh.length).toLong, shared.size.toLong,
          footrule)
      }
      SwapDir.install(fs, labelsTarget(cfg)) { tmp =>
        next.write.parquet(tmp.toString)
      }
      driftRow.foreach { r =>
        import spark.implicits._
        // max(refresh_seq)+1 over the same bounded read (r14 ask #8):
        // unlike count()+1 it stays correct even if a row were ever
        // lost (the advisory-log crash window), and it reads as the
        // append-cheap idiom a frequent refresher wants
        val seq = drift(spark, cfg)
          .agg(coalesce(max(col("refresh_seq")), lit(0L)))
          .head.getLong(0) + 1
        val (hk, hov, hfr) = headRow.get
        Seq((seq, r.getAs[Long]("n_nodes"), r.getAs[Long]("n_comm_a"),
          r.getAs[Long]("n_comm_b"), r.getAs[Long]("same_same_pairs"),
          r.getAs[Long]("rand_ppm"), hk, hov, hfr))
          .toDF("refresh_seq", "n_nodes", "n_comm_prev", "n_comm_next",
            "same_same_pairs", "rand_ppm", "head_k", "head_overlap",
            "head_footrule")
          .coalesce(1)
          .write.mode("append").parquet(driftPath(cfg).toString)
      }
    } finally Graph.release(next)
  }

  private def driftPath(cfg: StreamingRank.Config) =
    new org.apache.hadoop.fs.Path(cfg.storeDir, "labels_drift")

  /** The refresh-over-refresh stability log, oldest first:
    * `(refresh_seq, n_nodes, n_comm_prev, n_comm_next,
    * same_same_pairs, rand_ppm, head_k, head_overlap, head_footrule)`
    * — the Rand index for the PARTITION, the head columns for the
    * top-K-by-size COMMUNITY IDS (overlap count + Spearman footrule
    * over the shared ids). Refresh-cardinality (one row per refresh
    * after the first), so reading it whole is always cheap. The head
    * columns widened the schema in this version; a PRE-WIDENING store
    * keeps working — the read merges schemas across files (an upgraded
    * store holds 6- and 9-column files side by side) and renders the
    * legacy rows' head columns as 0, never a 500 on the drift route
    * and never a file-listing-order lottery (r15 review). */
  def drift(spark: SparkSession,
            cfg: StreamingRank.Config): DataFrame = {
    val p = driftPath(cfg)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.emptyDataFrame
        .select(lit(0L).as("refresh_seq"), lit(0L).as("n_nodes"),
          lit(0L).as("n_comm_prev"), lit(0L).as("n_comm_next"),
          lit(0L).as("same_same_pairs"), lit(0L).as("rand_ppm"),
          lit(0L).as("head_k"), lit(0L).as("head_overlap"),
          lit(0L).as("head_footrule"))
        .limit(0)
    else {
      val raw = spark.read.option("mergeSchema", "true")
        .parquet(p.toString)
      val headCols = Seq("head_k", "head_overlap", "head_footrule")
      val widened = headCols.foldLeft(raw)((df, c) =>
        if (df.columns.contains(c)) df else df.withColumn(c, lit(0L)))
      widened.na.fill(0L, headCols).orderBy(col("refresh_seq"))
    }
  }

  /** Current `(node, label)` assignment; empty before the first
    * refresh. Read-only, swap-tolerant, never heals. */
  def communities(spark: SparkSession,
                  cfg: StreamingRank.Config): DataFrame = {
    val store = new org.apache.hadoop.fs.Path(cfg.storeDir)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapDir.resolveForRead(fs, labelsTarget(cfg)) match {
      case Some(d) => spark.read.parquet(d.toString)
        .select(col("node"), col("label"))
      case None => spark.emptyDataFrame
        .select(lit(0L).as("node"), lit(0L).as("label")).limit(0)
    }
  }

  /** Community summary, largest first: `(community, n_members,
    * min_member, max_member)` — the relation the listener's
    * /api/communities route serves. */
  def summary(spark: SparkSession,
              cfg: StreamingRank.Config): DataFrame =
    communities(spark, cfg)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"),
        min(col("node")).as("min_member"),
        max(col("node")).as("max_member"))
      .orderBy(col("n_members").desc, col("community"))
}
