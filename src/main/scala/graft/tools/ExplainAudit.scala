package graft.tools

import graft.Cut.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.expressions.EqualTo
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

/** Plan auditor: mechanical checks for the scale-unsafe shapes that pass a
  * small-SF correctness gate but serialize or explode on a real cluster —
  * cartesian products between row-scale inputs, and unpartitioned windows
  * whose input is not provably bounded (an unpartitioned window moves its
  * ENTIRE input through one task).
  *
  * Used two ways: `ExplainAuditSpec` runs [[audit]] over every
  * `SparkEntry.queries` plan in CI, and [[main]] prints formatted plans for
  * eyeball review of pushdown / broadcast / partition-count properties.
  *
  * Broadcast choice is deliberately NOT audited here: the Catalyst planner
  * broadcasts any equi-join side whose estimated size is below
  * `spark.sql.autoBroadcastJoinThreshold`, and AQE re-plans at runtime from
  * observed sizes — flagging SortMergeJoins on estimated stats would only
  * second-guess the engine with weaker information.
  */
object ExplainAudit {

  final case class Finding(query: String, kind: String, detail: String) {
    override def toString: String = s"[$query] $kind: $detail"
  }

  /** CI-only tap for [[auditedCut]]: when non-null, every cut ALSO runs
    * the group-quadratic measurement on its PRE-CUT plan and streams
    * findings here — the checkpoint collapses the plan to a
    * `LogicalRDD` leaf, so a post-build [[auditQuadraticSelfJoin]] call
    * (the `ExplainAuditSpec` gate) would see no Join at all and every
    * auditedCut-wrapped query — q329's own class — would silently
    * vacate the detector. Production leaves this null: the quadratic
    * audit MEASURES (two aggregates per candidate join) and must not
    * tax every real invocation the way the free static audit can. Set
    * and cleared only by the CI spec, single-threadedly. */
  @volatile private[graft] var quadraticSink: Finding => Unit = null

  /** Audit, then eagerly cut: the BOUNDED-result checkpoint pattern for
    * queries whose backing artifact is released before the caller reads
    * the plan. The cut collapses the plan to a `LogicalRDD` leaf —
    * which would silently vacate the `ExplainAuditSpec` CI gate — so
    * the audit runs HERE, on the still-visible pre-cut plan, and fails
    * the query itself (the GraphQueries `auditedCut` contract, shared
    * so non-graph callers can't fork the semantics). Under the CI
    * [[quadraticSink]], the measured group-quadratic audit runs on the
    * same pre-cut plan. */
  def auditedCut(df: DataFrame, name: String): DataFrame = {
    val findings = audit(df, name)
    require(findings.isEmpty,
      s"scale-unsafe plan in $name:\n" + findings.mkString("\n"))
    val sink = quadraticSink
    if (sink != null) auditQuadraticSelfJoin(df, name).foreach(sink)
    dumpPreCut(df, name)
    df.cut(true)
  }

  /** PRE-CUT plan evidence (r17 verdict: every committed plan dump for
    * a checkpoint-cut query was the vacuous post-cut `Scan ExistingRDD`
    * leaf, so Exchange/broadcast claims were unverifiable). When
    * `SPARK_GRAFT_PLAN_DUMP_DIR` is set, every [[auditedCut]] writes
    * the formatted plan it audited — the last still-visible plan before
    * the checkpoint collapses it — to `<dir>/<name>_pre_cut.txt`.
    * Production leaves the env unset: rendering the executed plan costs
    * physical planning, a tax [[auditedCut]] must not levy per real
    * invocation. Failure-safe like the bench artifact (never fails the
    * query). */
  private def dumpPreCut(df: DataFrame, name: String): Unit =
    sys.env.get("SPARK_GRAFT_PLAN_DUMP_DIR").foreach { d =>
      try {
        val p = java.nio.file.Paths.get(d)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.write(p.resolve(s"${name}_pre_cut.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Audit the optimized logical plan for scale-unsafe shapes. */
  def audit(df: DataFrame, name: String): Seq[Finding] = {
    val findings = Seq.newBuilder[Finding]
    df.queryExecution.optimizedPlan.foreach {
      // an explicit broadcast hint marks a reviewed choice (e.g. q33
      // fanning one query vector across the corpus): shuffle-free and
      // linear in the big side, not a cartesian blow-up
      case j: Join if j.condition.isEmpty
          && !(bounded(j.left) || bounded(j.right))
          && !Seq(j.hint.leftHint, j.hint.rightHint).flatten
            .exists(_.strategy.contains(BROADCAST)) =>
        findings += Finding(name, "cartesian_product", j.simpleString(120))
      case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) =>
        findings += Finding(name, "global_window", w.simpleString(120))
      case _ =>
    }
    findings.result()
  }

  /** Reviewed group-quadratic self-joins [[auditQuadraticSelfJoin]] must
    * stay quiet on. The r15-verdict candidates are exempt structurally —
    * q290's month-grain pairs join two AGGREGATES (bounded sides),
    * q334's order-grain relation joins on a row-scale key — and
    * constant-mean-group keys (events.user_id) clear via the
    * cross-scale confirmation in [[auditQuadraticConfirmed]]. Add a
    * name here ONLY with a review comment naming the mechanism that
    * bounds the pair space at scale. */
  val QuadraticAllowlist: Set[String] = Set(
    // Bucketed ANN candidate generation (reviewed r16, knobs made
    // SELF-SCALING r17): pairs generate within IVF cells / LSH
    // hyperplane buckets BY DESIGN — that IS the operator. The scale
    // knob is the bucket count, and since r17 it scales itself with
    // the corpus ([[graft.operators.IvfIndex.autoCellCount]] /
    // [[graft.operators.Similarity.autoBucketBits]]: expected
    // population per bucket stays ≤ 512/256), so the within-bucket
    // pair space grows LINEARLY with the data — measured at the
    // x8/x32 scale probe (bench/scale_probe.json): q190 exponent
    // 3.5→~1, q35 1.7→~1. Still allowlisted because at the sf0.01
    // gate the clamped minimum (4 cells / 4 bits) keeps group NDV
    // small relative to rows, which is exactly the static screen's
    // fire condition; the probe, not the screen, is the evidence the
    // growth is linear.
    "q190_semdedup", "q35_embed_neardup")

  /** GROUP-QUADRATIC SELF-JOIN detector (the r15 gate gap: q329's
    * per-brand all-pairs γ passed both static checks — its join had a
    * condition and its windows were partitioned — yet materialized
    * Σ_brand C(n_brand, 2) pairs, quadratic in the catalog slice). The
    * tell is structural + statistical: both join sides descend from the
    * SAME leaf relation, neither side is bounded by construction, and the
    * only equi-keys are DOMAIN-grain columns — NDV small in absolute
    * terms and already far below the row count, so the per-group slice
    * (and with it the pair space, ≈ NDV·(rows/NDV)²) grows quadratically
    * with scale while the key domain stays put.
    *
    * The static screen (shared leaf, unbounded sides, equi-keys present)
    * is free; only candidates that pass it are MEASURED — one two-agg
    * probe (rows + exact NDV of the combined equi-key struct) per
    * join side, the [[graft.plan.JoinAdvisor]] discipline: a cheap
    * pre-flight against a join that would be hours at 100 TB. The
    * group-quadratic tell needs MULTI-ROW GROUPS ON BOTH SIDES — a
    * 1:N enrichment join (value rows ⋈ per-bucket offsets, a salted
    * dimension fan-out) keys N rows against ONE row per key and stays
    * linear however small the key domain, so the fire condition is on
    * the SMALLER side's mean group too. A fire needs all of: each
    * side ≥ `minRows` (metadata-scale relations prove nothing),
    * either side's key NDV ≤ `ndvCap` (a row-identity key's NDV
    * scales with the data and keeps the join linear-ish; a domain
    * key's does not), and BOTH sides' rows ≥ `growthFactor` × their
    * key NDV (both groups have already outgrown the domain at test
    * scale — at 100× the pair product only gets worse).
    *
    * CI-only by design ([[graft.tools]] spec gate): [[auditedCut]] stays
    * static because it runs on every production invocation and a
    * measurement pass there would tax the very queries it guards. */
  def auditQuadraticSelfJoin(df: DataFrame, name: String,
      minRows: Long = 100L, ndvCap: Long = 256L,
      growthFactor: Long = 4L,
      allow: Set[String] = QuadraticAllowlist): Seq[Finding] = {
    if (allow.contains(name)) return Nil
    val findings = Seq.newBuilder[Finding]
    df.queryExecution.optimizedPlan.foreach {
      case j: Join if j.condition.isDefined && pairProducing(j)
          && !bounded(j.left) && !bounded(j.right)
          && leafIds(j.left).intersect(leafIds(j.right)).nonEmpty =>
        val keys = equiKeyPairs(j)
        if (keys.nonEmpty) {
          val (rowsL, ndvL) =
            measureKeyNdv(df.sparkSession, j.left, keys.map(_._1))
          val (rowsR, ndvR) =
            measureKeyNdv(df.sparkSession, j.right, keys.map(_._2))
          val quadratic = math.min(rowsL, rowsR) >= minRows &&
            ndvL > 0 && ndvR > 0 &&
            math.min(ndvL, ndvR) <= ndvCap &&
            rowsL >= growthFactor * ndvL &&
            rowsR >= growthFactor * ndvR
          if (quadratic)
            findings += Finding(name, "group_quadratic_self_join",
              s"equi-keys [${keys.map(_._1.name).mkString(", ")}] have " +
                s"NDV $ndvL/$ndvR over $rowsL/$rowsR rows (mean groups " +
                s"${rowsL / ndvL} x ${rowsR / ndvR}; pair space grows " +
                "quadratically with scale): " + j.simpleString(120))
        }
      case _ =>
    }
    findings.result()
  }

  /** CROSS-SCALE confirmation for [[auditQuadraticSelfJoin]] — the CI
    * protocol. A single-SF probe cannot tell a genuinely domain-bounded
    * key from a small test slice: events.user_id has 15 users at
    * sf0.001 and 1500 at sf0.1 (constant mean group 66 — a LINEAR
    * join), while part.p_brand has 25 brands at every scale (the
    * quadratic tell). So a fire only becomes a finding when it
    * reproduces at EVERY listed scale factor: NDV that grows with the
    * data clears the cap at the larger dir and the candidate clears
    * itself; NDV that stays put keeps firing. Allowlisted names skip
    * even the plan build (an ANN query's first build at a new dir may
    * train its codebook). Returns the LARGEST dir's findings. */
  def auditQuadraticConfirmed(
      fn: (SparkSession, String) => DataFrame, name: String,
      spark: SparkSession, dirs: Seq[String],
      minRows: Long = 100L, ndvCap: Long = 256L,
      growthFactor: Long = 4L,
      allow: Set[String] = QuadraticAllowlist): Seq[Finding] = {
    if (allow.contains(name)) return Nil
    var last: Seq[Finding] = Nil
    val all = dirs.forall { d =>
      last = auditQuadraticSelfJoin(fn(spark, d), name, minRows,
        ndvCap, growthFactor, allow = Set.empty)
      last.nonEmpty
    }
    if (all && dirs.nonEmpty) last else Nil
  }

  /** Does this join's output actually grow with the per-group pair
    * product? Semi / anti / existence joins emit AT MOST one row per
    * left row however many matches the right side holds — a self-semi-
    * join on a low-NDV key is a linear membership probe, not a pair
    * generator — so only inner/cross/outer joins are candidates. */
  private def pairProducing(j: Join): Boolean = j.joinType match {
    case org.apache.spark.sql.catalyst.plans.LeftSemi => false
    case org.apache.spark.sql.catalyst.plans.LeftAnti => false
    case _: org.apache.spark.sql.catalyst.plans.ExistenceJoin => false
    case _ => true
  }

  /** Conjunction split of a join condition. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** The (leftKey, rightKey) attribute pairs of a join's equality
    * conjuncts — the keys that decide the group grain. Non-equi
    * conjuncts (the `k1 < k2` half of a pair generator) don't shrink
    * the group-quadratic space (they halve it) and are ignored. */
  private def equiKeyPairs(j: Join)
      : Seq[(AttributeReference, AttributeReference)] =
    conjuncts(j.condition.get).collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if j.left.outputSet.contains(a)
            && j.right.outputSet.contains(b) => (a, b)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if j.left.outputSet.contains(b)
            && j.right.outputSet.contains(a) => (b, a)
    }

  /** Canonical identities of the leaf relations under `p`: file-source
    * scans by root path, checkpointed/RDD leaves by RDD id, cached
    * relations by cache-builder identity, V2 scans by table name. The
    * same id appearing under BOTH sides of a join is the self-join
    * tell; leaves this list doesn't recognize simply never match
    * (conservative — a miss is a skipped measurement, never a false
    * fire). */
  private def leafIds(p: LogicalPlan): Set[String] = p.collect {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        "fs:" + fs.location.rootPaths.mkString(",")
      case other =>
        "rel:" + other.getClass.getName + "@" +
          System.identityHashCode(other)
    }
    case r: LogicalRDD => "rdd:" + r.rdd.id
    case m: InMemoryRelation =>
      "cache:" + System.identityHashCode(m.cacheBuilder)
    case v: DataSourceV2ScanRelation => "v2:" + v.relation.table.name()
    case v: DataSourceV2Relation => "v2:" + v.table.name()
  }.toSet

  /** (rows, exact NDV of the combined key struct) of one join side —
    * the measurement behind [[auditQuadraticSelfJoin]], on the exact
    * subtree the join consumes (PlanBridge wraps the child plan;
    * ColumnBridge addresses the key attributes by exprId so duplicate
    * column names after self-join aliasing cannot mis-bind). */
  private def measureKeyNdv(spark: SparkSession, side: LogicalPlan,
      keys: Seq[AttributeReference]): (Long, Long) = {
    import org.apache.spark.sql.functions.{count, count_distinct, lit, struct}
    import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}
    val row = PlanBridge.dataFrame(spark, side)
      .agg(count(lit(1)).as("n"),
        count_distinct(struct(keys.map(ColumnBridge.column): _*))
          .as("ndv"))
      .head()
    (row.getLong(0), row.getLong(1))
  }

  /** Is this subtree's row count bounded by construction — i.e. has every
    * row already passed through an aggregation / limit / literal relation
    * (metadata scale), with no downstream re-inflation? Conservative:
    * generators and expansions reset to unbounded; leaves other than
    * literal relations are unbounded. */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => true
    case _: GlobalLimit | _: LocalLimit => true
    case _: LocalRelation | _: OneRowRelation => true
    case _: Generate | _: Expand => false
    case j: Join => bounded(j.left) && bounded(j.right)
    case _ => p.children.nonEmpty && p.children.forall(bounded)
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("q01_pricing_summary", "q02_predicate_dsl",
                         "q04_multi_join", "q27_dedup_jaccard",
                         "q33_cosine_topk", "q53_simhash_pigeonhole",
                         "q55_ivf_batch_probe", "q59_asof_join",
                         "q60_range_join", "q65_dedup_clusters",
                         "q67_dedup_canonical", "q68_interval_join",
                         "q69_zorder", "q70_token_vocab",
                         "q71_quantile_stats")
    val spark = graft.GraftSession()
    names.foreach { n =>
      println(s"\n===== $n =====")
      val df = graft.SparkEntry.queries(n)(spark, dir)
      audit(df, n).foreach(f => println(s"!! $f"))
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
