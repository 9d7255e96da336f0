package graft.operators

import graft.Cut.CutOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.collection.mutable

/** Distributed graph analytics over edge relations.
  *
  * North-star extension (the reference computes no graph measures; its
  * closest analogue is the dedup candidate graph this engine already
  * builds). Companions to the existing graph surface — triangle counts
  * (q141), clustering coefficients (q199), connected components
  * ([[Dedup.connectedComponents]], `streaming/StreamingCc`) — this adds
  * the canonical iterative message-passing computation: PageRank, plain
  * and personalized.
  *
  * Scale shape: each iteration is ONE shuffle join (edges ⋈ ranks on the
  * source node) plus ONE keyed aggregate (contributions by destination).
  * The edge relation is the large side and never moves between
  * iterations once co-partitioned; ranks are node-scale (orders of
  * magnitude smaller than edges). Lineage is cut per iteration with an
  * EAGER `localCheckpoint` and the superseded snapshot's storage is
  * released the moment its successor materialises, so the loop holds at
  * most two rank-sized relations regardless of the iteration count —
  * without the cut the plan doubles every round; without the release a
  * K-iteration run retains K node-scale snapshots.
  *
  * Determinism: ranks are e6 fixed-point BIGINTs. A node's contribution
  * is `rank div outdeg` (integer truncation — order-free), and the
  * damping update is `base + d·Σ` computed as
  * `base_e6 + (85 · Σ) div 100`. Integer sums commute, so the result is
  * bit-identical under any partitioning, task order, or engine — which
  * is what lets a DuckDB oracle hash-match a distributed 5-iteration
  * PageRank exactly.
  */
object Graph {

  /** Canonical distinct co-occurrence pairs `(a < b)` of items sharing
    * a group key. The pair fan-out is bounded by the per-group item
    * count (per-order lineitem counts are single-digit), so the
    * self-join is a key-equi join whose output stays linear in the
    * fact — never an all-pairs product. The relation is materialised
    * once, EAGERLY: every consumer — both union orientations in
    * [[coOccurrenceEdges]], the degree and intra-community aggregates
    * in the modularity query — reads the same blocks instead of
    * re-running the group self-join, and because the checkpoint is
    * already materialised when this returns, concurrent first
    * consumers (parallel tasks in one stage, or a listener thread)
    * can never race on first materialisation and redundantly
    * recompute partitions. */
  def canonicalPairs(df: DataFrame, groupCol: String,
      itemCol: String): DataFrame = {
    val g = df.select(col(groupCol).as("g"), col(itemCol).as("item"))
    g.toDF("g", "a")
      .join(g.toDF("g", "b"), "g")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
      .cut(true)
  }

  /** [[canonicalPairs]] carrying the co-occurrence count as the edge
    * weight `(a, b, w)`: `w` is the number of DISTINCT groups in which
    * both items appear — `(group, item)` is deduplicated BEFORE the
    * self-join, so an item listed k times inside one group (a part
    * repeated across a TPC-H order's line items) still contributes
    * exactly 1 to each of its pairs' weights, and the all-weights-1
    * case degenerates to [[canonicalPairs]] exactly (spec-pinned; raw
    * join-row counting would instead multiply by the duplication).
    * This is the input shape for [[weightedLabelPropagation]] directly,
    * and for [[weightedPageRank]] AFTER symmetrisation
    * ([[weightedCoOccurrenceEdges]] does both). Same key-equi
    * self-join, one keyed aggregate instead of distinct, one EAGER
    * materialisation (the [[canonicalPairs]] no-first-consumer-race
    * contract) shared by both symmetrisation orientations. */
  def weightedCanonicalPairs(df: DataFrame, groupCol: String,
      itemCol: String): DataFrame = {
    val g = df.select(col(groupCol).as("g"), col(itemCol).as("item"))
      .distinct()
    g.toDF("g", "a")
      .join(g.toDF("g", "b"), "g")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w"))
      .cut(true)
  }

  /** Canonical pairs `(a, b)` symmetrised to both orientations `(src,
    * dst)`, so every node has out-degree ≥ 1 and PageRank needs no
    * dangling-mass term. Takes the PAIR relation, not the fact — so a
    * pairs artifact built once per data dir feeds every directional
    * consumer without re-running the group self-join. */
  def symmetrize(pairs: DataFrame): DataFrame =
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))

  /** [[symmetrize]] carrying the weight column through. */
  def symmetrizeWeighted(pairs: DataFrame): DataFrame =
    pairs.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(pairs.select(col("b").as("src"),
        col("a").as("dst"), col("w")))

  /** Undirected co-occurrence edges: [[canonicalPairs]] symmetrised. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String,
      itemCol: String): DataFrame =
    symmetrize(canonicalPairs(df, groupCol, itemCol))

  /** [[coOccurrenceEdges]] with the co-occurrence count riding as the
    * edge weight `(src, dst, w)` — the direct input shape for
    * [[weightedPageRank]]. */
  def weightedCoOccurrenceEdges(df: DataFrame, groupCol: String,
      itemCol: String): DataFrame =
    symmetrizeWeighted(weightedCanonicalPairs(df, groupCol, itemCol))

  /** Fixed-iteration deterministic PageRank over a directed edge
    * relation `(src, dst)`. Returns `(node, rank_e6)`.
    *
    * Every node present as a source participates (on the symmetrised
    * relations from [[coOccurrenceEdges]] that is every node). Ranks
    * start at 1.0 (e6 = 1,000,000); `dampingPct` is the integer damping
    * percentage (85 = the classic 0.85).
    */
  def pageRank(edges: DataFrame, iterations: Int,
      dampingPct: Int = 85): DataFrame =
    pageRankFrom(edges, None, iterations, dampingPct)

  /** [[pageRank]] warm-started from a previous rank relation
    * `(node, rank_e6)`. Power iteration composes: K₂ steps from the
    * ranks after K₁ cold steps equal K₁+K₂ cold steps (the streaming
    * refresh's contract, spec-pinned). Nodes absent from `init` (new
    * arrivals) start at the cold 1.0; `init` nodes absent from the
    * current edge set are dropped (ranks are defined over the graph's
    * nodes). */
  def pageRankFrom(edges: DataFrame, init: Option[DataFrame],
      iterations: Int, dampingPct: Int = 85): DataFrame = {
    val (edgesWithDeg, deg) = degreeJoin(edges)
    // supporting checkpoints release in `finally`: on success the eager
    // loop has already materialised `result` (so this is their last
    // read, exactly the old success-path ordering), and on a mid-loop
    // failure the same blocks must not stay pinned for the session — a
    // long-lived refresher retrying a failing refresh would otherwise
    // leak node-scale RDDs per attempt
    try pageRankOnDegreed(edgesWithDeg, deg, init, iterations,
      dampingPct, ownDeg = true)
    finally release(edgesWithDeg)
  }

  /** [[pageRankFrom]] over a PRE-DEGREED edge relation — the r18 shape
    * for callers holding the `(edges ⋈ outdeg, deg)` pair as a shared
    * artifact (the GraphQueries symDegCache): the edge-scale degree
    * join, previously re-run (and re-checkpointed) on EVERY PageRank
    * call, runs once per (session, dir). `ownDeg = false` leaves both
    * inputs alive for the cache; `true` keeps the old single-call
    * lifetime (deg released the moment the node list materialises). */
  private[graft] def pageRankOnDegreed(edgesWithDeg: DataFrame,
      deg: DataFrame, init: Option[DataFrame], iterations: Int,
      dampingPct: Int, ownDeg: Boolean,
      knownCounts: Option[(Long, Long)] = None): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val base = (100 - dampingPct).toLong * 10000L
    // artifact-owned deg (ownDeg = false) outlives this call, so the
    // node list can stay a LAZY projection over its checkpoint — no
    // per-call cut job; the single-call path must still cut before it
    // releases deg (the projection would otherwise read freed blocks)
    val nodes =
      if (!ownDeg) deg.select(col("src").as("node"), lit(base).as("base_e6"))
      else
        try deg.select(col("src").as("node"), lit(base).as("base_e6"))
          .cut(true)
        finally release(deg) // node list materialised (or failed)
    try {
      val start = init match {
        case Some(prev) =>
          nodes.join(prev.select(col("node"),
              col("rank_e6").as("prev_e6")), Seq("node"), "left_outer")
            .select(col("node"),
              coalesce(col("prev_e6"), lit(1000000L)).as("rank_e6"))
            .cut(false)
        case None =>
          nodes.select(col("node"), lit(1000000L).as("rank_e6"))
      }
      try iterate(edgesWithDeg, nodes, start, iterations, dampingPct)
      finally { if (init.isDefined) release(start) }
    } finally release(nodes)
  }

  /** The degreed-edge artifact a DirCache holds for the PageRank
    * family: both materialisations PLUS their row counts, measured once
    * at build — the per-call broadcast-gate probe
    * (`edgesWithDeg.count(); nodes.count()`) was two jobs on every
    * q251/q256 invocation for numbers that cannot change while the
    * artifact lives. Caller releases both frames. */
  final case class DegreedGraph(edgesWithDeg: DataFrame, deg: DataFrame,
      edgeRows: Long, nodeRows: Long)

  private[graft] def degreedGraph(edges: DataFrame): DegreedGraph = {
    val (e, d) = degreeJoin(edges)
    try DegreedGraph(e, d, e.count(), d.count())
    catch { case t: Throwable => release(e); release(d); throw t }
  }

  /** Weighted PageRank over `(src, dst, w)` with integer weights
    * `w ≥ 1`: a node splits its rank across out-edges PROPORTIONALLY to
    * weight — `contrib = (rank · w) div W_src` with `W_src = Σw` — the
    * realistic variant when edges carry co-occurrence counts instead of
    * mere existence (a part pair bought together 50 times should pull
    * 50× the rank of a one-off). Same determinism contract as
    * [[pageRank]]: the per-edge product lifts to DECIMAL(38,0) before
    * the truncating division (`rank_e6 · w` overflows BIGINT on heavy
    * edges), the per-edge quotient is ≤ rank_e6 so the summed
    * contributions stay in BIGINT, and integer sums commute — so the
    * result is bit-identical under any partitioning and the DuckDB
    * oracle unrolls with HUGEINT `//`. With all weights 1 this equals
    * plain [[pageRank]] exactly (spec-pinned). */
  def weightedPageRank(edges: DataFrame, iterations: Int,
      dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val g = weightedDegreedGraph(edges)
    try weightedPageRankOnDegreed(g, iterations, dampingPct)
    finally { release(g.edgesW); release(g.wdeg) }
  }

  /** [[DegreedGraph]]'s weighted twin: `edges ⋈ Σw(src)` plus the
    * node-scale weighted out-degree relation, their row counts, and the
    * max edge weight — everything [[weightedPageRankOnDegreed]] needs
    * to run ZERO probe jobs per call. Counts and maxW are static
    * properties of the graph, measured once at build (one combined
    * aggregate over the already-materialised edge checkpoint). Caller
    * releases both frames. */
  final case class WeightedDegreedGraph(edgesW: DataFrame,
      wdeg: DataFrame, edgeRows: Long, nodeRows: Long, maxW: Long)

  private[graft] def weightedDegreedGraph(
      edges: DataFrame): WeightedDegreedGraph = {
    // checkpoint the node-scale weighted degrees ONCE: both the degreed
    // edge relation and the node list derive from it, so the edge
    // relation is scanned once, not once per derivation
    val wdeg = edges.groupBy(col("src")).agg(sum(col("w")).as("wout"))
      .cut(true)
    try {
      val e = edges.join(wdeg, "src").cut(true)
      try {
        val st = e.agg(count(lit(1)), max(col("w"))).head
        WeightedDegreedGraph(e, wdeg, st.getLong(0), wdeg.count(),
          (if (st.isNullAt(1)) 1L else st.getLong(1)) max 1L)
      } catch { case t: Throwable => release(e); throw t }
    } catch { case t: Throwable => release(wdeg); throw t }
  }

  /** [[weightedPageRank]] over a PRE-BUILT [[WeightedDegreedGraph]] —
    * the [[pageRankOnDegreed]] shape for callers holding the artifact
    * (GraphQueries wSymDegCache): the edge-scale degree join and every
    * probe job (maxW, node count, broadcast gate) run once per
    * (session, dir) instead of per call. Both frames stay alive for
    * the artifact's owner. */
  private[graft] def weightedPageRankOnDegreed(g: WeightedDegreedGraph,
      iterations: Int, dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val base = (100 - dampingPct).toLong * 10000L
    // artifact-owned wdeg outlives the call: the node list stays a
    // LAZY projection over its checkpoint — no per-call cut job
    val nodes = g.wdeg.select(col("src").as("node"),
      lit(base).as("base_e6"))
    val start = nodes.select(col("node"), lit(1000000L).as("rank_e6"))
    // ADAPTIVE NUMERIC WIDTH (measured guard, not a guess): the
    // decimal lift exists because rank_e6 · w can overflow BIGINT on
    // heavy edges — but Spark's DECIMAL(38,0) arithmetic drops to
    // per-row BigDecimal allocation, and at 10⁸ edges × iterations
    // that allocation storm dominates the loop (measured at the x32
    // scale probe: the decimal path was ~2× the whole-loop cost).
    // For non-negative integers, BIGINT mult/div-trunc equals
    // DECIMAL(38,0) mult/div-trunc EXACTLY whenever the product fits.
    // RANK-MASS LEMMA (replaces the per-round max-rank probe with one
    // static check): with the cold start rank_0 = 1e6 per node and
    // per-node base (100-d)·1e4, the total mass obeys
    // S_{k+1} ≤ base_total + (d/100)·S_k (truncating division only
    // loses mass), whose fixed point is exactly S_0 = 1e6·n for EVERY
    // damping — so S_k ≤ 1e6·n at every round, and any single rank is
    // ≤ its round's total. Every per-edge product rank·w therefore
    // fits BIGINT whenever 1e6·n·maxW ≤ Long.MaxValue, checked once
    // in BigInt (no overflow in the check itself). When it holds, the
    // loop runs the allocation-free long path with a CONSTANT
    // contribution and ZERO per-round probe jobs (measured: q272
    // 3.0 → 2.7 s at sf0.1 from dropping the 5 max(rank) probes).
    // The spec-pinned long≡decimal bit-equality is unchanged; above
    // the bound, the per-round adaptive probe stays.
    val longSafeAllRounds =
      BigInt(1000000L) * BigInt(g.nodeRows) * BigInt(g.maxW) <=
        BigInt(Long.MaxValue)
    if (longSafeAllRounds)
      iterate(g.edgesW, nodes, start, iterations, dampingPct,
        expr("rank_e6 * w div wout"),
        knownCounts = Some((g.edgeRows, g.nodeRows)))
    else {
      val contributionFor: DataFrame => Column = { ranks =>
        val maxRank = ranks.agg(max(col("rank_e6"))).head.getLong(0)
        if (maxRank >= 0L && maxRank <= Long.MaxValue / g.maxW)
          expr("rank_e6 * w div wout")
        else
          expr("""CAST(CAST(rank_e6 AS DECIMAL(38,0)) * w div wout
                  AS BIGINT)""")
      }
      iterateAdaptive(g.edgesW, nodes, start, iterations, dampingPct,
        contributionFor, knownCounts = Some((g.edgeRows, g.nodeRows)))
    }
  }

  /** Personalized PageRank: random-walk-with-restart relevance from a
    * SEED set — the base mass lands only on seeds, so rank measures
    * proximity to the seeds through the graph (the standard
    * related-items / trusted-seed-expansion primitive). Same loop,
    * same determinism; seeds is a single-column `(node)` relation,
    * expected node-scale (it joins the node list once, outside the
    * loop). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int, dampingPct: Int = 85): DataFrame = {
    val (edgesWithDeg, deg) = degreeJoin(edges)
    try personalizedPageRankOnDegreed(edgesWithDeg, deg, seeds,
      iterations, dampingPct, ownDeg = true)
    finally release(edgesWithDeg)
  }

  /** [[personalizedPageRank]] over a PRE-DEGREED edge relation (the
    * [[pageRankOnDegreed]] contract: `ownDeg = false` leaves the shared
    * artifact pair alive for its cache). */
  private[graft] def personalizedPageRankOnDegreed(
      edgesWithDeg: DataFrame, deg: DataFrame, seeds: DataFrame,
      iterations: Int, dampingPct: Int, ownDeg: Boolean,
      knownCounts: Option[(Long, Long)] = None): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val base = (100 - dampingPct).toLong * 10000L
    // nodes and start are projections over the ONE `flagged` checkpoint;
    // finally-release keeps the success ordering (the eager loop
    // materialises `result` first) and stops failure paths pinning
    // flagged / the degreed edges
    val flagged =
      try deg.select(col("src").as("node"))
        .join(seeds.select(col("node"), lit(true).as("is_seed")),
          Seq("node"), "left_outer")
        .select(col("node"),
          coalesce(col("is_seed"), lit(false)).as("is_seed"))
        .cut(true)
      finally { if (ownDeg) release(deg) } // flagged materialised (or failed)
    try {
      val nodes = flagged.select(col("node"),
        when(col("is_seed"), lit(base)).otherwise(lit(0L))
          .as("base_e6"))
      val start = flagged.select(col("node"),
        when(col("is_seed"), lit(1000000L)).otherwise(lit(0L))
          .as("rank_e6"))
      iterate(edgesWithDeg, nodes, start, iterations, dampingPct,
        knownCounts = knownCounts)
    } finally release(flagged)
  }

  /** Fixed-round multi-source BFS over a directed edge relation
    * `(src, dst)` from a `(node)` seed set: returns `(node, hops)` with
    * the MINIMUM hop count ≤ `maxHops` for every reached node — the
    * graph-proximity measure that answers "how far is everything from
    * this seed set" where [[personalizedPageRank]] answers "how
    * strongly connected". Min is a semilattice, so the result is
    * bit-identical under any partitioning and the oracle unrolls as
    * one UNION+MIN round per hop. Unreached nodes are absent, not
    * NULL. Each round joins edges against only the LAST round's
    * FRONTIER (a node's first reach is its min, so interior nodes can
    * never improve a neighbour — classic BFS), then min-aggregates the
    * node-scale reached relation; on a dense graph where most nodes are
    * reached early this keeps late rounds frontier-proportional instead
    * of re-shuffling the whole incident edge set. Same checkpoint
    * lifetime rule as [[iterate]]. */
  def hopDistance(edges: DataFrame, seeds: DataFrame,
      maxHops: Int, knownCounts: Option[(Long, Long)] = None): DataFrame = {
    require(maxHops >= 1)
    val e = edges.select(col("src"), col("dst"))
    var dist = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("hops"))
      .cut(true)
    // One measured gate before the loop (the [[iterate]] discipline):
    // the frontier is node-scale bounded (reached ⊆ nodes ⊆ 2·edges'
    // endpoints), so when the graph's node count clears the broadcast
    // limit every round's edges ⋈ frontier join runs as a broadcast
    // map-join — no per-round shuffle of the edge relation. The
    // checkpointed frontier has no stats, so the planner cannot make
    // this call alone (guide §3.1); shuffle fallback above the limit.
    // Callers holding a measured artifact (symDegCache) pass the
    // counts in and skip both probe jobs.
    val smallFrontier = knownCounts match {
      case Some((er, nr)) => broadcastRanks(er, nr)
      case None => broadcastRanks(e.count(),
        e.select(col("src")).distinct().count())
    }
    var superseded: Option[DataFrame] = Some(dist)
    try {
      for (round <- 1 to maxHops) {
        val frontier = dist.filter(col("hops") === (round - 1).toLong)
          .select(col("node").as("src"), col("hops"))
        val next = dist
          .unionByName(e
            .join(if (smallFrontier) broadcast(frontier) else frontier,
              "src")
            .select(col("dst").as("node"), (col("hops") + 1L).as("hops")))
          .groupBy(col("node")).agg(min(col("hops")).as("hops"))
          .cut(true)
        superseded.foreach(release)
        superseded = Some(next)
        dist = next
      }
      dist
    } catch {
      // a mid-loop failure must not pin the live snapshot for the
      // session (the Expectations.evaluate discipline)
      case t: Throwable => superseded.foreach(release); throw t
    }
  }

  /** ALL-PAIRS hop distance — [[hopDistance]] with a source dimension:
    * min-agg BFS from EVERY node at once, for closeness-style
    * centralities over DOMAIN-BOUNDED graphs (the 25-node brand
    * co-purchase graph; n² pairs of a bounded node set, never a
    * row-scale graph — an all-pairs walk on part grain would be the
    * exact quadratic blow-up the plan audit exists to reject). Same
    * fixed-round contract and checkpoint/release discipline as
    * [[hopDistance]]; min is a semilattice, so the result is
    * partitioning-invariant. Unreached (src, node) pairs are absent,
    * never NULL. */
  def allPairsHopDistance(edges: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1)
    val e = edges.select(col("src"), col("dst"))
    var dist = e.select(col("src").as("s"))
      .unionByName(e.select(col("dst").as("s")))
      .distinct()
      .select(col("s").as("src"), col("s").as("node"),
        lit(0L).as("hops"))
      .cut(true)
    var superseded: Option[DataFrame] = Some(dist)
    try {
      for (round <- 1 to maxHops) {
        val frontier = dist.filter(col("hops") === (round - 1).toLong)
          .select(col("src").as("s0"), col("node").as("mid"),
            col("hops"))
        val next = dist
          .unionByName(frontier
            .join(e.select(col("src").as("mid"), col("dst")), "mid")
            .select(col("s0").as("src"), col("dst").as("node"),
              (col("hops") + 1L).as("hops")))
          .groupBy(col("src"), col("node"))
          .agg(min(col("hops")).as("hops"))
          .cut(true)
        superseded.foreach(release)
        superseded = Some(next)
        dist = next
      }
      dist
    } catch {
      case t: Throwable => superseded.foreach(release); throw t
    }
  }

  /** Node count below which [[allPairsHopDistanceBounded]] fuses the
    * BFS into ONE driver-side pass instead of `maxHops` distributed
    * rounds. The gate bounds the collected working set (≤ n nodes and
    * ≤ n² distinct edges — 512 nodes is ≤ ~262k edge rows, trivially
    * driver-resident) and, transitively, the n² output. Above the
    * gate the call falls back to the round-per-job [[allPairsHopDistance]]
    * loop, which is the only scale-safe shape once the node set is no
    * longer provably tiny. */
  val FusedBfsNodeLimit: Long = 512L

  /** [[allPairsHopDistance]] for PROVABLY TINY node sets, fused into a
    * single job. The distributed loop pays `maxHops` job launches of
    * fixed scheduler overhead (join + agg + eager checkpoint per
    * round) — the right price on a row-scale graph, pure waste on the
    * ≤25-node brand grain where every round's data fits in one cache
    * line. This variant measures the node count first (one tiny
    * aggregate job) and, when it clears [[FusedBfsNodeLimit]],
    * collects the DISTINCT edge list — a BOUNDED collect in the
    * audited-call-site sense: the gate proves ≤ n² ≤ 262k rows before
    * any row moves — and runs the all-source BFS in memory, returning
    * the identical `(src, node, hops)` relation (hops-0 diagonal
    * present, unreached pairs absent, shortest hop within `maxHops`).
    * Min-hop BFS is deterministic regardless of adjacency order, so
    * the output is bit-identical to the distributed loop's
    * (spec-pinned in GraphSpec). Above the gate: delegates to
    * [[allPairsHopDistance]] — callers never lose the scale path. */
  def allPairsHopDistanceBounded(edges: DataFrame, maxHops: Int,
      maxNodes: Long = FusedBfsNodeLimit): DataFrame = {
    require(maxHops >= 1)
    val e = edges.select(col("src"), col("dst")).distinct()
      .cut(true)
    try {
      val nNodes = e.select(col("src").as("s"))
        .unionByName(e.select(col("dst").as("s"))).distinct().count()
      if (nNodes > maxNodes) allPairsHopDistance(e, maxHops)
      else {
        // ONE collect serves both the node universe and the adjacency
        // (the gate above already proved both bounded); node order is
        // irrelevant to min-hop BFS, so no sort is needed
        val edgeRows = e.collect()
        val nodeVals: Array[Any] = edgeRows
          .flatMap(r => Iterator(r.get(0), r.get(1))).distinct
        val idx: Map[Any, Int] = nodeVals.zipWithIndex.toMap
        val n = nodeVals.length
        val adj = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
        edgeRows.foreach { r => adj(idx(r.get(0))) += idx(r.get(1)) }
        val out = new java.util.ArrayList[Row](n * n)
        var s = 0
        while (s < n) {
          val seen = new Array[Boolean](n)
          seen(s) = true
          out.add(Row(nodeVals(s), nodeVals(s), 0L))
          var frontier: List[Int] = List(s)
          var h = 0
          while (h < maxHops && frontier.nonEmpty) {
            val next = mutable.ArrayBuffer.empty[Int]
            frontier.foreach { u =>
              adj(u).foreach { v =>
                if (!seen(v)) {
                  seen(v) = true
                  next += v
                  out.add(Row(nodeVals(s), nodeVals(v), (h + 1).toLong))
                }
              }
            }
            frontier = next.toList
            h += 1
          }
          s += 1
        }
        val nodeType = e.schema("src").dataType
        e.sparkSession.createDataFrame(out, StructType(Seq(
          StructField("src", nodeType),
          StructField("node", nodeType),
          StructField("hops", LongType, nullable = false))))
      }
    } finally release(e)
  }

  /** Node count below which the rank relation is broadcast into the
    * per-iteration edge join — MEASURED, not assumed (the JoinAdvisor
    * discipline): ~24 bytes/row keeps 2M nodes ≈ 48 MB, comfortable
    * for an executor; above it the loop falls back to the shuffle
    * join, which is the only scale-safe default at 10⁹ nodes. */
  val BroadcastNodeLimit: Long = 2000000L

  /** Fixed-round k-core peeling over an undirected canonical pair
    * relation `(a, b)`: each round drops every node whose CURRENT
    * degree is below `k` (and the edges touching it), simultaneously —
    * the classic cohesion filter separating dense near-duplicate /
    * co-purchase cores from stringy periphery. A bounded `rounds`
    * count keeps the computation deterministic AND oracle-unrollable;
    * peeling converges geometrically in practice, and the fixed-round
    * result is a documented superset of the true k-core (identical
    * once a round removes nothing). Each round is two keyed
    * aggregates + one semi-join per side over the surviving pair
    * relation, lineage cut per round. Returns the surviving
    * `(node, degree)`. */
  def kCore(pairs: DataFrame, k: Int, rounds: Int): DataFrame =
    kCoreDegrees(kCorePeel(pairs, k, rounds))

  /** [[kCore]] materialised as a NODE-SCALE ARTIFACT: the surviving
    * `(node, degree)` relation eagerly checkpointed, with the peel's
    * final surviving-EDGE snapshot released the moment the artifact
    * exists. Plain [[kCore]] returns a lazy aggregate whose final edge
    * snapshot must stay resident until the caller's action — the right
    * contract for a one-shot query, the wrong one for a shared cache
    * (the retained relation would be edge-scale, and every re-run would
    * re-peel). This is the build function for the core-decomposition
    * cache in [[graft.queries.GraphQueries]]. Caller owns (and
    * eventually releases) the returned node-scale artifact. */
  def kCoreArtifact(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    val cur = kCorePeel(pairs, k, rounds)
    try kCoreDegrees(cur).cut(true)
    finally release(cur)
  }

  private def kCoreDegrees(survivors: DataFrame): DataFrame =
    survivors.select(col("a").as("node"))
      .unionByName(survivors.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))

  /** Per-edge TRIANGLE SUPPORT over a canonical pair relation:
    * `(a, b, support)` with support = |adj(a) ∩ adj(b)|, zero-support
    * edges kept. The DEGREE-ORDERED closed-wedge enumeration (each
    * triangle appears as exactly one wedge at its (deg, node)-minimal
    * vertex and credits its three edges once) bounds enumerated wedges
    * by Σ C(outdeg⁺, 2) = O(E^1.5) regardless of hub skew — never the
    * raw Σ C(deg, 2) space. Returns an EAGER CHECKPOINT the caller
    * must [[release]]; the input relation is read three times through
    * an internal cut that is released before returning. */
  def triangleSupport(pairs: DataFrame): DataFrame = {
    val deg = symmetrize(pairs)
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val ends = pairs
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val smaller = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = ends.select(
      when(smaller, col("a")).otherwise(col("b")).as("src"),
      when(smaller, col("b")).otherwise(col("a")).as("dst"))
      .cut(true)
    try {
      val closed = oriented.select(col("src"), col("dst").as("v"))
        .join(oriented.select(col("src"), col("dst").as("w")), "src")
        .filter(col("v") < col("w"))
        .join(oriented
            .select(col("src").as("v"), col("dst").as("w"))
            .unionByName(oriented.select(col("src").as("w"),
              col("dst").as("v"))),
          Seq("v", "w"), "left_semi")
      val credits = closed
        .select(least(col("src"), col("v")).as("a"),
          greatest(col("src"), col("v")).as("b"))
        .unionByName(closed
          .select(least(col("src"), col("w")).as("a"),
            greatest(col("src"), col("w")).as("b")))
        .unionByName(closed.select(col("v").as("a"), col("w").as("b")))
      val support = credits.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("support"))
      pairs
        .join(support, Seq("a", "b"), "left_outer")
        .na.fill(0L, Seq("support"))
        .cut(true)
    } finally release(oriented)
  }

  /** Fixed-round K-TRUSS peel trajectory: each round recomputes
    * triangle support over the surviving edges and drops every edge
    * with support < k − 2 (Cohen 2008); the output is the bounded
    * per-round `(round, n_edges_in, n_dropped, n_survivors)` record —
    * the number the histogram view (q303) can only estimate from the
    * INITIAL supports, because dropping an edge erodes its neighbors'
    * triangles. Rounds are FIXED (not to-convergence) for oracle
    * parity, the k-core contract. Per-round cost is one
    * [[triangleSupport]] enumeration over a shrinking edge set; at the
    * peak of a round THREE edge-scale checkpoints coexist (current
    * survivors, their support relation, next survivors — support can
    * only release after next cuts, since next derives from it); the
    * input relation is never released (it belongs to the caller). The
    * trajectory itself
    * is a driver-side LocalRelation of `rounds` rows — bounded by
    * construction. */
  def trussPeelTrajectory(pairs: DataFrame, k: Long,
      rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1)
    var cur = pairs.select(col("a"), col("b"))
    var owned: Option[DataFrame] = None
    val rows = new java.util.ArrayList[Row]()
    try {
      for (r <- 1 to rounds) {
        val supp = triangleSupport(cur)
        val next =
          try supp.filter(col("support") >= k - 2)
            .select(col("a"), col("b"))
            .cut(true)
          finally release(supp)
        val nIn = cur.count()
        val nKept = next.count()
        rows.add(Row(r.toLong, nIn, nIn - nKept, nKept))
        owned.foreach(release)
        owned = Some(next)
        cur = next
      }
    } finally owned.foreach(release)
    // a bare LocalRelation leaf (no renaming Project): an eager artifact
    pairs.sparkSession.createDataFrame(rows, StructType(
      Seq("round", "n_edges_in", "n_dropped", "n_survivors")
        .map(StructField(_, LongType, nullable = false))))
  }

  /** The shared peel loop: returns the FINAL surviving-edge snapshot
    * (an eager checkpoint this object created — [[kCore]] leaves it
    * resident for the caller's action, [[kCoreArtifact]] releases it
    * after cutting the node-scale summary). */
  private def kCorePeel(pairs: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    // no checkpoint on entry: [[canonicalPairs]] hands over an
    // already-materialised relation, and a second cut here would hold
    // a duplicate copy of the full edge set for all rounds; a caller
    // passing a raw relation should cut it first (round one reads it
    // three times)
    var cur = pairs.select(col("a"), col("b"))
    // same checkpoint-lifetime rule as [[iterate]]: eager per-round cut,
    // and the moment round N's survivors exist, round N−1's snapshot is
    // released — the peel holds at most two surviving-edge relations,
    // not one per round. The INPUT relation is never released (it
    // belongs to the caller, often a [[canonicalPairs]] checkpoint other
    // consumers still read).
    var superseded: Option[DataFrame] = None
    try {
      for (_ <- 1 to rounds) {
        val deg = cur.select(col("a").as("node"))
          .unionByName(cur.select(col("b").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        val keep = deg.filter(col("deg") >= k).select(col("node"))
        val next = cur
          .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
          .cut(true)
        superseded.foreach(release)
        superseded = Some(next)
        cur = next
      }
    } catch {
      case t: Throwable => superseded.foreach(release); throw t
    }
    cur
  }

  /** Fixed-round synchronous label propagation over an undirected
    * canonical pair relation `(a, b)` — COMMUNITY ASSIGNMENT, the
    * companion to the modularity scorer (q255 scores a GIVEN partition;
    * this finds one). `label₀(v) = v`; each round, every node
    * simultaneously adopts the most frequent label among its
    * neighbours, ties broken by the SMALLEST label. States are pure
    * integers and the update is synchronous, so the result is
    * bit-identical under any partitioning AND expressible as unrolled
    * SQL (the PageRank/k-core oracle discipline — no e6 arithmetic even
    * needed). A fixed `rounds` keeps it deterministic; LPA's label
    * count collapses geometrically, so a handful of rounds carries the
    * community structure.
    *
    * Scale shape: each round is ONE edge ⋈ labels join plus two keyed
    * aggregates ((dst, label) frequency, then per-dst argmax via a
    * struct max — both partial-aggregatable, so the shuffles are
    * key-scale after map-side combine). Labels are node-scale; the
    * edge relation never moves once checkpointed. Same checkpoint
    * lifetime rule as [[iterate]]. Returns `(node, label)`. */
  def labelPropagation(pairs: DataFrame, rounds: Int): DataFrame =
    lpaLoop(pairs
      .select(col("a").as("src"), col("b").as("dst"), lit(1L).as("w"))
      .unionByName(pairs.select(col("b").as("src"),
        col("a").as("dst"), lit(1L).as("w"))), rounds)

  /** [[labelPropagation]] SEEDED from a previous assignment — the
    * warm-start a continuously-maintained clustering needs at scale:
    * `label₀(v) = prev(v)` where the node was previously labelled, `v`
    * (the cold identity) where it is new. On a CONVERGED previous
    * assignment (a true fixed point — every node already holds its
    * neighbourhood's majority label) the rounds change nothing, so warm
    * ≡ cold-from-that-point exactly (spec-pinned); on an incremental
    * batch only the changed neighbourhoods move while stable regions
    * keep their literal label ids — fewer label flips per refresh than
    * a cold identity restart, and the label ids stay comparable across
    * generations (what a drift log wants to measure). Same determinism
    * contract as the cold operator: the result is a pure function of
    * (pairs, seeds, rounds). */
  def seededLabelPropagation(pairs: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame =
    lpaRun(pairs
      .select(col("a").as("src"), col("b").as("dst"), lit(1L).as("w"))
      .unionByName(pairs.select(col("b").as("src"),
        col("a").as("dst"), lit(1L).as("w"))), rounds, withDiag = false,
      seedLabels = Some(seeds))._1

  /** [[labelPropagation]] over weighted canonical pairs `(a, b, w)`,
    * `w ≥ 1`: each neighbour votes with its edge weight — a pair
    * co-occurring 50 times pulls labels 50× harder than a one-off, the
    * same realism upgrade [[weightedPageRank]] makes to the rank. Same
    * determinism (integer vote sums commute; ties to the smallest
    * label) and the unweighted operator is exactly the w=1 case (one
    * shared loop). */
  def weightedLabelPropagation(pairs: DataFrame,
      rounds: Int): DataFrame =
    lpaLoop(pairs
      .select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(pairs.select(col("b").as("src"),
        col("a").as("dst"), col("w"))), rounds)

  /** Convergence/oscillation diagnostic of an LPA run's FINAL rounds:
    * synchronous label propagation can 2-cycle on bipartite-ish
    * structures (two nodes endlessly swapping labels), and a
    * fixed-round result silently lands on an arbitrary phase of that
    * cycle. `nStable` counts nodes with `label(r) == label(r−1)` (the
    * fixed-point test); `nOscillating` counts `label(r) == label(r−2)
    * && label(r) != label(r−1)` — exactly the period-2 signature. */
  final case class LpaDiag(nNodes: Long, nStable: Long,
      nOscillating: Long) {
    /** every node kept its round-(r−1) label — a true fixed point. */
    def converged: Boolean = nStable == nNodes
  }

  /** [[labelPropagation]] plus the [[LpaDiag]] convergence signal —
    * costs one extra node-scale three-way join at loop exit (the last
    * three label snapshots are compared; the loop's checkpoint-lifetime
    * rule widens from two live snapshots to three only in this
    * variant). Needs `rounds >= 2`. */
  def labelPropagationWithDiag(pairs: DataFrame,
      rounds: Int): (DataFrame, LpaDiag) = {
    val (labels, diag) = lpaRun(pairs
      .select(col("a").as("src"), col("b").as("dst"), lit(1L).as("w"))
      .unionByName(pairs.select(col("b").as("src"),
        col("a").as("dst"), lit(1L).as("w"))), rounds, withDiag = true)
    (labels, diag.get)
  }

  /** [[weightedLabelPropagation]] plus the [[LpaDiag]] signal. */
  def weightedLabelPropagationWithDiag(pairs: DataFrame,
      rounds: Int): (DataFrame, LpaDiag) = {
    val (labels, diag) = lpaRun(pairs
      .select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(pairs.select(col("b").as("src"),
        col("a").as("dst"), col("w"))), rounds, withDiag = true)
    (labels, diag.get)
  }

  private def lpaLoop(symWeighted: DataFrame, rounds: Int): DataFrame =
    lpaRun(symWeighted, rounds, withDiag = false)._1

  private def lpaRun(symWeighted: DataFrame, rounds: Int,
      withDiag: Boolean,
      seedLabels: Option[DataFrame] = None): (DataFrame, Option[LpaDiag])
      = {
    require(rounds >= 1)
    require(!withDiag || rounds >= 2,
      "the oscillation diagnostic compares labels(r−2): need rounds >= 2")
    val sym = symWeighted.cut(true)
    try {
      val nodes = sym.select(col("src").as("node")).distinct()
      // warm start: previously-labelled nodes keep their label, new
      // nodes seed with the cold identity. One node-scale left join —
      // the seed relation is the caller's (never released here).
      val seed = seedLabels.fold(
          nodes.select(col("node"), col("node").as("label")))(prev =>
          nodes.join(prev.select(col("node"),
              col("label").as("prev_label")), Seq("node"), "left_outer")
            .select(col("node"),
              coalesce(col("prev_label"), col("node")).as("label")))
        .cut(true)
      var labels = seed
      // live snapshots, NEWEST FIRST. The plain loop keeps one (the
      // superseded-release rule); the diagnostic variant keeps three —
      // labels(r), labels(r−1), labels(r−2) — so the period-2 signature
      // is measurable at loop exit. Anything older releases the moment
      // it falls off the trail.
      val keep = if (withDiag) 3 else 1
      var trail: List[DataFrame] = List(seed)
      try {
        for (_ <- 1 to rounds) {
          val freq = sym
            .join(labels.select(col("node").as("src"), col("label")),
              "src")
            .groupBy(col("dst"), col("label"))
            .agg(sum(col("w")).as("cnt"))
          // argmax(cnt), tie → min(label): max over (cnt, −label)
          // structs compares field-by-field, so the largest vote sum
          // wins and among equals the largest −label — i.e. the
          // smallest label — does
          val next = freq.groupBy(col("dst"))
            .agg(max(struct(col("cnt"),
              (-col("label")).as("neg_label"))).as("m"))
            .select(col("dst").as("node"),
              (-col("m.neg_label")).as("label"))
            .cut(true)
          trail = next :: trail
          trail.drop(keep).foreach(release)
          trail = trail.take(keep)
          labels = next
        }
        val diag =
          if (!withDiag) None
          else {
            val row = trail(0).select(col("node"), col("label").as("l0"))
              .join(trail(1).select(col("node"), col("label").as("l1")),
                "node")
              .join(trail(2).select(col("node"), col("label").as("l2")),
                "node")
              .agg(count(lit(1)).as("n"),
                sum((col("l0") === col("l1")).cast("long")).as("st"),
                sum((col("l0") === col("l2") &&
                  col("l0") =!= col("l1")).cast("long")).as("osc"))
              .head()
            Some(LpaDiag(row.getLong(0),
              if (row.isNullAt(1)) 0L else row.getLong(1),
              if (row.isNullAt(2)) 0L else row.getLong(2)))
          }
        (labels, diag)
      } catch {
        // nothing is handed back on failure: the whole trail releases
        // (the final snapshot included), not just the superseded ones
        case t: Throwable => trail.headOption.foreach(release); throw t
      } finally {
        // the diag (if any) is a collected row; the older snapshots
        // have had their last read on every path
        trail.drop(1).foreach(release)
      }
    } finally release(sym)
  }

  /** Release a relation WE checkpointed once nothing can read it again.
    * A checkpointed Dataset's analyzed plan is a single [[
    * org.apache.spark.sql.execution.LogicalRDD]] leaf over the persisted
    * RDD; unpersisting that RDD frees its storage blocks. Callers must
    * pass only relations whose checkpoint THIS object created and whose
    * last consumer has materialised — releasing a projection over
    * someone else's checkpoint would free blocks still in use. */
  private[graft] def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false); ()
      case _ => ()
    }

  /** Fixed-round s-core (STRENGTH) peeling over weighted canonical
    * pairs `(a, b, w)`: each round simultaneously drops every node
    * whose current strength — the SUM of incident edge weights — is
    * below `s`, the weighted twin of [[kCore]] (a node with one
    * heavily-repeated partner can be core here while degree-peeling
    * would drop it, and ten one-off partners no longer fake cohesion).
    * With all weights 1, strength IS degree, so `sCore(pairs, k, r)`
    * equals `kCore(pairs, k, r)` exactly (spec-pinned). Same fixed
    * rounds / oracle-unrollable / checkpoint-lifetime contract as
    * [[kCore]]. Returns the surviving `(node, strength)`. */
  def sCore(pairs: DataFrame, s: Long, rounds: Int): DataFrame =
    sCoreStrengths(sCorePeel(pairs, s, rounds))

  /** [[sCore]] materialised as a NODE-SCALE ARTIFACT — the weighted
    * twin of [[kCoreArtifact]], same contract: eager `(node, strength)`
    * checkpoint, final surviving-edge snapshot released, caller owns
    * the artifact. */
  def sCoreArtifact(pairs: DataFrame, s: Long, rounds: Int): DataFrame = {
    val cur = sCorePeel(pairs, s, rounds)
    try sCoreStrengths(cur).cut(true)
    finally release(cur)
  }

  private def sCoreStrengths(survivors: DataFrame): DataFrame =
    survivors.select(col("a").as("node"), col("w"))
      .unionByName(survivors.select(col("b").as("node"), col("w")))
      .groupBy(col("node")).agg(sum(col("w")).as("strength"))

  private def sCorePeel(pairs: DataFrame, s: Long,
      rounds: Int): DataFrame = {
    require(s >= 1 && rounds >= 1)
    var cur = pairs.select(col("a"), col("b"), col("w"))
    var superseded: Option[DataFrame] = None
    try {
      for (_ <- 1 to rounds) {
        val strength = cur.select(col("a").as("node"), col("w"))
          .unionByName(cur.select(col("b").as("node"), col("w")))
          .groupBy(col("node")).agg(sum(col("w")).as("strength"))
        val keep = strength.filter(col("strength") >= s)
          .select(col("node"))
        val next = cur
          .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
          .select(col("a"), col("b"), col("w"))
          .cut(true)
        superseded.foreach(release)
        superseded = Some(next)
        cur = next
      }
    } catch {
      case t: Throwable => superseded.foreach(release); throw t
    }
    cur
  }

  /** Out-degrees riding each edge, eagerly materialised: the relation
    * is read once per iteration, and a lazy cut would let the
    * iteration jobs race on first materialisation (each recomputing
    * the degree join). */
  private def degreeJoin(edges: DataFrame): (DataFrame, DataFrame) = {
    // the node-scale degree relation is checkpointed so the degreed-edge
    // join AND the caller's node list both read one materialisation —
    // an unmaterialised deg would re-scan the edge relation for each.
    // Callers must release(deg) once their node-list checkpoint exists.
    val deg = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"))
      .cut(true)
    try (edges.join(deg, "src").cut(true), deg)
    catch { case t: Throwable => release(deg); throw t }
  }

  /** The per-iteration join-strategy decision, routed through the
    * [[graft.plan.JoinAdvisor]]'s measured-stats path so the graph loop
    * and the incremental-update merge share ONE decision discipline:
    * broadcast the node-scale rank relation only when the advisor —
    * given the measured edge and node counts and the static
    * [[BroadcastNodeLimit]] as its broadcast threshold — recommends
    * broadcasting that side. Skew shares are passed as 0: the rank side
    * is one-row-per-node by construction, and the edge side's fan-in
    * skew is exactly what AQE's skew handling covers on the shuffle
    * path. */
  private[graft] def broadcastRanks(edgeRows: Long, nodeRows: Long,
      limit: Long = BroadcastNodeLimit): Boolean =
    graft.plan.JoinAdvisor.adviseMeasured(edgeRows, nodeRows,
      broadcastRowLimit = limit).recommendation == "broadcast_right"

  /** The shared power-iteration loop: `nodes` carries each node's
    * restart mass (`base_e6` — uniform for plain PageRank, seeds-only
    * for personalized). Left join back to the node list so a node with
    * no in-edges keeps its base mass instead of dropping out.
    *
    * The per-iteration edges ⋈ ranks join is the whole cost of the
    * loop. Ranks are node-scale; ONE count (off the already-
    * materialised node list) decides whether every iteration runs as a
    * broadcast map-join (no edge shuffle, no per-iteration sort) or as
    * the shuffle join the 10⁹-node graph needs — the engine's own
    * measured-join discipline applied to its own iterative operator. */
  private def iterate(edgesWithDeg: DataFrame, nodes: DataFrame,
      start: DataFrame, iterations: Int, dampingPct: Int,
      contribution: Column = expr("rank_e6 div outdeg"),
      knownCounts: Option[(Long, Long)] = None): DataFrame =
    // Measured negative result (r17 optimization round): fusing the
    // rounds into ONE lazy plan under the broadcast gate (no per-round
    // eager checkpoint) cuts the job count 38 → 30 but runs ~15% SLOWER
    // at sf0.1 — the per-round checkpoint writes are node-scale and
    // cheap, while the fused plan deepens every round (planning +
    // DeduplicateRelations re-aliasing defeat exchange-reuse inside the
    // nested broadcast builds). The per-round checkpointed loop stays.
    iterateAdaptive(edgesWithDeg, nodes, start, iterations, dampingPct,
      _ => contribution, knownCounts)

  /** [[iterate]] with a per-iteration contribution chooser: called with
    * the CURRENT rank snapshot before each pass, so a caller can probe
    * the materialised ranks (a metadata-scale aggregate) and pick a
    * cheaper expression when a measured bound proves it exact —
    * [[weightedPageRank]]'s adaptive numeric width. */
  private def iterateAdaptive(edgesWithDeg: DataFrame, nodes: DataFrame,
      start: DataFrame, iterations: Int, dampingPct: Int,
      contributionFor: DataFrame => Column,
      knownCounts: Option[(Long, Long)] = None): DataFrame = {
    // both counts read already-materialised checkpoints (node-scale and
    // one pass over the edge blocks) — the cheap probe before a loop of
    // `iterations` full joins, the advisor's own cost discipline
    // counts come from the caller's artifact when it holds them (the
    // symDegCache measures once at build); only artifact-less callers
    // pay the two probe jobs per call
    val smallRanks = knownCounts match {
      case Some((e, n)) => broadcastRanks(e, n)
      case None => broadcastRanks(edgesWithDeg.count(), nodes.count())
    }
    var ranks = start
    // Checkpoint LIFETIME rule: the loop holds at most the LIVE rank
    // snapshot and the one it is computing from. Each iteration's cut is
    // EAGER (materialised now), so the moment snapshot N exists,
    // snapshot N−1 has had its last read and its storage is released —
    // lazy cuts would instead retain every iteration's node-scale
    // relation until the final action (at 10⁹ nodes, `iterations`
    // rank-sized resident copies). `start` is never released here: the
    // cold path's start is a PROJECTION over the `nodes` checkpoint
    // (read again every iteration), and warm/seeded starts belong to
    // the caller.
    var superseded: Option[DataFrame] = None
    try {
      for (_ <- 1 to iterations) {
        // zero-rank nodes contribute nothing (contrib = rank div outdeg
        // = 0, and absent groups coalesce to 0 downstream) — dropping
        // them is exact, a no-op for plain PageRank (every rank ≥ base
        // > 0) and a frontier prune for personalized PageRank, whose
        // early rounds carry mass on the seed neighbourhood only: the
        // broadcast/shuffled rank side shrinks to the reached set
        // (guide §2.3 shuffle fewer bytes).
        val live = ranks.filter(col("rank_e6") > 0L)
        val rankSide = if (smallRanks) broadcast(live) else live
        val contribs = edgesWithDeg
          .join(rankSide, col("src") === col("node"))
          .select(col("dst"), contributionFor(ranks).as("contrib"))
          .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
        // the damping update joins two NODE-SCALE relations; under the
        // same broadcast gate the aggregated contributions side is
        // broadcast (BuildRight is legal under LEFT OUTER), removing
        // the sort-merge's two per-iteration exchanges — the planner
        // can't see this alone because the checkpointed node list has
        // no stats (guide §3.1: hint when you know a side is small)
        val updSide = if (smallRanks) broadcast(contribs) else contribs
        val next = nodes
          .join(updSide, col("node") === col("dst"), "left_outer")
          .select(col("node"),
            (col("base_e6") +
              expr(s"$dampingPct * coalesce(s, 0L) div 100"))
              .as("rank_e6"))
          .cut(true)
        superseded.foreach(release)
        superseded = Some(next)
        ranks = next
      }
      ranks
    } catch {
      // a failed iteration must not pin the live snapshot for the
      // session — the long-lived rank refresher retries
      case t: Throwable => superseded.foreach(release); throw t
    }
  }

  /** Rand index of two partitions (clusterings) of a shared node set,
    * in exact ppm — the agreement share over node PAIRS: both
    * partitions put the pair together, or both apart. The pairwise
    * definition is n²-scale at any size; this computes it from the
    * (label_a × label_b) CONTINGENCY table instead (Rand 1971):
    *
    *   agree = C(n,2) + 2·Σij C(nij,2) − Σi C(ai,2) − Σj C(bj,2)
    *
    * so everything downstream of the two label relations is bounded by
    * communities² — the marginals ride partitioned windows over that
    * tiny relation (no 1-row cross join) and all division is integral,
    * bit-stable against a SQL oracle. Only nodes present in BOTH label
    * relations are compared (inner join); the community counts are the
    * marginals over that shared set. Returns one row:
    * `(n_nodes, n_comm_a, n_comm_b, same_same_pairs, rand_ppm)`. */
  def randIndexPpm(labelsA: DataFrame, labelsB: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cont = labelsA.select(col("node"), col("label").as("label_a"))
      .join(labelsB.select(col("node"), col("label").as("label_b")),
        "node")
      .groupBy(col("label_a"), col("label_b"))
      .agg(count(lit(1)).as("nij"))
    val wa = Window.partitionBy(col("label_a"))
    val wb = Window.partitionBy(col("label_b"))
    cont
      .withColumn("ai", sum(col("nij")).over(wa))
      .withColumn("bj", sum(col("nij")).over(wb))
      .withColumn("ra", row_number().over(wa.orderBy(col("label_b"))))
      .withColumn("rb", row_number().over(wb.orderBy(col("label_a"))))
      .agg(
        sum(col("nij")).cast("long").as("n_nodes"),
        sum(expr("nij * (nij - 1) div 2")).cast("long").as("s_nij"),
        sum(when(col("ra") === 1, expr("ai * (ai - 1) div 2"))
          .otherwise(0L)).cast("long").as("s_a"),
        sum(when(col("ra") === 1, 1L).otherwise(0L))
          .cast("long").as("n_comm_a"),
        sum(when(col("rb") === 1, expr("bj * (bj - 1) div 2"))
          .otherwise(0L)).cast("long").as("s_b"),
        sum(when(col("rb") === 1, 1L).otherwise(0L))
          .cast("long").as("n_comm_b"))
      .select(col("n_nodes"), col("n_comm_a"), col("n_comm_b"),
        col("s_nij").as("same_same_pairs"),
        // the agreement numerator lifts to DECIMAL(38,0) before the ppm
        // scale-up: agree * 1e6 exceeds Long past ~4.3M shared nodes
        // (C(n,2)·1e6 > 2⁶³), and non-ANSI Spark would wrap silently
        // where the HUGEINT oracle stays exact
        expr("""cast(n_nodes * (n_nodes - 1) div 2
                  + 2 * s_nij - s_a - s_b as decimal(38,0))
                * 1000000
                div greatest(n_nodes * (n_nodes - 1) div 2, 1)""")
          .cast("long").as("rand_ppm"))
  }
}
