package graft.queries

import graft.Cut.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{DirCache, Tables}
import graft.operators.Graph

/** Graph-analytics queries over co-occurrence structure in the star
  * schema — the iterative message-passing family (PageRank) alongside
  * the existing one-shot graph measures (q141 triangles, q199
  * clustering coefficients, connected components).
  *
  * Oracle discipline: ranks are e6 fixed-point BIGINTs with truncating
  * integer division at every step (see [[graft.operators.Graph]]), so
  * the DuckDB oracle — the same five iterations unrolled as CTEs —
  * hash-matches the distributed run exactly.
  */
object GraphQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The consumer-contract cut, AUDIT INCLUDED: the eager checkpoint
    * every cache consumer returns collapses its plan to a LogicalRDD
    * leaf, which would silently vacate the `ExplainAuditSpec` CI gate
    * for the whole graph family (r15 review) — so the cartesian/global-
    * window audit runs HERE, on the pre-cut plan, and fails the query
    * itself. The walk is plan-scale (microseconds against the Spark
    * jobs it guards) and runs where the plan is still visible. */
  private implicit final class AuditedCut(private val df: DataFrame)
      extends AnyVal {
    def auditedCut(name: String): DataFrame =
      graft.tools.ExplainAudit.auditedCut(df, name)
  }

  /** The co-purchase CANONICAL PAIRS artifact: one lineitem self-join
    * per data dir, shared by q251/q255/q256/q266/q268/q274/q275/q277 —
    * each query stays self-contained (first caller builds), but a
    * bench pass no longer re-derives the same edge relation per
    * query. */
  private val pairsCache = new DirCache[String, DataFrame]((s, dir) =>
    Graph.canonicalPairs(t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey"), Graph.release, name = "pairs")

  /** The WEIGHTED pairs artifact (q272/q273/q276). */
  private val wpairsCache = new DirCache[String, DataFrame]((s, dir) =>
    Graph.weightedCanonicalPairs(t(s, dir, "lineitem"),
      "l_orderkey", "l_partkey"), Graph.release, name = "wpairs")

  /** The DEGREED SYMMETRIC edge artifact: `symmetrize(pairs)` joined
    * with its out-degrees, plus the node-scale degree list — built once
    * per (session, dir) and shared by the PageRank family (q251 plain,
    * q256 personalized). Each previously re-ran (and re-checkpointed)
    * the edge-scale degree join per CALL and per bench rep — at sf0.1
    * that join was the dominant per-call cost of both, and at 100 TB it
    * is a full pass over the co-purchase edge relation (guide §1.2:
    * don't recompute what you already have). */
  private val symDegCache =
    new DirCache[String, Graph.DegreedGraph]((s, dir) =>
      pairsCache.withArtifact(s, dir)(p =>
        Graph.degreedGraph(Graph.symmetrize(p))),
      g => { Graph.release(g.edgesWithDeg); Graph.release(g.deg) },
      name = "symDeg")

  /** [[symDegCache]]'s WEIGHTED twin: `symmetrizeWeighted(wpairs)` ⋈
    * weighted out-degree plus the node list, row counts and max edge
    * weight measured once at build — q272 previously re-ran the
    * edge-scale degree join and three probe jobs (maxW, node count,
    * broadcast gate) on every call and bench rep. */
  private val wSymDegCache =
    new DirCache[String, Graph.WeightedDegreedGraph]((s, dir) =>
      wpairsCache.withArtifact(s, dir)(p =>
        Graph.weightedDegreedGraph(Graph.symmetrizeWeighted(p))),
      g => { Graph.release(g.edgesW); Graph.release(g.wdeg) }, name = "wSymDeg")

  /** LPA rounds for the co-purchase community family — one constant so
    * the stored label artifact, its consumers and their oracles can
    * never disagree on the round count. */
  private val LpaRounds = 4

  /** q364 rich-club degree thresholds — the ladder both engines walk. */
  private val RichClubKs: Seq[Long] = Seq(2L, 4L, 8L, 16L)

  /** q366 recommendations per part (top co-purchase neighbours). */
  private val RecTopN = 3

  /** The PERSISTED LPA LABEL artifact: the 4-round assignment (plus
    * its convergence diagnostic) computed once per data dir over the
    * shared pairs artifact. q268 summarises it, q275 scores its
    * modularity, q277 reports its convergence — none of them re-runs
    * the rounds. Labels are deterministic (synchronous integer LPA),
    * so stored-vs-recomputed is unobservable in any result — the
    * DuckDB oracles still unroll the rounds from scratch. */
  private val labelsCache =
    new DirCache[String, (DataFrame, Graph.LpaDiag)]((s, dir) =>
      // the feeder artifact is PINNED for the whole multi-round build
      // (r15 review: a bare get releases the pairs lock before the LPA
      // rounds run, so a concurrent caller's pairsCache overflow could
      // release the checkpoint mid-build) — same for every cache below
      pairsCache.withArtifact(s, dir)(p =>
        Graph.labelPropagationWithDiag(p, LpaRounds)),
      (a: (DataFrame, Graph.LpaDiag)) => Graph.release(a._1), name = "labels")

  /** The WEIGHTED LPA label artifact — the weighted twin of
    * [[labelsCache]]: the 4-round weighted assignment computed once per
    * (data dir, session) over the shared weighted pairs. q273
    * summarises it, q287 scores its weighted modularity; neither
    * re-runs the rounds. */
  private val wLabelsCache = new DirCache[String, DataFrame]((s, dir) =>
    wpairsCache.withArtifact(s, dir)(p =>
      Graph.weightedLabelPropagation(p, LpaRounds)),
    Graph.release, name = "wLabels")

  /** YEAR-scoped LPA label artifacts for the drift family, keyed
    * (dir, year): both 1996/1997 subgraph labellings are deterministic
    * per data dir, and q282's two cold LPA runs made it the suite's most
    * expensive query — cached, a drift call pays only the
    * contingency-scale Rand index. The year PAIRS feed exactly one LPA
    * run and are released inside the build; only the labels (one
    * node-scale relation per year) stay resident, LRU-bounded. */
  private val yearLabelsCache =
    new DirCache[(String, Int), DataFrame]((s, key) => {
      val (dir, y) = key
      val p = Graph.canonicalPairs(
        t(s, dir, "lineitem")
          .filter(year(col("l_shipdate")) === y)
          .select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey")
      try Graph.labelPropagation(p, LpaRounds)
      finally Graph.release(p)
    }, Graph.release, name = "yearLabels")

  /** The K-CORE DECOMPOSITION artifact (r14 ask #3): the k=4 / 6-round
    * peel's surviving `(node, degree)` relation, node-scale, computed
    * once per (data dir, session) over the shared pairs artifact
    * ([[Graph.kCoreArtifact]] — the peel's edge-scale working snapshots
    * are released inside the build; only the node-scale result stays
    * resident). q266 summarises it, q293 profiles it by brand, q294
    * intersects it with the strength core — the peel was the suite's
    * most expensive idle computation and now runs once, not once per
    * consumer (or per bench rep). */
  private val coreCache = new DirCache[String, DataFrame]((s, dir) =>
    pairsCache.withArtifact(s, dir)(p =>
      Graph.kCoreArtifact(p, k = 4, rounds = 6)),
    Graph.release, name = "core")

  /** The S-CORE (strength) decomposition artifact — [[coreCache]]'s
    * weighted twin over the shared weighted pairs (s = 80, 6 rounds):
    * q276 summarises it, q294 intersects it with the k-core. */
  private val sCoreCache = new DirCache[String, DataFrame]((s, dir) =>
    wpairsCache.withArtifact(s, dir)(p =>
      Graph.sCoreArtifact(p, s = 80L, rounds = 6)),
    Graph.release, name = "sCore")

  /** The BIPARTITE customer↔part purchase relation (distinct), the
    * edge set of the HITS pair q295 (authorities) / q300 (hubs) — one
    * fact-scale orders ⋈ lineitem distinct per (dir, session), shared
    * by both views (and both bench reps) instead of rebuilt per
    * call. */
  private val bipartiteCache =
    new DirCache[String, DataFrame]((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .cut(true), Graph.release, name = "bipartite")

  /** The first five HITS half-steps `(degP, a2)` materialised ONCE per
    * (dir, session) — q295 and q300 each re-ran the whole
    * [[hitsRound2Auth]] chain per call (and per bench rep) before this
    * rode the keyed cache like the co-purchase pairs do. Lock nesting
    * follows build-dependency order (hits → bipartite), same as
    * cores → pairs. */
  private val hitsCache =
    new DirCache[String, (DataFrame, DataFrame)]((s, dir) =>
      bipartiteCache.withArtifact(s, dir)(hitsRound2Auth),
      { case (degP, a2) => Graph.release(degP); Graph.release(a2) },
      name = "hits")

  /** The per-EDGE TRIANGLE-SUPPORT artifact `(a, b, support)` — for
    * every canonical co-purchase pair, the number of triangles
    * containing it (support = |adj(a) ∩ adj(b)|), zero-support edges
    * included. Built ONCE per (dir, session) from the degree-ordered
    * closed-wedge enumeration (each triangle appears as exactly one
    * closed wedge at its order-minimal vertex and credits its three
    * edges once — O(E^1.5) enumerated wedges regardless of hub skew,
    * the q302 orientation): q302 reads Σsupport/3 for the global
    * transitivity, q303 histograms it (the k-truss ladder's input).
    * Edge-scale retained relation, same class as the pairs artifact
    * it derives from. */
  private val supportCache = new DirCache[String, DataFrame]((s, dir) =>
    pairsCache.withArtifact(s, dir)(Graph.triangleSupport),
    Graph.release, name = "support")

  /** The K-TRUSS PEEL TRAJECTORY artifact (k = 4, 3 rounds): the
    * per-round `(round, n_edges_in, n_dropped, n_survivors)` record of
    * the iterative support-recompute peel — a bounded LocalRelation,
    * cached because each build re-runs the triangle enumeration once
    * per round. q326 reads it; the initial-support histogram (q303)
    * stays the cheap static view. */
  /** The truss order — ONE constant under the peel operator call and
    * the oracle's `support ≥ k − 2` threshold ([[trussRoundSql]]). */
  private val TrussK = 4L

  private val trussCache = new DirCache[String, DataFrame]((s, dir) =>
    pairsCache.withArtifact(s, dir)(p =>
      Graph.trussPeelTrajectory(p, k = TrussK, rounds = 3)),
    _ => (), name = "truss")

  /** Max-normalise a score column to e6 fixed point: `out = v·1e6 div
    * max(v)` — deterministic, range-bounded to [0, 1e6], DECIMAL(38,0)
    * lift for the 100 TB degree range; the 1-row max rides a broadcast
    * cross join. The HITS half-step normalisation both views share. */
  private def normE6(df: DataFrame, key: String, v: String,
      out: String): DataFrame =
    df.crossJoin(broadcast(df.agg(max(col(v)).as("mx"))))
      .select(col(key), expr(
        s"CAST(CAST($v AS DECIMAL(38,0)) * 1000000 div mx AS BIGINT)")
        .as(out))

  /** The first five HITS half-steps over the bipartite relation
    * `e (c, p)` — shared VERBATIM by q295 (authorities view) and q300
    * (hubs view) so a normalisation-contract fix can never apply to
    * one side only (r15 review). Returns `(degP, a2)`: the part
    * degrees and the round-2 RAW authority scores each view finishes
    * differently. */
  private def hitsRound2Auth(e: DataFrame): (DataFrame, DataFrame) = {
    // Each half-step is CUT (eager localCheckpoint) before the next one
    // reads it: normE6 evaluates its input twice (1-row max + scaled
    // output), so an uncut five-half-step nest replays the early edge
    // joins combinatorially — measured 11.2 s median / 23 jobs for q300
    // at sf0.1; with the cuts each edge join runs exactly once (the
    // Graph.iterate discipline). Arithmetic unchanged → bit-identical.
    val degP = e.groupBy(col("p")).agg(count(lit(1)).as("deg_p"))
      .cut(true)
    try {
      // round-1 authorities from uniform hubs: a ∝ buyer count
      val a1n = normE6(degP.select(col("p"),
        (col("deg_p") * lit(1000000L)).as("a")), "p", "a", "an")
      val h1 = e.join(a1n, "p")
        .groupBy(col("c")).agg(sum(col("an")).as("h"))
        .cut(true)
      val a2 =
        try e.join(normE6(h1, "c", "h", "hn"), "c")
          .groupBy(col("p")).agg(sum(col("hn")).as("a"))
          .cut(true)
        finally Graph.release(h1) // a2 materialised (or failed); no reader left
      (degP, a2)
    } catch { case t: Throwable => Graph.release(degP); throw t }
  }

  /** The alphabetically-first brand's part keys — the shared seed set
    * of the proximity pair q256 (PPR mass) / q274 (hop distance). */
  private def seedBrandParts(s: SparkSession, dir: String): DataFrame = {
    val partDim = t(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"))
    val seedBrand = partDim.agg(min(col("p_brand")).as("seed_brand"))
    partDim.crossJoin(broadcast(seedBrand))
      .filter(col("p_brand") === col("seed_brand"))
      .select(col("p_partkey").as("node"))
  }

  /** The SEED-SCOPED LINK-PREDICTION artifact shared by q288
    * (common-neighbor Jaccard) / q291 (resource allocation): one pruned
    * wedge enumeration per (data dir, session) — the suite's single
    * most expensive join at probe scale — scored once and cut to BOTH
    * top-20s in ONE job; only the 40-row union survives as the
    * artifact (`ranked_by` ∈ {jaccard, ra} tags the halves). Sharing
    * pins the pruning contract to one place (the r17 scale probe
    * caught exactly that drift: q288 got the via prune, q291 kept
    * shuffling the full edge relation into its wedge join — ×8 probe
    * 57 s → 16 s from the prune alone), and the bounded artifact keeps
    * the pair-scale aggregate OUT of block storage — a first cut of
    * this cache checkpointed the full `(x, y, common, ra_e6)` relation
    * and thrashed the 8 GB driver heap at the ×32 probe (97 s, GC-
    * locker stalls). The two TakeOrdered branches consume the same
    * scored subtree, so the wedge shuffle is planned once and reused
    * (ReuseExchange), never materialized.
    *
    * The seed-adjacent x-side is checkpointed during the build because
    * it is BOTH the wedge join's x input AND (via its distinct vias)
    * the semi-join that prunes the y-side: only vias touching a seed
    * can produce a wedge, so the pruned join enumerates the identical
    * wedge set while the y-side shrinks to the seeds' neighborhood
    * share (unpruned, the probe measured exponent 1.37 from the
    * full-relation sort). `ra_e6` (Σ 1e6 div deg(via)) rides the same
    * shuffle as `common` for free; the deg enrichment joins never drop
    * rows (every wedge endpoint has a degree), so the ra cut over the
    * scored relation is identical to one over the raw stats. */
  private val seedWedgeCache = new DirCache[String, DataFrame]((s, dir) =>
    pairsCache.withArtifact(s, dir) { pairs =>
      val sym = Graph.symmetrize(pairs)
      val seeds = seedBrandParts(s, dir)
      val deg = sym.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .cut(true)
      val xSide = sym.select(col("src").as("via"), col("dst").as("x"))
        .join(seeds.withColumnRenamed("node", "x"), Seq("x"),
          "left_semi")
        .cut(true)
      try {
        val ySide = sym.select(col("src").as("via"),
            col("dst").as("y"))
          .join(xSide.select(col("via")).distinct(), Seq("via"),
            "left_semi")
        val scored = xSide.join(ySide, "via")
          .filter(col("x") =!= col("y"))
          .join(deg.select(col("node").as("via"),
            col("deg").as("via_deg")), "via")
          .groupBy(col("x"), col("y"))
          .agg(count(lit(1)).as("common"),
            sum(expr("1000000 div via_deg")).as("ra_e6"))
          .join(deg.select(col("node").as("x"),
            col("deg").as("deg_x")), "x")
          .join(deg.select(col("node").as("y"),
            col("deg").as("deg_y")), "y")
          .withColumn("jaccard_ppm",
            expr("""CAST(common * 1000000 AS DECIMAL(38,0))
                    div (deg_x + deg_y - common)"""))
        scored
          .orderBy(col("jaccard_ppm").desc, col("x"), col("y"))
          .limit(20)
          .withColumn("ranked_by", lit("jaccard"))
          .unionByName(scored
            .orderBy(col("ra_e6").desc, col("x"), col("y"))
            .limit(20)
            .withColumn("ranked_by", lit("ra")))
          .auditedCut("q288_neighbor_jaccard+q291_resource_allocation")
      } finally Graph.release(xSide)
    }, Graph.release, name = "seedWedge")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PageRank over the part co-purchase graph: parts are linked when
    // they appear in the same order; five damped iterations in exact
    // e6 fixed-point; top 20 by rank. Each iteration is one shuffle
    // join + one keyed aggregate over the edge relation — the scale
    // shape a 100 TB co-purchase graph needs (edges co-partitioned on
    // src, node-scale rank relation moving, lineage cut per round).
    // withArtifact + the eager 20-row cut is the cache consumer
    // contract (r14 advice); releasing the rank snapshot afterwards
    // closes what was a per-call node-scale leak.
    "q251_pagerank" -> { (s, dir) =>
      symDegCache.withArtifact(s, dir) { g =>
        val r = Graph.pageRankOnDegreed(g.edgesWithDeg, g.deg, None,
          iterations = 5, dampingPct = 85, ownDeg = false,
          knownCounts = Some((g.edgeRows, g.nodeRows)))
        try r.select(col("node").as("part_key"), col("rank_e6"))
          .orderBy(col("rank_e6").desc, col("part_key"))
          .limit(20).auditedCut("q251_pagerank")
        finally Graph.release(r)
      }
    },

    // Modularity of the brand partition over the co-purchase graph:
    // per brand, Q's contribution e_c/m − (d_c/2m)² in exact e6
    // fixed-point (DECIMAL(38,0) cross-terms — the 100 TB overflow
    // path). Positive contributions mark brands whose parts are bought
    // together more than degree-chance predicts. Everything reduces to
    // the canonical pair relation + two keyed aggregates; the global
    // edge count rides a broadcast single-row cross join.
    "q255_brand_modularity" -> { (s, dir) =>
      pairsCache.withArtifact(s, dir) { pairs =>
      val brand = t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))
      val m = pairs.agg(count(lit(1)).as("m"))
      val deg = pairs.select(col("a").as("node"))
        .unionByName(pairs.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val degByBrand = deg
        .join(brand, col("node") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("deg")).as("degree_sum"))
      val intra = pairs
        .join(brand.select(col("p_partkey").as("a"),
          col("p_brand").as("brand_a")), Seq("a"))
        .join(brand.select(col("p_partkey").as("b"),
          col("p_brand").as("brand_b")), Seq("b"))
        .filter(col("brand_a") === col("brand_b"))
        .groupBy(col("brand_a").as("p_brand"))
        .agg(count(lit(1)).as("intra_pairs"))
      degByBrand
        .join(intra, Seq("p_brand"), "left_outer")
        .na.fill(0L, Seq("intra_pairs"))
        .crossJoin(broadcast(m))
        .withColumn("contrib_e6",
          expr("""CAST(intra_pairs AS DECIMAL(38,0)) * 1000000
                    div CAST(m AS DECIMAL(38,0))
                  - CAST(degree_sum AS DECIMAL(38,0))
                    * CAST(degree_sum AS DECIMAL(38,0)) * 1000000
                    div (CAST(4 AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0))
                      * CAST(m AS DECIMAL(38,0)))"""))
        .select(col("p_brand"), col("n_parts"), col("degree_sum"),
          col("intra_pairs"), col("contrib_e6").cast("long")
            .as("contrib_e6"))
        .orderBy(col("p_brand"))
        .auditedCut("q255_brand_modularity") // brand-scale (~25 rows): the consumer contract
      }
    },

    // Centrality of the near-duplicate graph: PageRank over the LSH
    // candidate pairs — hub documents are the TEMPLATES (every variant
    // near-duplicates them), distinguishing them from chain-like
    // false-positive paths the same way q199's clustering coefficient
    // does, but with a global propagated measure. Edges come from the
    // banded minhash join (q28's relation), so the graph build is the
    // bucketed dedup path — never all-pairs.
    "q264_dedup_centrality" -> { (s, dir) =>
      PipelineQueries.CcArtifact.cache.withArtifact(s, dir) { case (p, _) =>
        val edges = p
          .select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionByName(p.select(col("id_b").as("src"),
            col("id_a").as("dst")))
        val r = Graph.pageRank(edges, iterations = 5)
        try r.select(col("node").as("doc_id"), col("rank_e6"))
          .orderBy(col("rank_e6").desc, col("doc_id"))
          .limit(20).auditedCut("q264_dedup_centrality")
        finally Graph.release(r)
      }
    },

    // Dense co-purchase core: six rounds of k-core peeling (k = 4) on
    // the part co-purchase graph — parts that stay mutually connected
    // after the stringy periphery is stripped are the catalogue's
    // bundle backbone. Six simultaneous peels; the fixed round count
    // is what keeps the distributed loop and the unrolled SQL oracle
    // byte-identical (see Graph.kCore).
    // Reads the STORED decomposition ([[coreCache]]) — the peel runs
    // once per (dir, session), this call pays one node-scale top-50.
    "q266_copurchase_core" -> { (s, dir) =>
      coreCache.withArtifact(s, dir) { core =>
        core.select(col("node").as("part_key"), col("degree"))
          .orderBy(col("degree").desc, col("part_key"))
          .limit(50).auditedCut("q266_copurchase_core")
      }
    },

    // Related parts by personalized PageRank: random-walk-with-restart
    // from the alphabetically-first brand's parts as the seed set; the
    // top non-seed parts by propagated relevance are the cross-brand
    // "bought with" recommendations. Same deterministic e6 arithmetic;
    // the seed restart mass is the only base term, so rank measures
    // graph proximity to the seed brand.
    "q256_related_parts" -> { (s, dir) =>
      symDegCache.withArtifact(s, dir) { g =>
        val partDim = t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))
        val seedBrand = partDim.agg(min(col("p_brand")).as("seed_brand"))
        val r = Graph.personalizedPageRankOnDegreed(g.edgesWithDeg, g.deg,
          seedBrandParts(s, dir), iterations = 5, dampingPct = 85,
          ownDeg = false, knownCounts = Some((g.edgeRows, g.nodeRows)))
        try r.join(partDim, col("node") === col("p_partkey"))
          .crossJoin(broadcast(seedBrand))
          .filter(col("p_brand") =!= col("seed_brand") &&
            col("rank_e6") > 0)
          .select(col("node").as("part_key"), col("p_brand"),
            col("rank_e6"))
          .orderBy(col("rank_e6").desc, col("part_key"))
          .limit(20).auditedCut("q256_related_parts")
        finally Graph.release(r)
      }
    },

    // Community ASSIGNMENT over the co-purchase graph: four rounds of
    // deterministic synchronous label propagation (most frequent
    // neighbour label, ties to the smallest) — the partition FINDER
    // pairing with q255's modularity scorer of a given partition. Pure
    // integer labels, synchronous update → bit-identical under any
    // partitioning and unrollable as SQL. Output is the community
    // summary relation (size + id span), largest first.
    "q268_copurchase_communities" -> { (s, dir) =>
      labelsCache.withArtifact(s, dir) { case (labels, _) =>
        labels
          .groupBy(col("label").as("community"))
          .agg(count(lit(1)).as("n_members"),
            min(col("node")).as("min_member"),
            max(col("node")).as("max_member"))
          .filter(col("n_members") >= 3)
          .orderBy(col("n_members").desc, col("community"))
          .limit(30).auditedCut("q268_copurchase_communities")
      }
    },

    // Weighted co-purchase PageRank: edges carry the CO-ORDER COUNT —
    // a pair bought together 50 times pulls 50× the rank of a one-off,
    // which is what separates catalogue staples from chance adjacency
    // (q251's unweighted rank treats both alike). Contribution =
    // (rank·w) div Σw in DECIMAL(38,0) — exact, order-free, and the
    // per-edge quotient is bounded by the rank, so sums stay BIGINT.
    "q272_weighted_copurchase_rank" -> { (s, dir) =>
      wSymDegCache.withArtifact(s, dir) { g =>
        val r = Graph.weightedPageRankOnDegreed(g, iterations = 5)
        try r.select(col("node").as("part_key"), col("rank_e6"))
          .orderBy(col("rank_e6").desc, col("part_key"))
          .limit(20).auditedCut("q272_weighted_copurchase_rank")
        finally Graph.release(r)
      }
    },

    // Hop-distance profile from the seed brand: fixed-round
    // multi-source BFS over the co-purchase graph — the "how many
    // bundle steps away is the rest of the catalogue" proximity
    // histogram pairing with q256's strength-of-connection PPR (same
    // seeds, same graph, distance instead of mass). Min hop commutes,
    // so the distributed rounds and the unrolled UNION+MIN oracle are
    // bit-identical; the histogram output is hop-scale.
    "q274_brand_hop_profile" -> { (s, dir) =>
      symDegCache.withArtifact(s, dir) { g =>
        // the shared degreed artifact IS symmetrize(pairs) (plus a
        // degree column hopDistance ignores); its measured counts feed
        // the broadcast gate, so the per-call edge count + distinct
        // node count probe jobs are gone
        val edges = g.edgesWithDeg.select(col("src"), col("dst"))
        // seeds intersected with the GRAPH's nodes — the q256 PPR seed
        // semantics (a brand part in no co-purchase pair is outside the
        // graph, not a hop-0 member; counting it would overstate
        // coverage). g.deg is already one row per node — no distinct.
        val seeds = seedBrandParts(s, dir)
          .join(g.deg.select(col("src").as("node")),
            Seq("node"), "left_semi")
        val dist = Graph.hopDistance(edges, seeds, maxHops = 4,
          knownCounts = Some((g.edgeRows, g.nodeRows)))
        try dist.groupBy(col("hops"))
          .agg(count(lit(1)).as("n_parts"))
          .orderBy(col("hops"))
          .auditedCut("q274_brand_hop_profile") // hop-scale (≤ 5 rows)
        finally Graph.release(dist)
      }
    },

    // Weighted community assignment: neighbours vote with their
    // co-order count, so a 50×-bought-together pair pulls labels 50×
    // harder than a chance adjacency — the vote-weight upgrade to
    // q268's unweighted communities, mirroring q272's upgrade to
    // q251's rank.
    "q273_weighted_communities" -> { (s, dir) =>
      wLabelsCache.withArtifact(s, dir) { labels =>
        labels
          .groupBy(col("label").as("community"))
          .agg(count(lit(1)).as("n_members"),
            min(col("node")).as("min_member"),
            max(col("node")).as("max_member"))
          .filter(col("n_members") >= 3)
          .orderBy(col("n_members").desc, col("community"))
          .limit(30).auditedCut("q273_weighted_communities")
      }
    },

    // Strength core of the co-purchase graph: six rounds of s-core
    // peeling (s = 80 total co-order count) over the WEIGHTED pair
    // relation — q266's k-core keeps nodes with many partners; this
    // keeps nodes whose partnerships are heavily REPEATED (one
    // 50-times-bought-together pairing can anchor a node that
    // degree-peeling would judge peripheral). Fixed rounds for oracle
    // parity, same as the k-core.
    // Reads the STORED strength decomposition ([[sCoreCache]]), the
    // same one-peel-many-summaries treatment as q266.
    "q276_copurchase_strength_core" -> { (s, dir) =>
      sCoreCache.withArtifact(s, dir) { core =>
        core.select(col("node").as("part_key"), col("strength"))
          .orderBy(col("strength").desc, col("part_key"))
          .limit(50).auditedCut("q276_copurchase_strength_core")
      }
    },

    // Modularity OF the found partition: q255 scores the GIVEN brand
    // partition, q268 finds one by label propagation — this closes the
    // loop by scoring what LPA found with the same exact e6 modularity
    // arithmetic (DECIMAL(38,0) cross-terms). Per-community
    // contribution e_c/m − (d_c/2m)², largest first; whether the found
    // partition beats the brand partition is now a query away, not a
    // judgment call.
    // Nested pins, lock order labelsCache → pairsCache (the
    // build-dependency order — labelsCache's own build takes the pairs
    // lock), so BOTH artifacts stay resident across the read.
    "q275_lpa_modularity" -> { (s, dir) =>
      labelsCache.withArtifact(s, dir) { case (labels, _) =>
      pairsCache.withArtifact(s, dir) { pairs =>
      val m = pairs.agg(count(lit(1)).as("m"))
      val deg = pairs.select(col("a").as("node"))
        .unionByName(pairs.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val degByC = deg.join(labels, "node")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("deg")).as("degree_sum"))
      val intra = pairs
        .join(labels.select(col("node").as("a"),
          col("label").as("label_a")), Seq("a"))
        .join(labels.select(col("node").as("b"),
          col("label").as("label_b")), Seq("b"))
        .filter(col("label_a") === col("label_b"))
        .groupBy(col("label_a").as("label"))
        .agg(count(lit(1)).as("intra_pairs"))
      degByC
        .join(intra, Seq("label"), "left_outer")
        .na.fill(0L, Seq("intra_pairs"))
        .crossJoin(broadcast(m))
        .withColumn("contrib_e6",
          expr("""CAST(intra_pairs AS DECIMAL(38,0)) * 1000000
                    div CAST(m AS DECIMAL(38,0))
                  - CAST(degree_sum AS DECIMAL(38,0))
                    * CAST(degree_sum AS DECIMAL(38,0)) * 1000000
                    div (CAST(4 AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0))
                      * CAST(m AS DECIMAL(38,0)))"""))
        .select(col("label").as("community"), col("n_parts"),
          col("degree_sum"), col("intra_pairs"),
          col("contrib_e6").cast("long").as("contrib_e6"))
        .orderBy(col("contrib_e6").desc, col("community"))
        .limit(20).auditedCut("q275_lpa_modularity")
      }
      }
    },

    // Template families in the near-duplicate graph: label propagation
    // over the banded LSH candidate pairs groups documents into
    // variant families (each family = one template and its mutations) —
    // the community view of the same relation q264 ranks and q65's
    // connected components merely partitions by reachability: LPA keeps
    // weakly-bridged families apart where CC would fuse them through
    // one chance collision. Edges come from the bucketed dedup path,
    // never all-pairs.
    "q271_dedup_communities" -> { (s, dir) =>
      PipelineQueries.CcArtifact.cache.withArtifact(s, dir) { case (p, _) =>
        val labels = Graph.labelPropagation(
          p.select(col("id_a").as("a"), col("id_b").as("b")), rounds = 4)
        try labels
          .groupBy(col("label").as("family"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("node")).as("min_doc"),
            max(col("node")).as("max_doc"))
          .filter(col("n_docs") >= 2)
          .orderBy(col("n_docs").desc, col("family"))
          .limit(40).auditedCut("q271_dedup_communities")
        finally Graph.release(labels)
      }
    },

    // Convergence diagnostic of the stored co-purchase LPA run:
    // synchronous LPA can 2-cycle on bipartite-ish structures, and a
    // fixed-round assignment silently lands on an arbitrary phase of
    // that cycle — this reports how much of q268's partition is a true
    // fixed point (label(r)==label(r−1)) and how much carries the
    // period-2 signature (==label(r−2) but ≠label(r−1)). One extra
    // node-scale three-way join at the end of the run every community
    // consumer shares; reads the same persisted label artifact as
    // q268/q275.
    "q277_lpa_convergence" -> { (s, dir) =>
      import s.implicits._
      val d = labelsCache.get(s, dir)._2
      Seq((d.nNodes, d.nStable, d.nOscillating,
        if (d.converged) 1L else 0L))
        .toDF("n_nodes", "n_stable", "n_oscillating", "converged")
    },

    // Neighborhood-similarity probe (the link-prediction primitive):
    // for the SEED brand's parts, their most similar counterparts by
    // common-neighbor JACCARD over the co-purchase graph — "which parts
    // share this part's co-purchase context", whether or not the two
    // ever co-occurred themselves. SEED-SCOPED deliberately: the
    // all-pairs variant is Σdeg² wedge volume by definition (≈1.5×10⁸
    // wedge rows already at sf0.1 — measured, 23 s — growing linearly
    // with the node count), while the per-seed-set probe is the shape a
    // product actually serves ("similar items for THIS catalog slice")
    // and bounds the wedge join by the seeds' wedge share. Common
    // neighbors via the wedge join semi-joined to the seed set BEFORE
    // the expansion; Jaccard = common / (deg_x + deg_y − common) over
    // FULL-graph degrees, exact ppm (integral div); top-20 is
    // TakeOrdered, never a full sort.
    "q288_neighbor_jaccard" -> { (s, dir) =>
      seedWedgeCache.withArtifact(s, dir) { art =>
        art.filter(col("ranked_by") === "jaccard")
          .orderBy(col("jaccard_ppm").desc, col("x"), col("y"))
          .select(col("x").as("seed_part"),
            col("y").as("counterpart"),
            col("common").as("common_neighbors"),
            col("deg_x"), col("deg_y"), col("jaccard_ppm"))
          .auditedCut("q288_neighbor_jaccard")
      }
    },

    // Resource-allocation link prediction (Zhou-Lü-Zhang 2009) — the
    // refinement of q288's raw common-neighbor count: each shared
    // neighbor votes 1/deg(via), so a rare shared context counts far
    // more than co-occurring with a part everything co-occurs with
    // (the same hub-discounting idea as Adamic-Adar, but 1/deg is
    // EXACTLY representable in fixed point where 1/ln(deg) is not:
    // each term is 1e6 div deg, deterministic and oracle-stable).
    // Same seed-scoped wedge shape as q288 — the shared artifact's
    // `ra` half (each via votes 1e6 div deg(via)) IS this query's
    // top-20; the consumer only projects it.
    "q291_resource_allocation" -> { (s, dir) =>
      seedWedgeCache.withArtifact(s, dir) { art =>
        art.filter(col("ranked_by") === "ra")
          .orderBy(col("ra_e6").desc, col("x"), col("y"))
          .select(col("x").as("seed_part"),
            col("y").as("counterpart"),
            col("common").as("common_neighbors"), col("ra_e6"))
          .auditedCut("q291_resource_allocation")
      }
    },

    // WEIGHTED modularity of the weighted partition — q275's twin on
    // the weighted axis, closing the weighted loop the same way (q273
    // finds the partition, this scores it): per-community contribution
    // w_intra/W − (S_c/2W)² in exact e6 fixed point, where W is total
    // edge weight and S_c the community's strength sum. Both queries
    // read the SAME stored weighted-label artifact — the rounds run
    // once per data dir. Arithmetic mirrors q275: each `div` term is
    // separately non-negative, so truncation-vs-floor never diverges
    // between engines even though the contribution itself can be
    // negative.
    // Nested pins, lock order wLabelsCache → wpairsCache (the
    // build-dependency order), mirroring q275.
    "q287_weighted_modularity" -> { (s, dir) =>
      wLabelsCache.withArtifact(s, dir) { labels =>
      wpairsCache.withArtifact(s, dir) { pairs =>
      val wTot = pairs.agg(sum(col("w")).as("m"))
      val strength = pairs.select(col("a").as("node"), col("w"))
        .unionByName(pairs.select(col("b").as("node"), col("w")))
        .groupBy(col("node")).agg(sum(col("w")).as("deg"))
      val byC = strength.join(labels, "node")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("deg")).as("strength_sum"))
      val intra = pairs
        .join(labels.select(col("node").as("a"),
          col("label").as("label_a")), Seq("a"))
        .join(labels.select(col("node").as("b"),
          col("label").as("label_b")), Seq("b"))
        .filter(col("label_a") === col("label_b"))
        .groupBy(col("label_a").as("label"))
        .agg(sum(col("w")).as("intra_w"))
      byC
        .join(intra, Seq("label"), "left_outer")
        .na.fill(0L, Seq("intra_w"))
        .crossJoin(broadcast(wTot))
        .withColumn("contrib_e6",
          expr("""CAST(intra_w AS DECIMAL(38,0)) * 1000000
                    div CAST(m AS DECIMAL(38,0))
                  - CAST(strength_sum AS DECIMAL(38,0))
                    * CAST(strength_sum AS DECIMAL(38,0)) * 1000000
                    div (CAST(4 AS DECIMAL(38,0))
                      * CAST(m AS DECIMAL(38,0))
                      * CAST(m AS DECIMAL(38,0)))"""))
        .select(col("label").as("community"), col("n_parts"),
          col("strength_sum"), col("intra_w"),
          col("contrib_e6").cast("long").as("contrib_e6"))
        .orderBy(col("contrib_e6").desc, col("community"))
        .limit(20).auditedCut("q287_weighted_modularity")
      }
      }
    },

    // Year-over-year community drift: LPA communities of the 1996 and
    // 1997 co-shipment subgraphs compared with the RAND INDEX in exact
    // ppm — "did the co-purchase structure persist?". The pairwise
    // definition (agreeing node pairs / all pairs) would be n² at any
    // scale; the contingency identity computes it from the
    // (label₁₉₉₆ × label₁₉₉₇) table instead: Σ C(nij,2), row/column
    // marginal Σ C(·,2) and C(n,2) — everything downstream of the two
    // LPA runs is communities²-scale. Marginals ride partitioned
    // windows over that tiny relation (no 1-row cross join to trip the
    // cartesian audit); all arithmetic integral (`div`), so the ppm is
    // bit-stable against the unrolled oracle.
    "q282_community_drift" -> { (s, dir) =>
      // both year labellings ride the (dir, year) artifact cache — they
      // belong to the cache (released on evict), so the call pays only
      // the contingency-scale Rand index. withArtifact holds the cache
      // lock across BOTH gets and the eager 1-row cut (r14 advice: the
      // previous bare gets left a window in which a concurrent caller's
      // overflow could release the 1996 entry between the two), and the
      // reentrant second get cannot evict the just-touched 1996 entry
      // while cap ≥ 2. The 1-row checkpoint itself is never released
      // (negligible, and the caller owns the result).
      yearLabelsCache.withArtifact(s, (dir, 1996)) { la =>
        val lb = yearLabelsCache.get(s, (dir, 1997))
        Graph.randIndexPpm(la, lb)
          .select(col("n_nodes"),
            col("n_comm_a").as("n_comm_1996"),
            col("n_comm_b").as("n_comm_1997"),
            col("same_same_pairs"), col("rand_ppm"))
          .auditedCut("q282_community_drift")
      }
    },

    // Brand profile of the CO-PURCHASE CORE — a second consumer of the
    // stored k-core decomposition (the find/score split the label
    // artifacts already have): per brand, how many parts survive the
    // k=4 peel and how tightly they sit in it (max + total surviving
    // degree). Brands over-represented in the core are the catalogue's
    // bundle anchors. One node-scale join against the part dim over the
    // CACHED artifact — the peel itself never re-runs.
    "q293_core_brand_profile" -> { (s, dir) =>
      coreCache.withArtifact(s, dir) { core =>
        core.join(t(s, dir, "part")
            .select(col("p_partkey").as("node"), col("p_brand")),
            "node")
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_core_parts"),
            max(col("degree")).as("max_degree"),
            sum(col("degree")).as("degree_sum"))
          .orderBy(col("n_core_parts").desc, col("p_brand"))
          .auditedCut("q293_core_brand_profile") // brand-scale (~25 rows)
      }
    },

    // HITS authorities over the BIPARTITE customer↔part purchase graph
    // (Kleinberg 1999): customers are hubs, parts authorities — a part
    // is authoritative when BROAD-BASKET customers buy it, which is a
    // different signal from q251's co-purchase PageRank (a part can
    // rank high there through one dense bundle; HITS wants endorsement
    // by customers who endorse widely). Two fixed rounds, exact e6
    // fixed point with MAX-normalisation per half-step (a_e6 = a·1e6
    // div max(a) — deterministic, keeps every value in [0, 1e6], and
    // the DECIMAL(38,0) lift covers the 100 TB degree range). Each
    // half-step is one edge ⋈ scores join + one keyed aggregate — the
    // PageRank scale shape on the bipartite relation; the 1-row maxes
    // ride broadcast cross joins. The edge relation rides
    // [[bipartiteCache]] (shared with q300).
    "q295_hits_authorities" -> { (s, dir) =>
      hitsCache.withArtifact(s, dir) { case (degP, a2) =>
        normE6(a2, "p", "a", "auth_e6")
          .withColumnRenamed("p", "part_key")
          .join(degP.select(col("p").as("part_key"),
            col("deg_p").as("n_buyers")), "part_key")
          .orderBy(col("auth_e6").desc, col("part_key"))
          .limit(20).auditedCut("q295_hits_authorities")
      }
    },

    // Degree ASSORTATIVITY of the co-purchase graph (Newman 2002): do
    // high-degree parts co-purchase with other high-degree parts
    // (assortative, social-network-like) or with low-degree ones
    // (disassortative, hub-and-spoke-like)? On the SYMMETRISED edge
    // list the two end-degree marginals are identical, so Pearson's r
    // needs NO square root — r = (m·Σxy − Σx²ᵐ) / (m·Σx² − Σx²ᵐ) — and
    // is exactly representable in ppm with sign decomposition (the
    // numerator can be negative; Spark div truncates, DuckDB //
    // floors). One edge-scale join to attach end degrees, one global
    // cross-moment aggregate (the q236 one-pass discipline),
    // DECIMAL(38,0) throughout.
    "q296_degree_assortativity" -> { (s, dir) =>
      pairsCache.withArtifact(s, dir) { pairs =>
        val sym = Graph.symmetrize(pairs)
        val deg = sym.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        sym
          .join(deg.select(col("node").as("src"), col("deg").as("dx")),
            "src")
          .join(deg.select(col("node").as("dst"), col("deg").as("dy")),
            "dst")
          .agg(count(lit(1)).as("m_edges"),
            sum(expr("CAST(dx AS DECIMAL(38,0)) * dy")).as("sxy"),
            sum(col("dx").cast("decimal(38,0)")).as("sx"),
            sum(expr("CAST(dx AS DECIMAL(38,0)) * dx")).as("sx2"))
          .select(col("m_edges"),
            col("sxy").cast("long").as("sum_xy"),
            col("sx").cast("long").as("sum_x"),
            col("sx2").cast("long").as("sum_x2"),
            expr("""CAST(CASE
                WHEN m_edges * sxy - sx * sx >= 0
                THEN ((m_edges * sxy - sx * sx) * 1000000)
                  div greatest(m_edges * sx2 - sx * sx, 1)
                ELSE -(((sx * sx - m_edges * sxy) * 1000000)
                  div greatest(m_edges * sx2 - sx * sx, 1))
                END AS BIGINT)""").as("assort_ppm"))
          .auditedCut("q296_degree_assortativity")
      }
    },

    // WEIGHTED (strength) assortativity — q296's twin on the weighted
    // axis (the q272/q273 pattern): moments are EDGE-WEIGHT-WEIGHTED
    // (Σw·sx·sy etc.) and the node attribute is STRENGTH (Σ incident
    // w), so a 50×-repeated partnership counts 50× in both roles. The
    // symmetrised marginals again coincide — no square root, exact
    // sign-decomposed ppm; answers whether heavily-repeated bundles
    // connect heavy nodes to heavy nodes (the weighted structure can
    // invert the unweighted verdict when hub adjacency is mostly
    // one-off noise).
    "q299_strength_assortativity" -> { (s, dir) =>
      wpairsCache.withArtifact(s, dir) { wpairs =>
        val sym = Graph.symmetrizeWeighted(wpairs)
        val strength = sym.groupBy(col("src").as("node"))
          .agg(sum(col("w")).as("st"))
        sym
          .join(strength.select(col("node").as("src"),
            col("st").as("dx")), "src")
          .join(strength.select(col("node").as("dst"),
            col("st").as("dy")), "dst")
          .agg(count(lit(1)).as("m_edges"),
            sum(col("w").cast("decimal(38,0)")).as("h"),
            sum(expr("CAST(w AS DECIMAL(38,0)) * dx * dy")).as("sxy"),
            sum(expr("CAST(w AS DECIMAL(38,0)) * dx")).as("sx"),
            sum(expr("CAST(w AS DECIMAL(38,0)) * dx * dx")).as("sx2"))
          .select(col("m_edges"),
            col("h").cast("long").as("w_total"),
            col("sxy").cast("long").as("sum_wxy"),
            col("sx").cast("long").as("sum_wx"),
            col("sx2").cast("long").as("sum_wx2"),
            expr("""CAST(CASE
                WHEN h * sxy - sx * sx >= 0
                THEN ((h * sxy - sx * sx) * 1000000)
                  div greatest(h * sx2 - sx * sx, 1)
                ELSE -(((sx * sx - h * sxy) * 1000000)
                  div greatest(h * sx2 - sx * sx, 1))
                END AS BIGINT)""").as("assort_ppm"))
          .auditedCut("q299_strength_assortativity")
      }
    },

    // HITS HUBS — q295's other half: the top customers by hub score
    // after the same two normalised rounds plus the closing hub
    // half-step (h ∝ Σ authority over the basket). Broad-basket
    // customers whose baskets concentrate on authoritative parts rank
    // highest — the "curator" view a recommender seeds from, distinct
    // from raw basket SIZE (n_parts rides along to show the
    // difference). Same exact e6 max-normalisation contract.
    "q300_hits_hubs" -> { (s, dir) =>
      hitsCache.withArtifact(s, dir) { case (_, a2) =>
        bipartiteCache.withArtifact(s, dir) { e =>
          val h2 = e.join(normE6(a2, "p", "a", "an2"), "p")
            .groupBy(col("c")).agg(sum(col("an2")).as("h"),
              count(lit(1)).as("n_parts"))
            .cut(true) // max + output read it; cut keeps the edge join single-run
          // final hub normalisation inline: n_parts must ride along, and
          // normE6 returns only (key, score)
          try h2.crossJoin(broadcast(h2.agg(max(col("h")).as("mh"))))
            .select(col("c").as("cust_key"), expr(
              "CAST(CAST(h AS DECIMAL(38,0)) * 1000000 div mh AS BIGINT)")
              .as("hub_e6"), col("n_parts"))
            .orderBy(col("hub_e6").desc, col("cust_key"))
            .limit(20).auditedCut("q300_hits_hubs")
          finally Graph.release(h2)
        }
      }
    },

    // RICH-CLUB profile (Colizza et al. 2006): among nodes with degree
    // above k, how dense is the subgraph — do the catalogue's hubs
    // bundle with EACH OTHER (a "rich club") or only radiate outward?
    // The natural companion to q296's assortativity (a correlation)
    // with a thresholded, directly-interpretable density ladder. One
    // degree join over the cached pairs + ONE conditional aggregate
    // produces all three k levels (the q292 single-pass pyramid
    // discipline — never one subgraph pass per level); density in
    // exact ppm over C(n,2), non-negative throughout.
    "q301_rich_club" -> { (s, dir) =>
      pairsCache.withArtifact(s, dir) { pairs =>
        val deg = Graph.symmetrize(pairs)
          .groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val ends = pairs
          .join(deg.select(col("node").as("a"), col("deg").as("dx")),
            "a")
          .join(deg.select(col("node").as("b"), col("deg").as("dy")),
            "b")
        // coalesce: a sum over an EMPTY pair relation is NULL, and the
        // degenerate no-co-purchase dir should report zeros, matching
        // the COALESCEd oracle
        def ek(k: Int) = coalesce(
          sum(when(col("dx") > k && col("dy") > k, 1L).otherwise(0L)),
          lit(0L))
        def nk(k: Int) = coalesce(
          sum(when(col("deg") > k, 1L).otherwise(0L)), lit(0L))
        val e = ends.agg(ek(4).as("e4"), ek(8).as("e8"),
          ek(16).as("e16"))
        val n = deg.agg(nk(4).as("n4"), nk(8).as("n8"),
          nk(16).as("n16"))
        def density(ec: String, nc: String) =
          expr(s"$ec * 2000000 div greatest($nc * ($nc - 1), 1)")
        e.crossJoin(broadcast(n)).select(
          col("n4").as("k4_nodes"), col("e4").as("k4_edges"),
          density("e4", "n4").as("k4_density_ppm"),
          col("n8").as("k8_nodes"), col("e8").as("k8_edges"),
          density("e8", "n8").as("k8_density_ppm"),
          col("n16").as("k16_nodes"), col("e16").as("k16_edges"),
          density("e16", "n16").as("k16_density_ppm"))
          .auditedCut("q301_rich_club")
      }
    },

    // Global TRANSITIVITY of the co-purchase graph: 3·triangles /
    // wedges in exact ppm — "when two parts share a co-purchase
    // partner, how often are they themselves co-purchased?". Reads the
    // STORED per-edge triangle-support artifact ([[supportCache]] —
    // the degree-ordered O(E^1.5) enumeration runs once per dir;
    // Σsupport counts every triangle exactly 3 times, so the count is
    // one edge-scale aggregate here). The wedge DENOMINATOR needs no
    // join at all — Σ C(deg,2) comes straight off the degree relation.
    // Nested pins, lock order supportCache → pairsCache (the
    // build-dependency order).
    "q302_transitivity" -> { (s, dir) =>
      supportCache.withArtifact(s, dir) { sup =>
        pairsCache.withArtifact(s, dir) { pairs =>
          val deg = Graph.symmetrize(pairs)
            .groupBy(col("src").as("node"))
            .agg(count(lit(1)).as("deg"))
          // coalesce: sums over an empty support/degree relation are
          // NULL — the degenerate graph reports zeros (oracle-matched)
          val tri = sup.agg(coalesce(expr("sum(support) div 3"),
            lit(0L)).as("n_triangles"))
          val stats = deg.agg(count(lit(1)).as("n_nodes"),
            coalesce(expr("sum(deg) div 2"), lit(0L)).as("n_edges"),
            coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L))
              .as("n_wedges"))
          stats.crossJoin(broadcast(tri))
            .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
              col("n_triangles"),
              // DECIMAL lift: 3·T·1e6 overflows BIGINT near 3×10¹² tri
              expr("""CAST(CAST(3 AS DECIMAL(38,0)) * n_triangles
                        * 1000000 div greatest(n_wedges, 1)
                      AS BIGINT)""")
                .as("transitivity_ppm"))
            .auditedCut("q302_transitivity")
        }
      }
    },

    // TRUSS-SUPPORT histogram — the k-truss ladder's raw input: how
    // many edges have 0, 1, 2, … supporting triangles. An edge in the
    // k-truss needs support ≥ k−2, so this one histogram reads off the
    // whole truss size ladder (cumulative from the right) the way
    // q281's class histogram reads off the k-anonymity ladder. Second
    // consumer of the stored support artifact: one edge-scale keyed
    // aggregate over a small-int key, the enumeration never re-runs.
    "q303_truss_support" -> { (s, dir) =>
      supportCache.withArtifact(s, dir) { sup =>
        sup.groupBy(col("support"))
          .agg(count(lit(1)).as("n_edges"))
          .orderBy(col("support"))
          .auditedCut("q303_truss_support")
      }
    },

    // Degree-core vs strength-core MEMBERSHIP overlap — the question
    // the two decompositions beg (q266 keeps the many-partnered, q276
    // the heavily-repeated): how much of each core is the other? One
    // row: sizes, the intersection, and each core's exclusive
    // remainder. Reads BOTH stored artifacts (nested pins, lock order
    // coreCache → sCoreCache — no build dependency links them, so any
    // fixed order is acyclic; this one is alphabetical-ish and
    // pinned here as THE order for future dual-core consumers). The
    // full outer join is node-scale over two cached node relations.
    "q294_core_overlap" -> { (s, dir) =>
      coreCache.withArtifact(s, dir) { kcore =>
        sCoreCache.withArtifact(s, dir) { score =>
          kcore.select(col("node"), lit(1L).as("in_k"))
            .join(score.select(col("node"), lit(1L).as("in_s")),
              Seq("node"), "full_outer")
            .agg(
              sum(coalesce(col("in_k"), lit(0L))).as("n_kcore"),
              sum(coalesce(col("in_s"), lit(0L))).as("n_score"),
              sum(when(col("in_k").isNotNull && col("in_s").isNotNull,
                1L).otherwise(0L)).as("n_both"),
              sum(when(col("in_k").isNotNull && col("in_s").isNull,
                1L).otherwise(0L)).as("n_kcore_only"),
              sum(when(col("in_k").isNull && col("in_s").isNotNull,
                1L).otherwise(0L)).as("n_score_only"))
            .auditedCut("q294_core_overlap")
        }
      }
    },

    // EDGE clustering coefficient — the per-edge cohesion measure
    // support / (min(deg_a, deg_b) − 1): what share of the possible
    // common neighborhoods around a tie actually closes. Top-20
    // most-embedded edges (the "strong ties"). Third consumer of the
    // stored support artifact: one edge-scale degree join over two
    // CACHED relations, the enumeration never re-runs. The bound
    // support ≤ min(deg)−1 holds by construction (the other endpoint
    // occupies one neighbor slot), so ecc_ppm ∈ [0, 1e6] and a lone
    // leaf edge (min deg 1) guards the divisor with GREATEST(_, 1) —
    // its support is structurally 0, so it reports 0, not an error.
    // Nested pins, lock order supportCache → pairsCache (the
    // build-dependency order, the q302 precedent).
    "q306_edge_clustering" -> { (s, dir) =>
      supportCache.withArtifact(s, dir) { sup =>
        pairsCache.withArtifact(s, dir) { pairs =>
          val deg = Graph.symmetrize(pairs)
            .groupBy(col("src").as("node"))
            .agg(count(lit(1)).as("deg"))
          sup
            .join(deg.select(col("node").as("a"), col("deg").as("da")),
              "a")
            .join(deg.select(col("node").as("b"), col("deg").as("db")),
              "b")
            .select(col("a"), col("b"), col("support"),
              least(col("da"), col("db")).as("min_deg"),
              expr("""CAST(support * 1000000
                      div greatest(least(da, db) - 1, 1) AS BIGINT)""")
                .as("ecc_ppm"))
            .orderBy(col("ecc_ppm").desc, col("a"), col("b"))
            .limit(20)
            .auditedCut("q306_edge_clustering")
        }
      }
    },

    // Weak-tie brand mix (Granovetter): are LOCAL BRIDGES — co-purchase
    // edges with zero supporting triangles, the ties whose removal
    // disconnects their endpoints' neighborhoods locally — more often
    // CROSS-brand than embedded ties are? Weak-tie theory says yes
    // (bridges carry the between-community reach); this one row
    // answers it with four conditional counts and two exact-ppm
    // cross-shares. Fourth consumer of the stored support artifact:
    // one edge-scale pass against the broadcast part dimension, the
    // enumeration never re-runs.
    "q307_bridge_brand_mix" -> { (s, dir) =>
      supportCache.withArtifact(s, dir) { sup =>
        val brand = t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))
        sup
          .join(broadcast(brand.select(col("p_partkey").as("a"),
            col("p_brand").as("ba"))), "a")
          .join(broadcast(brand.select(col("p_partkey").as("b"),
            col("p_brand").as("bb"))), "b")
          .agg(
            sum(when(col("support") === 0 && col("ba") =!= col("bb"),
              1L).otherwise(0L)).as("bridge_cross"),
            sum(when(col("support") === 0 && col("ba") === col("bb"),
              1L).otherwise(0L)).as("bridge_within"),
            sum(when(col("support") > 0 && col("ba") =!= col("bb"),
              1L).otherwise(0L)).as("supported_cross"),
            sum(when(col("support") > 0 && col("ba") === col("bb"),
              1L).otherwise(0L)).as("supported_within"))
          .select(col("bridge_cross"), col("bridge_within"),
            col("supported_cross"), col("supported_within"),
            expr("""CAST(bridge_cross * 1000000
                    div greatest(bridge_cross + bridge_within, 1)
                    AS BIGINT)""").as("bridge_cross_ppm"),
            expr("""CAST(supported_cross * 1000000
                    div greatest(supported_cross + supported_within, 1)
                    AS BIGINT)""").as("supported_cross_ppm"))
          .auditedCut("q307_bridge_brand_mix")
      }
    },

    // Average-neighbor-degree curve knn(d) (Barrat / Pastor-Satorras):
    // for each degree value d, the mean degree of the neighbors of
    // degree-d nodes — the FUNCTIONAL companion to q296's scalar
    // assortativity (a rising curve = assortative mixing, falling =
    // hubs feeding spokes). Edge-based: symmetrised edges carry both
    // end degrees, ONE keyed aggregate by source degree (Σ neighbor
    // degree, edge count — the divisor d·|nodes of degree d| arrives
    // for free as the group's edge count); exact ppm over non-negative
    // terms. Output is bounded by DISTINCT DEGREE VALUES, and the
    // whole thing is one node-scale degree join over the CACHED pairs
    // artifact.
    "q311_avg_neighbor_degree" -> { (s, dir) =>
      pairsCache.withArtifact(s, dir) { pairs =>
        val deg = Graph.symmetrize(pairs)
          .groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        Graph.symmetrize(pairs)
          .join(deg.select(col("node").as("src"), col("deg").as("da")),
            "src")
          .join(deg.select(col("node").as("dst"), col("deg").as("db")),
            "dst")
          .groupBy(col("da").as("degree"))
          .agg(count(lit(1)).as("n_edge_ends"),
            expr("""CAST(CAST(SUM(db) AS DECIMAL(38,0)) * 1000000
                    div COUNT(*) AS BIGINT)""").as("avg_nbr_deg_ppm"))
          .orderBy(col("degree"))
          .auditedCut("q311_avg_neighbor_degree")
      }
    },

    // Degree-distribution tail (log2-bucketed CCDF): node counts per
    // power-of-two degree band plus the survival count (nodes with
    // degree ≥ the band floor) — the heavy-tail diagnostic that says
    // whether the co-purchase graph is scale-free enough to need the
    // hub disciplines (degree-ordered enumeration, seed scoping) at
    // 100 TB. Band = length(bin(deg)) = ⌊log2 d⌋ + 1, an INTEGER
    // bit-length in both engines — no floating log at bucket
    // boundaries; the CCDF is one cumulative window over the ≤64-row
    // band relation (descending, so it sums bands ≥ each floor).
    "q313_degree_tail" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      pairsCache.withArtifact(s, dir) { pairs =>
        val bands = Graph.symmetrize(pairs)
          .groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
          .groupBy(length(bin(col("deg"))).cast("long").as("band"))
          .agg(count(lit(1)).as("n_nodes"))
        val cume = Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bands
          .withColumn("n_at_least_floor", sum(col("n_nodes")).over(cume))
          .crossJoin(broadcast(
            bands.agg(sum(col("n_nodes")).as("n_total"))))
          .select(col("band"),
            expr("CAST(pow(2, band - 1) AS BIGINT)").as("floor_deg"),
            col("n_nodes"), col("n_at_least_floor"),
            expr("n_at_least_floor * 1000000 div n_total")
              .as("survival_ppm"))
          .orderBy(col("band"))
          .auditedCut("q313_degree_tail")
      }
    },

    // Market-basket ASSOCIATION LIFT (Agrawal et al. 1993's measure on
    // the co-purchase relation): for pairs co-ordered at least 3 times,
    // lift = P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b) in exact e6 —
    // the q264 family ranks topology; this ranks statistical surprise
    // (a pair can be high-support purely because both parts are
    // popular; lift discounts exactly that). Rides the STORED weighted
    // pairs artifact (n_ab = w, one self-join per dir ever); item
    // frequencies are one grouped pass over the deduplicated
    // (order, part) relation; the corpus size joins as a broadcast
    // 1-row aggregate; top-20 is a TakeOrdered merge. All factors
    // non-negative ⇒ one truncating division serves both engines.
    "q317_basket_lift" -> { (s, dir) =>
      wpairsCache.withArtifact(s, dir) { wpairs =>
        val lp = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val itemN = lp.groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n_item"))
        wpairs.filter(col("w") >= 3)
          .join(itemN.select(col("l_partkey").as("a"),
            col("n_item").as("n_a")), "a")
          .join(itemN.select(col("l_partkey").as("b"),
            col("n_item").as("n_b")), "b")
          .crossJoin(broadcast(lp.select(
            countDistinct(col("l_orderkey")).as("n_orders"))))
          .select(col("a").cast("long").as("part_a"),
            col("b").cast("long").as("part_b"),
            col("w").as("n_ab"), col("n_a"), col("n_b"),
            col("n_orders"),
            expr("""CAST(CAST(w AS DECIMAL(38,0)) * n_orders * 1000000
                    div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)""")
              .as("lift_e6"))
          .orderBy(col("lift_e6").desc, col("part_a"), col("part_b"))
          .limit(20)
          .auditedCut("q317_basket_lift")
      }
    },

    // Cold-start coverage of the co-purchase graph: per brand, how
    // much of the catalog is ISOLATED (in no co-purchase pair at all —
    // outside every graph query's universe)? The recommender-serving
    // diagnostic for the whole q251/q264 family: a part absent from
    // the pairs relation can never receive rank, labels, or
    // link-prediction scores, so this ppm is exactly the fraction of
    // catalog needing a non-graph fallback. One left join of the part
    // dim against the STORED pairs artifact's node set, one grouped
    // conditional count — brand-scale output.
    "q324_isolated_parts" -> { (s, dir) =>
      pairsCache.withArtifact(s, dir) { pairs =>
        val nodes = Graph.symmetrize(pairs)
          .select(col("src").as("node")).distinct()
        t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))
          .join(nodes, col("p_partkey") === col("node"), "left")
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_parts"),
            sum(when(col("node").isNull, 1L).otherwise(0L))
              .as("n_isolated"))
          .select(col("p_brand"), col("n_parts"), col("n_isolated"),
            expr("n_isolated * 1000000 div n_parts")
              .as("isolated_ppm"))
          .orderBy(col("p_brand"))
          .auditedCut("q324_isolated_parts")
      }
    },

    // K-TRUSS PEEL trajectory (k = 4, 3 fixed rounds): the iterative
    // support-recompute peel q303's static histogram can only bound —
    // dropping an edge erodes its neighbors' triangles, so the
    // histogram's cumulative read-off OVERSTATES the true truss and
    // only the peel converges on it. Each round is one degree-ordered
    // triangle enumeration (O(E^1.5) wedges) over a shrinking edge
    // set; the trajectory itself is `rounds` rows, bounded by
    // construction, cached per (dir, session) like every other graph
    // artifact. q303 stays the one-enumeration static view; this is
    // the dynamic one.
    "q326_truss_peel" -> { (s, dir) =>
      trussCache.withArtifact(s, dir)(traj =>
        traj.orderBy(col("round")).auditedCut("q326_truss_peel"))
    },

    // COMMUNITY SIZE PROFILE: the log2-banded size histogram of the
    // LPA partition — q268 lists the top communities and q275 scores
    // the partition; this answers the serving question neither does
    // (is the partition one giant component plus dust, or balanced?).
    // q313's bit-length banding discipline pointed at community sizes:
    // band = length(bin(size)) in both engines, member share in exact
    // ppm. Rides the STORED label artifact (the 4 LPA rounds never
    // re-run); everything after is community-scale then band-scale.
    "q338_community_size_profile" -> { (s, dir) =>
      labelsCache.withArtifact(s, dir) { case (labels, _) =>
        val bands = labels
          .groupBy(col("label")).agg(count(lit(1)).as("size"))
          .groupBy(length(bin(col("size"))).cast("long").as("band"))
          .agg(count(lit(1)).as("n_communities"),
            sum(col("size")).as("n_members"))
        bands
          .crossJoin(broadcast(
            bands.agg(sum(col("n_members")).as("n_nodes"))))
          .select(col("band"),
            expr("CAST(pow(2, band - 1) AS BIGINT)").as("floor_size"),
            col("n_communities"), col("n_members"),
            expr("n_members * 1000000 div n_nodes")
              .as("member_share_ppm"))
          .orderBy(col("band"))
          .auditedCut("q338_community_size_profile")
      }
    },

    // CLOSENESS centrality of the BRAND co-purchase graph — the
    // distance-based member of the centrality family (PageRank ranks
    // by mass flow, HITS by endorsement; closeness asks which brand
    // sits nearest to ALL others in co-basket hops). All-pairs BFS is
    // only sane on a DOMAIN-BOUNDED graph, so this runs at the ≤25-node
    // BRAND grain (the q334 discipline — the part-grain graph would be
    // exactly the quadratic blow-up the plan audit rejects):
    // [[graft.operators.Graph.allPairsHopDistance]] over the distinct
    // brand adjacency, 6 fixed rounds (≥ the dense co-basket graph's
    // diameter; unreached pairs stay absent). Wasserman–Faust
    // normalization keeps disconnected components honest:
    // closeness = (r−1)²/((n−1)·Σd) in exact ppm, one truncating
    // division of non-negative integers.
    "q349_brand_closeness" -> { (s, dir) =>
      import s.implicits._
      // The co-purchase EDGE SET over a ≤64-value domain needs no
      // pair-scale relation at all: map each brand to a bit, bit_or
      // the per-order masks (both aggregates partial/map-side — the
      // shuffle carries one LONG per order), then one global
      // reach-vector aggregate `r_i = bit_or(mask WHERE bit i set)` —
      // r_i's bits are exactly the brands co-occurring with brand i.
      // The fact is scanned ONCE and nothing bigger than |orders|
      // longs ever moves; the r16 shape (distinct + order self-join +
      // distinct) shuffled ~12 pair rows per order before dedup.
      // Falls back to the set-explode derivation if the domain ever
      // outgrows a Long mask (the oracle pins the output either way).
      val brands = t(s, dir, "part").select(col("p_brand")).distinct()
        .collect().map(_.getString(0)).sorted
      val e =
        if (brands.length > 64) {
          t(s, dir, "lineitem")
            .join(broadcast(t(s, dir, "part")
                .select(col("p_partkey"), col("p_brand"))),
              col("l_partkey") === col("p_partkey"))
            .groupBy(col("l_orderkey"))
            .agg(collect_set(col("p_brand")).as("bs"))
            .select(explode(col("bs")).as("ba"), col("bs"))
            .select(col("ba"), explode(col("bs")).as("bb"))
            .filter(col("ba") =!= col("bb"))
            .select(col("ba").as("src"), col("bb").as("dst"))
            .distinct()
            .cut(true)
        } else {
          val bit: Map[String, Long] =
            brands.zipWithIndex.map { case (b, i) => b -> (1L << i) }.toMap
          def reachCol(i: Int): org.apache.spark.sql.Column =
            expr(s"bit_or(CASE WHEN (shiftright(om, $i) & 1) = 1 " +
              s"THEN om ELSE 0L END)").as(s"r$i")
          val reach = t(s, dir, "lineitem")
            .join(broadcast(t(s, dir, "part")
                .select(col("p_partkey"),
                  element_at(typedLit(bit), col("p_brand")).as("m"))),
              col("l_partkey") === col("p_partkey"))
            .groupBy(col("l_orderkey"))
            .agg(expr("bit_or(m)").as("om"))
            .agg(reachCol(0), brands.indices.drop(1).map(reachCol): _*)
            .collect()(0)
          val pairs = for {
            i <- brands.indices
            j <- brands.indices
            if i != j && ((reach.getLong(i) >> j) & 1L) == 1L
          } yield (brands(i), brands(j))
          pairs.toDF("src", "dst")
        }
      try {
        // FUSED BFS (r16 verdict ask): the brand node set is ≤25, so
        // the 6 distributed rounds were pure scheduler overhead — the
        // bounded variant gates on the measured node count (falls back
        // to the round-per-job loop above Graph.FusedBfsNodeLimit) and
        // runs the whole all-source BFS in one pass, bit-identical
        val dist = Graph.allPairsHopDistanceBounded(e, maxHops = 6)
        // n_nodes from the DISTANCE relation's own diagonal (every
        // node carries a hops-0 self row) — the relation is gate-proven
        // tiny (and on the fused path already driver-local), so the
        // diagonal count is a driver scalar, not a broadcast exchange
        val nNodes = dist.filter(col("hops") === 0L).count()
        try dist.groupBy(col("src").as("brand"))
          .agg(count(lit(1)).as("n_reachable"),
            sum(col("hops")).as("sum_hops"))
          .withColumn("n_nodes", lit(nNodes))
          .select(col("brand"), col("n_reachable"), col("sum_hops"),
            col("n_nodes"),
            expr("""CAST((n_reachable - 1) * (n_reachable - 1) * 1000000
                    div greatest((n_nodes - 1) * sum_hops, 1)
                    AS BIGINT)""").as("closeness_ppm"))
          .orderBy(col("brand"))
          .auditedCut("q349_brand_closeness")
        finally Graph.release(dist)
      } finally Graph.release(e)
    },

    // RICH-CLUB coefficient ladder: among parts of co-purchase degree
    // > k, what share of their possible pairings is actually an edge —
    // the "do the hubs trade with each other" topology probe (Colizza
    // et al. 2006), the subgraph-density complement to q299's
    // assortativity correlation. One node-scale degree aggregate, two
    // equi-joins decorating the pair relation with endpoint degrees,
    // then ONE conditional-aggregate pass covers the whole threshold
    // ladder — the pair space is never joined against itself. φ(k) =
    // 2·E_k / (N_k·(N_k−1)) in truncating ppm over non-negative
    // integers (floor ≡ trunc); the ladder relation is 4 rows.
    "q364_rich_club" -> { (s, dir) =>
      pairsCache.withArtifact(s, dir) { pairs =>
        val deg = Graph.symmetrize(pairs)
          .groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
          .cut(true)
        try {
          val degged = pairs
            .join(deg.select(col("node").as("a"), col("deg").as("deg_a")),
              "a")
            .join(deg.select(col("node").as("b"), col("deg").as("deg_b")),
              "b")
          val edgeAggs = RichClubKs.map(k =>
            sum(when(col("deg_a") > k && col("deg_b") > k, 1L)
              .otherwise(0L)).as(s"e$k"))
          val nodeAggs = RichClubKs.map(k =>
            sum(when(col("deg") > k, 1L).otherwise(0L)).as(s"n$k"))
          val edges1 = degged.agg(edgeAggs.head, edgeAggs.tail: _*)
          val nodes1 = deg.agg(nodeAggs.head, nodeAggs.tail: _*)
          val flat = edges1.crossJoin(nodes1)
          RichClubKs.map { k =>
            flat.select(lit(k).as("k"),
              col(s"n$k").as("n_rich_nodes"),
              col(s"e$k").as("n_rich_edges"),
              expr(s"""CAST(CAST(e$k AS DECIMAL(38,0)) * 2000000
                      div greatest(CAST(n$k AS DECIMAL(38,0))
                        * (n$k - 1), 1) AS BIGINT)""").as("phi_ppm"))
          }.reduce(_ unionByName _)
            .orderBy(col("k"))
            .auditedCut("q364_rich_club")
        } finally Graph.release(deg)
      }
    },

    // RECOMMENDER HOLDOUT EVALUATION: split orders 80/20 by key, build
    // top-3 co-purchase recommendations from the TRAIN weighted pairs
    // (rank ≤ 3 per part lowers to WindowGroupLimit — map-side
    // per-group top-k, no global sort), then score against the TEST
    // co-purchases: a held-out pair is a hit when either endpoint
    // recommends the other — the end-to-end eval loop (split → train →
    // serve → measure) every related-items pipeline runs, composed
    // from the engine's own operators. Scoring is two equi-joins of
    // the test pairs against the rec relation; hit rate in truncating
    // ppm over non-negative integers.
    "q366_recsys_holdout" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // r18: the split PARTITIONS the orders, so per-pair train/test
      // counts COMPOSE — w_train(a,b) = w_all(a,b) − w_test(a,b).
      // w_all is the suite-shared weighted pairs artifact
      // ([[wpairsCache]], the q272/q273/q276 relation), and w_test
      // needs a self-join over ONLY the ~20% test orders — so the
      // full-fact self-join this query ran per call (its dominant
      // cost; r17 had already fused two of them into one, this removes
      // that one too — guide §1.2 "don't compute things you throw
      // away", §2.3 "shuffle fewer bytes") becomes a pair-scale left
      // join against a 1/5-scale self-join. Every co-occurring pair is
      // in w_all by construction (train ∪ test = all orders), so the
      // pair SET is unchanged; w and in_test are the same integer
      // counts — results bit-identical (GraphSpec's brute-force
      // holdout pin re-proves it).
      // in-row pair expansion (the q334 shape): one shuffle builds the
      // per-test-order SORTED item set, and C(items, 2) pairs are
      // enumerated inside the row — the order-keyed self-join's two
      // sorted exchanges are gone (§2.4); sorted + distinct set ⟹
      // exactly the a < b pairs the join filter kept.
      // The set relation is EXPLICITLY spread to defaultParallelism
      // before the explode: AQE rightly coalesces the tiny compact-set
      // shuffle to one partition, but the downstream expansion is
      // pair-scale with UNBOUNDED (part, part) group cardinality — at
      // the ×32 scale probe the single-task partial hash aggregate
      // OOM'd. An explicit partition count on a keyed repartition is
      // exempt from AQE coalescing, so expansion + partial agg stay
      // parallel at every scale (§2.5 input skew; measured: the probe
      // completes and the local median is unchanged).
      val wtest = t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(5)) === 0)
        .select(col("l_orderkey").as("g"), col("l_partkey").as("item"))
        .groupBy(col("g"))
        .agg(sort_array(collect_set(col("item"))).as("items"))
        .repartition(s.sparkContext.defaultParallelism, col("g"))
        .select(explode(expr(
          """flatten(transform(items, (x, i) ->
               transform(slice(items, i + 2, size(items)),
                 y -> struct(x AS a, y AS b))))""")).as("p"))
        .select(col("p.a"), col("p.b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("w_test"))
      val both = wpairsCache.withArtifact(s, dir) { wpairs =>
        wpairs.select(col("a"), col("b"), col("w").as("w_all"))
          .join(wtest, Seq("a", "b"), "left_outer")
          .select(col("a"), col("b"),
            (col("w_all") - coalesce(col("w_test"), lit(0L))).as("w"),
            col("w_test").isNotNull.as("in_test"))
          .cut(true)
      }
      val wtrain = both.filter(col("w") >= 1L)
        .select(col("a"), col("b"), col("w"))
      try {
        val testPairs = both.filter(col("in_test"))
          .select(col("a"), col("b"))
        locally {
          val wRec = Window.partitionBy(col("src"))
            .orderBy(col("w").desc, col("dst"))
          val recs = Graph.symmetrizeWeighted(wtrain)
            .withColumn("rk", row_number().over(wRec))
            .filter(col("rk") <= RecTopN)
            .select(col("src"), col("dst"))
          val scored = testPairs
            .join(recs.select(col("src").as("a"), col("dst").as("b"),
              lit(1L).as("h1")), Seq("a", "b"), "left_outer")
            .join(recs.select(col("dst").as("a"), col("src").as("b"),
              lit(1L).as("h2")), Seq("a", "b"), "left_outer")
            .agg(count(lit(1)).as("n_test_pairs"),
              sum(when(col("h1").isNotNull || col("h2").isNotNull, 1L)
                .otherwise(0L)).as("n_hits"))
          scored
            .crossJoin(broadcast(
              wtrain.agg(count(lit(1)).as("n_train_pairs"))))
            .select(col("n_train_pairs"), col("n_test_pairs"),
              col("n_hits"),
              expr("""CAST(n_hits * 1000000
                      div greatest(n_test_pairs, 1) AS BIGINT)""")
                .as("hit_rate_ppm"))
            .auditedCut("q366_recsys_holdout")
        }
      } finally Graph.release(both)
    },

    // EIGENVECTOR CENTRALITY: three UNDAMPED adjacency power rounds
    // over the co-purchase graph, max-normalized to e6 each round —
    // the prestige measure PageRank's damping and degree-division
    // deliberately distort (here a node is central iff its NEIGHBORS
    // are central, full stop); the suite's missing classical
    // centrality beside PageRank (q251), HITS (q295/q300) and
    // closeness (q349). Everything is non-negative from the all-ones
    // start, so truncating div ≡ floor across engines with no sign
    // split; contributions are DECIMAL(38)-lifted (deg_max · 1e6
    // overflows a long on hub-heavy graphs well before 100 TB). Each
    // round is one edge-scale join + keyed aggregate — the q251 scale
    // shape — and the oracle unrolls the identical three rounds.
    "q389_eigencentrality" -> { (s, dir) =>
      pairsCache.withArtifact(s, dir) { pairs =>
        val sym = Graph.symmetrize(pairs)
        // Each round is CUT (eager localCheckpoint) before the next one
        // reads it: the max-normalisation reads y twice (1-row max +
        // scaled output), so the uncut three-round nest replayed the
        // early edge joins combinatorially (3.5 s / 15 jobs at sf0.1;
        // with the cuts each edge join runs exactly once — the
        // Graph.iterate discipline; cutting only y and leaving the
        // normalised vector lazy measured WORSE, 4.7 s: the lazy
        // crossJoin wrecks the next join's size estimate and the
        // planner shuffles the edge side each round). The node-scale
        // vector is broadcast into the edge join under the measured
        // Graph.BroadcastNodeLimit gate (shuffle fallback above it),
        // and the per-edge sum takes the allocation-free BIGINT path
        // whenever the weightedPageRank-style bound proves it exact:
        // v ≤ 1e6 every round (max-normalised, non-negative), so
        // y ≤ 1e6·maxDeg and the normalisation product y·1e6 ≤
        // 1e12·maxDeg — long-safe iff maxDeg ≤ Long.Max/1e12 (~9.2e6;
        // above it the DECIMAL(38,0) lift stays). Same integer
        // arithmetic → bit-identical output.
        // ONE degree pass feeds all three loop inputs: the start vector
        // (deg's keys ≡ distinct sources), the broadcast gate (node
        // count) and the width guard (max degree) — not three separate
        // shuffles.
        val deg = sym.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("d"))
          .cut(true)
        try {
          val st = deg.agg(max(col("d")).as("mx"),
            count(lit(1)).as("n")).head()
          // max(d) is NULL on an empty edge relation (r17 advice): the
          // old pre-probe code returned an empty result there; guard so
          // the probe can't NPE on the degenerate graph
          val (maxDeg, nNodes) =
            (if (st.isNullAt(0)) 1L else st.getLong(0) max 1L,
              st.getLong(1))
          val small = nNodes <= Graph.BroadcastNodeLimit
          val x0 = deg.select(col("node"), lit(1000000L).as("v"))
          val sumCol =
            if (maxDeg <= Long.MaxValue / 1000000000000L) sum(col("v"))
            else sum(expr("CAST(v AS DECIMAL(38,0))"))
          def step(x: DataFrame): DataFrame = {
            val xs = x.select(col("node").as("dst"), col("v"))
            val y = sym
              .join(if (small) broadcast(xs) else xs, "dst")
              .groupBy(col("src").as("node"))
              .agg(sumCol.as("y"))
              .cut(true)
            try y.crossJoin(broadcast(y.agg(max(col("y")).as("mx"))))
              .select(col("node"),
                expr("CAST(y * 1000000 div mx AS BIGINT)").as("v"))
              .cut(true)
            finally Graph.release(y) // next round reads the cut, not y
          }
          val x1 = step(x0)
          val x2 = try step(x1) finally Graph.release(x1)
          val x3 = try step(x2) finally Graph.release(x2)
          try x3
            .orderBy(col("v").desc, col("node"))
            .limit(20)
            .select(col("node").as("part_key"), col("v").as("eigen_e6"))
            .auditedCut("q389_eigencentrality")
          finally Graph.release(x3)
        } finally Graph.release(deg)
      }
    })

  /** One PageRank step as SQL: contributions by in-neighbor, damped. */
  private def stepSql(prev: String, cur: String): String =
    s"""$cur AS (SELECT n.node,
         150000 + (85 * COALESCE(s.s, 0)) // 100 AS r
       FROM nodes n LEFT JOIN (
         SELECT e.dst AS node, SUM(p.r // e.outdeg) AS s
         FROM edges e JOIN $prev p ON e.src = p.node
         GROUP BY 1) s ON n.node = s.node)"""

  /** One personalized step: restart mass on seeds only. */
  private def pprStepSql(prev: String, cur: String): String =
    s"""$cur AS (SELECT n.node,
         (CASE WHEN n.is_seed THEN 150000 ELSE 0 END) +
           (85 * COALESCE(s.s, 0)) // 100 AS r
       FROM nd n LEFT JOIN (
         SELECT e.dst AS node, SUM(p.r // e.outdeg) AS s
         FROM edges e JOIN $prev p ON e.src = p.node
         GROUP BY 1) s ON n.node = s.node)"""

  /** The shared WEIGHTED pair CTEs, mirroring
    * `Graph.weightedCanonicalPairs`: `(group, item)` deduplicated
    * BEFORE the self-join, so w counts DISTINCT co-occurring orders —
    * an item repeated within one order contributes 1, not k. */
  private val WPairsCtes =
    """gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
           FROM lineitem),
       wpairs AS (SELECT la.item AS a, lb.item AS b, COUNT(*) AS w
         FROM gi la JOIN gi lb
           ON la.g = lb.g AND la.item < lb.item
         GROUP BY 1, 2)"""

  /** The shared co-purchase graph CTEs (canonical pairs → symmetrised
    * edges with out-degrees). */
  private val GraphCtes =
    """pairs AS (SELECT DISTINCT la.l_partkey AS a,
           lb.l_partkey AS b
         FROM lineitem la JOIN lineitem lb
           ON la.l_orderkey = lb.l_orderkey
          AND la.l_partkey < lb.l_partkey),
       sym AS (SELECT a AS src, b AS dst FROM pairs
         UNION ALL SELECT b, a FROM pairs),
       deg AS (SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY 1),
       edges AS (SELECT s.src, s.dst, d.outdeg
         FROM sym s JOIN deg d ON s.src = d.src),
       nodes AS (SELECT src AS node FROM deg)"""

  /** The shared degree-ordered TRIANGLE-ENUMERATION CTEs (q302/q303),
    * composing after [[GraphCtes]]: edges oriented from their
    * (deg, node)-smaller endpoint, wedges at the oriented out-edges,
    * `closed` = wedges whose (v, w) closing edge exists. ONE
    * definition so the two oracles' enumeration can never
    * desynchronize — the spec pins Σsupport = 3·triangles ACROSS
    * them. */
  private val TriCtes = triEnumSql("pairs", "")

  /** The degree-ordered closed-wedge enumeration over edge relation
    * `$e`, as CTEs suffixed `$sfx`: `tdeg` (full degrees of $e),
    * `oriented` (each edge from its (deg, node)-smaller endpoint),
    * `wedges`, `closing`, `closed`. ONE generator under [[TriCtes]]
    * (the static q302/q303 enumeration) AND every [[trussRoundSql]]
    * round, so the two can never desynchronize — the r15 review
    * caught the peel hand-rolling a third copy. */
  private def triEnumSql(e: String, sfx: String): String =
    s"""tdeg$sfx AS MATERIALIZED (SELECT node, COUNT(*) AS dg FROM (
           SELECT a AS node FROM $e UNION ALL SELECT b FROM $e)
         GROUP BY 1),
       oriented$sfx AS MATERIALIZED (SELECT
           CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND $e.a < $e.b)
             THEN $e.a ELSE $e.b END AS src,
           CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND $e.a < $e.b)
             THEN $e.b ELSE $e.a END AS dst
         FROM $e
         JOIN tdeg$sfx da ON $e.a = da.node
         JOIN tdeg$sfx db ON $e.b = db.node),
       wedges$sfx AS (SELECT w1.src AS u, w1.dst AS v, w2.dst AS w
         FROM oriented$sfx w1 JOIN oriented$sfx w2
           ON w1.src = w2.src
         WHERE w1.dst < w2.dst),
       closing$sfx AS (SELECT src AS v, dst AS w FROM oriented$sfx
         UNION ALL SELECT dst AS v, src AS w FROM oriented$sfx),
       closed$sfx AS (SELECT u, v, w
         FROM wedges$sfx JOIN closing$sfx USING (v, w))"""

  /** The shared per-edge SUPPORT CTEs (q303/q306/q307), composing after
    * [[TriCtes]]: each closed wedge credits its three edges once in
    * canonical (min, max) form; `es` is every canonical pair with its
    * support, zero-support edges included — the SQL face of
    * [[supportCache]]. ONE definition so the support consumers can
    * never desynchronize from the enumeration. */
  private val SupportCtes =
    """credits AS (
         SELECT LEAST(u, v) AS a, GREATEST(u, v) AS b FROM closed
         UNION ALL
         SELECT LEAST(u, w), GREATEST(u, w) FROM closed
         UNION ALL
         SELECT v, w FROM closed),
       supp AS (SELECT a, b, COUNT(*) AS support
         FROM credits GROUP BY 1, 2),
       es AS (SELECT pairs.a, pairs.b,
           COALESCE(supp.support, 0) AS support
         FROM pairs LEFT JOIN supp USING (a, b))"""

  /** One label-propagation round as SQL: per-destination neighbour-label
    * frequencies, argmax by (count DESC, label ASC) — exactly the
    * engine's max(struct(cnt, −label)) tie-break. MATERIALIZED for the
    * same inline-expansion reason as the peel rounds. */
  private def lpaStepSql(prev: String, cur: String,
      sym: String = "sym"): String =
    s"""$cur AS MATERIALIZED (SELECT dst AS node, label FROM (
         SELECT f.dst, f.label,
           ROW_NUMBER() OVER (PARTITION BY f.dst
             ORDER BY f.cnt DESC, f.label) AS rk
         FROM (SELECT e.dst, l.label, COUNT(*) AS cnt
               FROM $sym e JOIN $prev l ON e.src = l.node
               GROUP BY e.dst, l.label) f)
       WHERE rk = 1)"""

  /** One multi-source BFS round as SQL: reached ∪ (frontier + 1),
    * MIN per node. */
  private def hopStepSql(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (SELECT node, MIN(h) AS h FROM (
         SELECT node, h FROM $prev
         UNION ALL
         SELECT e.dst AS node, p.h + 1 AS h
         FROM sym e JOIN $prev p ON e.src = p.node)
       GROUP BY node)"""

  /** One WEIGHTED label-propagation round as SQL: votes are SUM(w)
    * over `wsym` edges, same (votes DESC, label ASC) tie-break. */
  private def wLpaStepSql(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (SELECT dst AS node, label FROM (
         SELECT f.dst, f.label,
           ROW_NUMBER() OVER (PARTITION BY f.dst
             ORDER BY f.cnt DESC, f.label) AS rk
         FROM (SELECT e.dst, l.label, CAST(SUM(e.w) AS BIGINT) AS cnt
               FROM wsym e JOIN $prev l ON e.src = l.node
               GROUP BY e.dst, l.label) f)
       WHERE rk = 1)"""

  /** One WEIGHTED PageRank step as SQL: per-edge (rank·w) // wout in
    * HUGEINT — the engine's DECIMAL(38,0) lift — summed by destination. */
  private def wStepSql(prev: String, cur: String): String =
    s"""$cur AS (SELECT n.node,
         150000 + (85 * COALESCE(s.s, 0)) // 100 AS r
       FROM wnodes n LEFT JOIN (
         SELECT e.dst AS node,
           SUM(CAST((CAST(p.r AS HUGEINT) * e.w) // e.wout AS BIGINT))
             AS s
         FROM wedges e JOIN $prev p ON e.src = p.node
         GROUP BY 1) s ON n.node = s.node)"""

  /** One s-core (strength) peel round as SQL (s = 80): SUM(w)
    * strengths over the surviving weighted pairs, threshold, semi-join
    * both sides. Same MATERIALIZED discipline as the k-core rounds. */
  private def sPeelSql(prev: String, cur: String): String =
    s"""st_$cur AS MATERIALIZED (SELECT node,
           CAST(SUM(w) AS BIGINT) AS strength
         FROM (SELECT a AS node, w FROM $prev
               UNION ALL SELECT b, w FROM $prev) GROUP BY 1),
       k_$cur AS (SELECT node FROM st_$cur WHERE strength >= 80),
       $cur AS MATERIALIZED (SELECT p.a, p.b, p.w FROM $prev p
         JOIN k_$cur ka ON p.a = ka.node
         JOIN k_$cur kb ON p.b = kb.node)"""

  /** One k-core peel round as SQL (k = 4). MATERIALIZED is load-bearing:
    * DuckDB inlines plain CTEs per reference, and each round references
    * the previous one three times — six inlined rounds would expand the
    * base self-join 3⁶-fold (it exhausts file handles before memory). */
  private def peelSql(prev: String, cur: String): String =
    s"""d_$cur AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
         SELECT a AS node FROM $prev
         UNION ALL SELECT b FROM $prev) GROUP BY 1),
       k_$cur AS (SELECT node FROM d_$cur WHERE deg >= 4),
       $cur AS MATERIALIZED (SELECT p.a, p.b FROM $prev p
         JOIN k_$cur ka ON p.a = ka.node
         JOIN k_$cur kb ON p.b = kb.node)"""

  val oracles: Map[String, String] = Map(

    "q364_rich_club" ->
      s"""WITH $GraphCtes,
         rdeg AS (SELECT src AS node, outdeg AS deg FROM deg),
         dp AS (SELECT da.deg AS deg_a, db.deg AS deg_b
           FROM pairs p JOIN rdeg da ON p.a = da.node
                        JOIN rdeg db ON p.b = db.node),
         ks AS (SELECT CAST(unnest([${RichClubKs.mkString(", ")}])
           AS BIGINT) AS k),
         nn AS (SELECT k, COUNT(CASE WHEN deg > k THEN 1 END)
             AS n_nodes
           FROM rdeg CROSS JOIN ks GROUP BY k),
         ee AS (SELECT k, COUNT(CASE WHEN deg_a > k AND deg_b > k
             THEN 1 END) AS n_edges
           FROM dp CROSS JOIN ks GROUP BY k)
         SELECT k, n_nodes AS n_rich_nodes, n_edges AS n_rich_edges,
           CAST(CAST(n_edges AS HUGEINT) * 2000000
             // greatest(CAST(n_nodes AS HUGEINT) * (n_nodes - 1), 1)
             AS BIGINT) AS phi_ppm
         FROM nn JOIN ee USING (k) ORDER BY k""",

    "q366_recsys_holdout" ->
      s"""WITH tr AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
           FROM lineitem WHERE l_orderkey % 5 <> 0),
         te AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
           FROM lineitem WHERE l_orderkey % 5 = 0),
         wtr AS (SELECT la.item AS a, lb.item AS b, COUNT(*) AS w
           FROM tr la JOIN tr lb ON la.g = lb.g AND la.item < lb.item
           GROUP BY 1, 2),
         symw AS (SELECT a AS src, b AS dst, w FROM wtr
           UNION ALL SELECT b, a, w FROM wtr),
         recs AS (SELECT src, dst FROM (
             SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
               ORDER BY w DESC, dst) AS rk FROM symw)
           WHERE rk <= $RecTopN),
         tp AS (SELECT DISTINCT la.item AS a, lb.item AS b
           FROM te la JOIN te lb ON la.g = lb.g AND la.item < lb.item),
         h AS (SELECT CASE WHEN r1.src IS NOT NULL
               OR r2.src IS NOT NULL THEN 1 ELSE 0 END AS hit
           FROM tp t
           LEFT JOIN recs r1 ON r1.src = t.a AND r1.dst = t.b
           LEFT JOIN recs r2 ON r2.src = t.b AND r2.dst = t.a)
         SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM wtr)
             AS n_train_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_test_pairs,
           CAST(SUM(hit) AS BIGINT) AS n_hits,
           CAST(SUM(hit) * 1000000
             // greatest(COUNT(*), 1) AS BIGINT) AS hit_rate_ppm
         FROM h""",

    "q349_brand_closeness" ->
      """WITH RECURSIVE ob AS (SELECT DISTINCT l_orderkey AS o,
           p_brand AS b
         FROM lineitem JOIN part ON l_partkey = p_partkey),
         e AS (SELECT DISTINCT x.b AS a, y.b AS bb
           FROM ob x JOIN ob y ON x.o = y.o AND x.b <> y.b),
         walk(src, node, d) AS (
           SELECT a, a, 0 FROM (SELECT DISTINCT a FROM e) t
           UNION
           SELECT w.src, e.bb, w.d + 1 FROM walk w
           JOIN e ON w.node = e.a WHERE w.d < 6),
         dist AS (SELECT src, node, MIN(d) AS d FROM walk
           GROUP BY 1, 2),
         ag AS (SELECT src AS brand, COUNT(*) AS n_reachable,
             SUM(d) AS sum_hops FROM dist GROUP BY 1),
         nn AS (SELECT COUNT(DISTINCT a) AS n_nodes FROM e)
         SELECT brand, CAST(n_reachable AS BIGINT) AS n_reachable,
           CAST(sum_hops AS BIGINT) AS sum_hops,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST((n_reachable - 1) * (n_reachable - 1) * 1000000
             // GREATEST((n_nodes - 1) * sum_hops, 1) AS BIGINT)
             AS closeness_ppm
         FROM ag, nn ORDER BY brand""",

    "q266_copurchase_core" ->
      s"""WITH $GraphCtes,
         ${peelSql("pairs", "p1")},
         ${peelSql("p1", "p2")},
         ${peelSql("p2", "p3")},
         ${peelSql("p3", "p4")},
         ${peelSql("p4", "p5")},
         ${peelSql("p5", "p6")}
         SELECT node AS part_key, CAST(COUNT(*) AS BIGINT) AS degree
         FROM (SELECT a AS node FROM p6
               UNION ALL SELECT b FROM p6)
         GROUP BY node ORDER BY degree DESC, part_key LIMIT 50""",

    "q301_rich_club" ->
      s"""WITH $GraphCtes,
         ends AS (SELECT da.outdeg AS dx, db.outdeg AS dy
           FROM pairs
           JOIN deg da ON pairs.a = da.src
           JOIN deg db ON pairs.b = db.src),
         e AS (SELECT
             COALESCE(SUM(CASE WHEN dx > 4 AND dy > 4
               THEN 1 ELSE 0 END), 0) AS e4,
             COALESCE(SUM(CASE WHEN dx > 8 AND dy > 8
               THEN 1 ELSE 0 END), 0) AS e8,
             COALESCE(SUM(CASE WHEN dx > 16 AND dy > 16
               THEN 1 ELSE 0 END), 0) AS e16
           FROM ends),
         n AS (SELECT
             COALESCE(SUM(CASE WHEN outdeg > 4 THEN 1 ELSE 0 END), 0)
               AS n4,
             COALESCE(SUM(CASE WHEN outdeg > 8 THEN 1 ELSE 0 END), 0)
               AS n8,
             COALESCE(SUM(CASE WHEN outdeg > 16 THEN 1 ELSE 0 END), 0)
               AS n16
           FROM deg)
         SELECT CAST(n4 AS BIGINT) AS k4_nodes,
           CAST(e4 AS BIGINT) AS k4_edges,
           CAST(e4 * 2000000 // GREATEST(n4 * (n4 - 1), 1) AS BIGINT)
             AS k4_density_ppm,
           CAST(n8 AS BIGINT) AS k8_nodes,
           CAST(e8 AS BIGINT) AS k8_edges,
           CAST(e8 * 2000000 // GREATEST(n8 * (n8 - 1), 1) AS BIGINT)
             AS k8_density_ppm,
           CAST(n16 AS BIGINT) AS k16_nodes,
           CAST(e16 AS BIGINT) AS k16_edges,
           CAST(e16 * 2000000 // GREATEST(n16 * (n16 - 1), 1)
             AS BIGINT) AS k16_density_ppm
         FROM e CROSS JOIN n""",

    "q302_transitivity" ->
      s"""WITH $GraphCtes,
         $TriCtes,
         tri AS (SELECT COUNT(*) AS n_triangles FROM closed),
         stats AS (SELECT COUNT(*) AS n_nodes,
             CAST(COALESCE(SUM(outdeg) // 2, 0) AS BIGINT) AS n_edges,
             CAST(COALESCE(SUM(outdeg * (outdeg - 1) // 2), 0)
               AS BIGINT) AS n_wedges
           FROM deg)
         SELECT CAST(n_nodes AS BIGINT) AS n_nodes, n_edges, n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CAST(CAST(3 AS HUGEINT) * n_triangles * 1000000
             // GREATEST(n_wedges, 1) AS BIGINT) AS transitivity_ppm
         FROM stats CROSS JOIN tri""",

    "q303_truss_support" ->
      s"""WITH $GraphCtes,
         $TriCtes,
         $SupportCtes
         SELECT CAST(support AS BIGINT) AS support,
           CAST(COUNT(*) AS BIGINT) AS n_edges
         FROM es GROUP BY 1 ORDER BY support""",

    "q306_edge_clustering" ->
      s"""WITH $GraphCtes,
         $TriCtes,
         $SupportCtes,
         ds AS (SELECT es.a, es.b, es.support,
             LEAST(da.outdeg, db.outdeg) AS min_deg
           FROM es
           JOIN deg da ON es.a = da.src
           JOIN deg db ON es.b = db.src)
         SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(support AS BIGINT) AS support,
           CAST(min_deg AS BIGINT) AS min_deg,
           CAST(support * 1000000 // GREATEST(min_deg - 1, 1) AS BIGINT)
             AS ecc_ppm
         FROM ds ORDER BY ecc_ppm DESC, a, b LIMIT 20""",

    "q307_bridge_brand_mix" ->
      s"""WITH $GraphCtes,
         $TriCtes,
         $SupportCtes,
         lb AS (SELECT es.support,
             CASE WHEN pa.p_brand = pb.p_brand THEN 1 ELSE 0 END
               AS within
           FROM es
           JOIN part pa ON es.a = pa.p_partkey
           JOIN part pb ON es.b = pb.p_partkey),
         agg AS (SELECT
             SUM(CASE WHEN support = 0 AND within = 0 THEN 1 ELSE 0 END)
               AS bridge_cross,
             SUM(CASE WHEN support = 0 AND within = 1 THEN 1 ELSE 0 END)
               AS bridge_within,
             SUM(CASE WHEN support > 0 AND within = 0 THEN 1 ELSE 0 END)
               AS supported_cross,
             SUM(CASE WHEN support > 0 AND within = 1 THEN 1 ELSE 0 END)
               AS supported_within
           FROM lb)
         SELECT CAST(bridge_cross AS BIGINT) AS bridge_cross,
           CAST(bridge_within AS BIGINT) AS bridge_within,
           CAST(supported_cross AS BIGINT) AS supported_cross,
           CAST(supported_within AS BIGINT) AS supported_within,
           CAST(bridge_cross * 1000000
             // GREATEST(bridge_cross + bridge_within, 1) AS BIGINT)
             AS bridge_cross_ppm,
           CAST(supported_cross * 1000000
             // GREATEST(supported_cross + supported_within, 1)
             AS BIGINT) AS supported_cross_ppm
         FROM agg""",

    "q311_avg_neighbor_degree" ->
      s"""WITH $GraphCtes,
         ends AS (SELECT da.outdeg AS degree, db.outdeg AS nbr_deg
           FROM sym s
           JOIN deg da ON s.src = da.src
           JOIN deg db ON s.dst = db.src)
         SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_edge_ends,
           CAST(CAST(SUM(nbr_deg) AS HUGEINT) * 1000000 // COUNT(*)
             AS BIGINT) AS avg_nbr_deg_ppm
         FROM ends GROUP BY 1 ORDER BY degree""",

    "q313_degree_tail" ->
      s"""WITH $GraphCtes,
         bands AS (SELECT CAST(length(bin(outdeg)) AS BIGINT) AS band,
             COUNT(*) AS n_nodes
           FROM deg GROUP BY 1),
         c AS (SELECT band, n_nodes,
             SUM(n_nodes) OVER (ORDER BY band DESC) AS n_at_least_floor
           FROM bands),
         tot AS (SELECT SUM(n_nodes) AS n_total FROM bands)
         SELECT band, CAST(pow(2, band - 1) AS BIGINT) AS floor_deg,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_at_least_floor AS BIGINT) AS n_at_least_floor,
           CAST(n_at_least_floor * 1000000 // tot.n_total AS BIGINT)
             AS survival_ppm
         FROM c, tot ORDER BY band""",

    "q299_strength_assortativity" ->
      s"""WITH $WPairsCtes,
         wsym AS (SELECT a AS src, b AS dst, w FROM wpairs
           UNION ALL SELECT b, a, w FROM wpairs),
         st AS (SELECT src, CAST(SUM(w) AS HUGEINT) AS st
           FROM wsym GROUP BY 1),
         ends AS (SELECT CAST(s.w AS HUGEINT) AS w,
             d1.st AS dx, d2.st AS dy
           FROM wsym s
           JOIN st d1 ON s.src = d1.src
           JOIN st d2 ON s.dst = d2.src),
         agg AS (SELECT COUNT(*) AS m, SUM(w) AS h,
             SUM(w * dx * dy) AS sxy, SUM(w * dx) AS sx,
             SUM(w * dx * dx) AS sx2 FROM ends)
         SELECT CAST(m AS BIGINT) AS m_edges,
           CAST(h AS BIGINT) AS w_total,
           CAST(sxy AS BIGINT) AS sum_wxy,
           CAST(sx AS BIGINT) AS sum_wx,
           CAST(sx2 AS BIGINT) AS sum_wx2,
           CAST(CASE WHEN h * sxy - sx * sx >= 0
             THEN ((h * sxy - sx * sx) * 1000000)
               // GREATEST(h * sx2 - sx * sx, 1)
             ELSE -(((sx * sx - h * sxy) * 1000000)
               // GREATEST(h * sx2 - sx * sx, 1))
             END AS BIGINT) AS assort_ppm
         FROM agg""",

    "q300_hits_hubs" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         degp AS (SELECT p, COUNT(*) AS deg_p FROM e GROUP BY 1),
         a1 AS (SELECT p, CAST(deg_p AS HUGEINT) * 1000000 AS a
           FROM degp),
         a1n AS (SELECT p, CAST(a * 1000000
             // (SELECT MAX(a) FROM a1) AS BIGINT) AS an FROM a1),
         h1 AS (SELECT c, CAST(SUM(an) AS HUGEINT) AS h
           FROM e JOIN a1n USING (p) GROUP BY 1),
         h1n AS (SELECT c, CAST(h * 1000000
             // (SELECT MAX(h) FROM h1) AS BIGINT) AS hn FROM h1),
         a2 AS (SELECT p, CAST(SUM(hn) AS HUGEINT) AS a
           FROM e JOIN h1n USING (c) GROUP BY 1),
         a2n AS (SELECT p, CAST(a * 1000000
             // (SELECT MAX(a) FROM a2) AS BIGINT) AS an2 FROM a2),
         h2 AS (SELECT c, CAST(SUM(an2) AS HUGEINT) AS h,
             COUNT(*) AS n_parts
           FROM e JOIN a2n USING (p) GROUP BY 1)
         SELECT c AS cust_key,
           CAST(h * 1000000 // (SELECT MAX(h) FROM h2) AS BIGINT)
             AS hub_e6,
           CAST(n_parts AS BIGINT) AS n_parts
         FROM h2
         ORDER BY hub_e6 DESC, cust_key LIMIT 20""",

    "q295_hits_authorities" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         degp AS (SELECT p, COUNT(*) AS deg_p FROM e GROUP BY 1),
         a1 AS (SELECT p, CAST(deg_p AS HUGEINT) * 1000000 AS a
           FROM degp),
         a1n AS (SELECT p, CAST(a * 1000000
             // (SELECT MAX(a) FROM a1) AS BIGINT) AS an FROM a1),
         h1 AS (SELECT c, CAST(SUM(an) AS HUGEINT) AS h
           FROM e JOIN a1n USING (p) GROUP BY 1),
         h1n AS (SELECT c, CAST(h * 1000000
             // (SELECT MAX(h) FROM h1) AS BIGINT) AS hn FROM h1),
         a2 AS (SELECT p, CAST(SUM(hn) AS HUGEINT) AS a
           FROM e JOIN h1n USING (c) GROUP BY 1)
         SELECT a2.p AS part_key,
           CAST(a2.a * 1000000 // (SELECT MAX(a) FROM a2) AS BIGINT)
             AS auth_e6,
           CAST(degp.deg_p AS BIGINT) AS n_buyers
         FROM a2 JOIN degp ON a2.p = degp.p
         ORDER BY auth_e6 DESC, part_key LIMIT 20""",

    "q296_degree_assortativity" ->
      s"""WITH $GraphCtes,
         ends AS (SELECT CAST(d1.outdeg AS HUGEINT) AS dx,
             CAST(d2.outdeg AS HUGEINT) AS dy
           FROM sym s
           JOIN deg d1 ON s.src = d1.src
           JOIN deg d2 ON s.dst = d2.src),
         agg AS (SELECT COUNT(*) AS m, SUM(dx * dy) AS sxy,
             SUM(dx) AS sx, SUM(dx * dx) AS sx2 FROM ends)
         SELECT CAST(m AS BIGINT) AS m_edges,
           CAST(sxy AS BIGINT) AS sum_xy,
           CAST(sx AS BIGINT) AS sum_x,
           CAST(sx2 AS BIGINT) AS sum_x2,
           CAST(CASE WHEN m * sxy - sx * sx >= 0
             THEN ((m * sxy - sx * sx) * 1000000)
               // GREATEST(m * sx2 - sx * sx, 1)
             ELSE -(((sx * sx - m * sxy) * 1000000)
               // GREATEST(m * sx2 - sx * sx, 1))
             END AS BIGINT) AS assort_ppm
         FROM agg""",

    "q293_core_brand_profile" ->
      s"""WITH $GraphCtes,
         ${peelSql("pairs", "p1")},
         ${peelSql("p1", "p2")},
         ${peelSql("p2", "p3")},
         ${peelSql("p3", "p4")},
         ${peelSql("p4", "p5")},
         ${peelSql("p5", "p6")},
         core AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
           FROM (SELECT a AS node FROM p6
                 UNION ALL SELECT b FROM p6)
           GROUP BY node)
         SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_core_parts,
           CAST(MAX(degree) AS BIGINT) AS max_degree,
           CAST(SUM(degree) AS BIGINT) AS degree_sum
         FROM core JOIN part ON node = p_partkey
         GROUP BY p_brand
         ORDER BY n_core_parts DESC, p_brand""",

    "q294_core_overlap" ->
      s"""WITH $GraphCtes,
         ${peelSql("pairs", "p1")},
         ${peelSql("p1", "p2")},
         ${peelSql("p2", "p3")},
         ${peelSql("p3", "p4")},
         ${peelSql("p4", "p5")},
         ${peelSql("p5", "p6")},
         $WPairsCtes,
         ${sPeelSql("wpairs", "s1")},
         ${sPeelSql("s1", "s2")},
         ${sPeelSql("s2", "s3")},
         ${sPeelSql("s3", "s4")},
         ${sPeelSql("s4", "s5")},
         ${sPeelSql("s5", "s6")},
         kc AS (SELECT DISTINCT node FROM (
           SELECT a AS node FROM p6 UNION ALL SELECT b FROM p6)),
         sc AS (SELECT DISTINCT node FROM (
           SELECT a AS node FROM s6 UNION ALL SELECT b FROM s6))
         SELECT
           CAST(SUM(CASE WHEN kn IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kcore,
           CAST(SUM(CASE WHEN sn IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_score,
           CAST(SUM(CASE WHEN kn IS NOT NULL AND sn IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           CAST(SUM(CASE WHEN kn IS NOT NULL AND sn IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kcore_only,
           CAST(SUM(CASE WHEN kn IS NULL AND sn IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_score_only
         FROM (SELECT kc.node AS kn, sc.node AS sn
               FROM kc FULL OUTER JOIN sc ON kc.node = sc.node)""",

    "q251_pagerank" ->
      s"""WITH $GraphCtes,
         r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
         ${stepSql("r0", "r1")},
         ${stepSql("r1", "r2")},
         ${stepSql("r2", "r3")},
         ${stepSql("r3", "r4")},
         ${stepSql("r4", "r5")}
         SELECT node AS part_key, CAST(r AS BIGINT) AS rank_e6
         FROM r5 ORDER BY rank_e6 DESC, part_key LIMIT 20""",

    "q255_brand_modularity" ->
      s"""WITH $GraphCtes,
         m AS (SELECT COUNT(*) AS m FROM pairs),
         nd AS (SELECT node, COUNT(*) AS deg FROM (
             SELECT a AS node FROM pairs
             UNION ALL SELECT b FROM pairs) GROUP BY 1),
         db AS (SELECT p_brand, COUNT(*) AS n_parts,
             CAST(SUM(deg) AS BIGINT) AS degree_sum
           FROM nd JOIN part ON node = p_partkey GROUP BY 1),
         intra AS (SELECT pa.p_brand, COUNT(*) AS intra_pairs
           FROM pairs
           JOIN part pa ON a = pa.p_partkey
           JOIN part pb ON b = pb.p_partkey
           WHERE pa.p_brand = pb.p_brand GROUP BY 1)
         SELECT db.p_brand, db.n_parts, db.degree_sum,
           COALESCE(intra.intra_pairs, 0) AS intra_pairs,
           CAST(CAST(COALESCE(intra.intra_pairs, 0) AS HUGEINT)
               * 1000000 // CAST(m.m AS HUGEINT)
             - CAST(db.degree_sum AS HUGEINT)
               * CAST(db.degree_sum AS HUGEINT) * 1000000
               // (4 * CAST(m.m AS HUGEINT) * CAST(m.m AS HUGEINT))
             AS BIGINT) AS contrib_e6
         FROM db LEFT JOIN intra USING (p_brand) CROSS JOIN m
         ORDER BY p_brand""",

    "q264_dedup_centrality" ->
      s"""WITH ${PipelineQueries.shingleCte},
         ${PipelineQueries.minhashSigSql}, ${PipelineQueries.bandSql},
         pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM bands x JOIN bands y USING (band, band_key)
           WHERE x.doc_id < y.doc_id),
         sym AS (SELECT a AS src, b AS dst FROM pairs
           UNION ALL SELECT b, a FROM pairs),
         deg AS (SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY 1),
         edges AS (SELECT s.src, s.dst, d.outdeg
           FROM sym s JOIN deg d ON s.src = d.src),
         nodes AS (SELECT src AS node FROM deg),
         r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
         ${stepSql("r0", "r1")},
         ${stepSql("r1", "r2")},
         ${stepSql("r2", "r3")},
         ${stepSql("r3", "r4")},
         ${stepSql("r4", "r5")}
         SELECT node AS doc_id, CAST(r AS BIGINT) AS rank_e6
         FROM r5 ORDER BY rank_e6 DESC, doc_id LIMIT 20""",

    "q256_related_parts" ->
      s"""WITH $GraphCtes,
         seeds AS (SELECT p_partkey AS node FROM part
           WHERE p_brand = (SELECT min(p_brand) FROM part)),
         nd AS (SELECT n.node, (s.node IS NOT NULL) AS is_seed
           FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
         r0 AS (SELECT node,
             CAST(CASE WHEN is_seed THEN 1000000 ELSE 0 END AS BIGINT)
               AS r
           FROM nd),
         ${pprStepSql("r0", "r1")},
         ${pprStepSql("r1", "r2")},
         ${pprStepSql("r2", "r3")},
         ${pprStepSql("r3", "r4")},
         ${pprStepSql("r4", "r5")}
         SELECT p.node AS part_key, pt.p_brand,
           CAST(p.r AS BIGINT) AS rank_e6
         FROM r5 p JOIN part pt ON p.node = pt.p_partkey
         WHERE pt.p_brand <> (SELECT min(p_brand) FROM part)
           AND p.r > 0
         ORDER BY rank_e6 DESC, part_key LIMIT 20""",

    "q268_copurchase_communities" ->
      s"""WITH $GraphCtes,
         l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
         ${lpaStepSql("l0", "l1")},
         ${lpaStepSql("l1", "l2")},
         ${lpaStepSql("l2", "l3")},
         ${lpaStepSql("l3", "l4")}
         SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(node) AS min_member, MAX(node) AS max_member
         FROM l4 GROUP BY label HAVING COUNT(*) >= 3
         ORDER BY n_members DESC, community LIMIT 30""",

    "q272_weighted_copurchase_rank" ->
      s"""WITH $WPairsCtes,
         wsym AS (SELECT a AS src, b AS dst, w FROM wpairs
           UNION ALL SELECT b, a, w FROM wpairs),
         wdeg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout
           FROM wsym GROUP BY 1),
         wedges AS (SELECT s.src, s.dst, s.w, d.wout
           FROM wsym s JOIN wdeg d ON s.src = d.src),
         wnodes AS (SELECT src AS node FROM wdeg),
         r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM wnodes),
         ${wStepSql("r0", "r1")},
         ${wStepSql("r1", "r2")},
         ${wStepSql("r2", "r3")},
         ${wStepSql("r3", "r4")},
         ${wStepSql("r4", "r5")}
         SELECT node AS part_key, CAST(r AS BIGINT) AS rank_e6
         FROM r5 ORDER BY rank_e6 DESC, part_key LIMIT 20""",

    "q276_copurchase_strength_core" ->
      s"""WITH $WPairsCtes,
         ${sPeelSql("wpairs", "s1")},
         ${sPeelSql("s1", "s2")},
         ${sPeelSql("s2", "s3")},
         ${sPeelSql("s3", "s4")},
         ${sPeelSql("s4", "s5")},
         ${sPeelSql("s5", "s6")}
         SELECT node AS part_key, CAST(SUM(w) AS BIGINT) AS strength
         FROM (SELECT a AS node, w FROM s6
               UNION ALL SELECT b, w FROM s6)
         GROUP BY node ORDER BY strength DESC, part_key LIMIT 50""",

    "q275_lpa_modularity" ->
      s"""WITH $GraphCtes,
         l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
         ${lpaStepSql("l0", "l1")},
         ${lpaStepSql("l1", "l2")},
         ${lpaStepSql("l2", "l3")},
         ${lpaStepSql("l3", "l4")},
         m AS (SELECT COUNT(*) AS m FROM pairs),
         nd AS (SELECT node, COUNT(*) AS deg FROM (
             SELECT a AS node FROM pairs
             UNION ALL SELECT b FROM pairs) GROUP BY 1),
         dc AS (SELECT l.label, COUNT(*) AS n_parts,
             CAST(SUM(nd.deg) AS BIGINT) AS degree_sum
           FROM nd JOIN l4 l ON nd.node = l.node GROUP BY 1),
         intra AS (SELECT la.label, COUNT(*) AS intra_pairs
           FROM pairs
           JOIN l4 la ON pairs.a = la.node
           JOIN l4 lb ON pairs.b = lb.node
           WHERE la.label = lb.label GROUP BY 1)
         SELECT dc.label AS community, dc.n_parts, dc.degree_sum,
           COALESCE(intra.intra_pairs, 0) AS intra_pairs,
           CAST(CAST(COALESCE(intra.intra_pairs, 0) AS HUGEINT)
               * 1000000 // CAST(m.m AS HUGEINT)
             - CAST(dc.degree_sum AS HUGEINT)
               * CAST(dc.degree_sum AS HUGEINT) * 1000000
               // (4 * CAST(m.m AS HUGEINT) * CAST(m.m AS HUGEINT))
             AS BIGINT) AS contrib_e6
         FROM dc LEFT JOIN intra USING (label) CROSS JOIN m
         ORDER BY contrib_e6 DESC, community LIMIT 20""",

    "q274_brand_hop_profile" ->
      s"""WITH $GraphCtes,
         seeds AS (SELECT p_partkey AS node FROM part
           WHERE p_brand = (SELECT min(p_brand) FROM part)),
         d0 AS MATERIALIZED (SELECT DISTINCT s.node,
             CAST(0 AS BIGINT) AS h
           FROM seeds s JOIN nodes n ON s.node = n.node),
         ${hopStepSql("d0", "d1")},
         ${hopStepSql("d1", "d2")},
         ${hopStepSql("d2", "d3")},
         ${hopStepSql("d3", "d4")}
         SELECT h AS hops, CAST(COUNT(*) AS BIGINT) AS n_parts
         FROM d4 GROUP BY h ORDER BY hops""",

    "q273_weighted_communities" ->
      s"""WITH $WPairsCtes,
         wsym AS (SELECT a AS src, b AS dst, w FROM wpairs
           UNION ALL SELECT b, a, w FROM wpairs),
         l0 AS MATERIALIZED (SELECT DISTINCT src AS node,
           src AS label FROM wsym),
         ${wLpaStepSql("l0", "l1")},
         ${wLpaStepSql("l1", "l2")},
         ${wLpaStepSql("l2", "l3")},
         ${wLpaStepSql("l3", "l4")}
         SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(node) AS min_member, MAX(node) AS max_member
         FROM l4 GROUP BY label HAVING COUNT(*) >= 3
         ORDER BY n_members DESC, community LIMIT 30""",

    "q288_neighbor_jaccard" ->
      s"""WITH $GraphCtes,
         seeds AS (SELECT p_partkey AS node FROM part
           WHERE p_brand = (SELECT min(p_brand) FROM part)),
         common AS (SELECT ex.dst AS x, ey.dst AS y, COUNT(*) AS common
           FROM sym ex
           JOIN seeds s ON ex.dst = s.node
           JOIN sym ey ON ex.src = ey.src AND ex.dst <> ey.dst
           GROUP BY 1, 2)
         SELECT c.x AS seed_part, c.y AS counterpart,
           CAST(common AS BIGINT) AS common_neighbors,
           CAST(dx.outdeg AS BIGINT) AS deg_x,
           CAST(dy.outdeg AS BIGINT) AS deg_y,
           CAST(CAST(common AS HUGEINT) * 1000000
             // (dx.outdeg + dy.outdeg - common) AS BIGINT) AS jaccard_ppm
         FROM common c
         JOIN deg dx ON c.x = dx.src
         JOIN deg dy ON c.y = dy.src
         ORDER BY jaccard_ppm DESC, seed_part, counterpart LIMIT 20""",

    "q291_resource_allocation" ->
      s"""WITH $GraphCtes,
         seeds AS (SELECT p_partkey AS node FROM part
           WHERE p_brand = (SELECT min(p_brand) FROM part))
         SELECT c.x AS seed_part, c.y AS counterpart,
           CAST(common AS BIGINT) AS common_neighbors,
           CAST(ra_e6 AS BIGINT) AS ra_e6
         FROM (SELECT ex.dst AS x, ey.dst AS y, COUNT(*) AS common,
             SUM(1000000 // d.outdeg) AS ra_e6
           FROM sym ex
           JOIN seeds s ON ex.dst = s.node
           JOIN sym ey ON ex.src = ey.src AND ex.dst <> ey.dst
           JOIN deg d ON ex.src = d.src
           GROUP BY 1, 2) c
         ORDER BY ra_e6 DESC, seed_part, counterpart LIMIT 20""",

    "q287_weighted_modularity" ->
      s"""WITH $WPairsCtes,
         wsym AS (SELECT a AS src, b AS dst, w FROM wpairs
           UNION ALL SELECT b, a, w FROM wpairs),
         l0 AS MATERIALIZED (SELECT DISTINCT src AS node,
           src AS label FROM wsym),
         ${wLpaStepSql("l0", "l1")},
         ${wLpaStepSql("l1", "l2")},
         ${wLpaStepSql("l2", "l3")},
         ${wLpaStepSql("l3", "l4")},
         wtot AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM wpairs),
         st AS (SELECT node, CAST(SUM(w) AS BIGINT) AS deg FROM (
             SELECT a AS node, w FROM wpairs
             UNION ALL SELECT b, w FROM wpairs) GROUP BY 1),
         dc AS (SELECT l.label, COUNT(*) AS n_parts,
             CAST(SUM(st.deg) AS BIGINT) AS strength_sum
           FROM st JOIN l4 l ON st.node = l.node GROUP BY 1),
         intra AS (SELECT la.label,
             CAST(SUM(wpairs.w) AS BIGINT) AS intra_w
           FROM wpairs
           JOIN l4 la ON wpairs.a = la.node
           JOIN l4 lb ON wpairs.b = lb.node
           WHERE la.label = lb.label GROUP BY 1)
         SELECT dc.label AS community, dc.n_parts, dc.strength_sum,
           COALESCE(intra.intra_w, 0) AS intra_w,
           CAST(CAST(COALESCE(intra.intra_w, 0) AS HUGEINT)
               * 1000000 // CAST(wtot.m AS HUGEINT)
             - CAST(dc.strength_sum AS HUGEINT)
               * CAST(dc.strength_sum AS HUGEINT) * 1000000
               // (4 * CAST(wtot.m AS HUGEINT) * CAST(wtot.m AS HUGEINT))
             AS BIGINT) AS contrib_e6
         FROM dc LEFT JOIN intra USING (label) CROSS JOIN wtot
         ORDER BY contrib_e6 DESC, community LIMIT 20""",

    "q271_dedup_communities" ->
      s"""WITH ${PipelineQueries.shingleCte},
         ${PipelineQueries.minhashSigSql}, ${PipelineQueries.bandSql},
         pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM bands x JOIN bands y USING (band, band_key)
           WHERE x.doc_id < y.doc_id),
         sym AS (SELECT a AS src, b AS dst FROM pairs
           UNION ALL SELECT b, a FROM pairs),
         l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label
           FROM sym),
         ${lpaStepSql("l0", "l1")},
         ${lpaStepSql("l1", "l2")},
         ${lpaStepSql("l2", "l3")},
         ${lpaStepSql("l3", "l4")}
         SELECT label AS family, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(node) AS min_doc, MAX(node) AS max_doc
         FROM l4 GROUP BY label HAVING COUNT(*) >= 2
         ORDER BY n_docs DESC, family LIMIT 40""",

    "q277_lpa_convergence" ->
      s"""WITH $GraphCtes,
         l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
         ${lpaStepSql("l0", "l1")},
         ${lpaStepSql("l1", "l2")},
         ${lpaStepSql("l2", "l3")},
         ${lpaStepSql("l3", "l4")}
         SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(COALESCE(SUM(CASE WHEN r.label = p.label
             THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_stable,
           CAST(COALESCE(SUM(CASE WHEN r.label = pp.label
             AND r.label <> p.label THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_oscillating,
           CAST(CASE WHEN COUNT(*) = COALESCE(SUM(CASE WHEN
             r.label = p.label THEN 1 ELSE 0 END), 0)
             THEN 1 ELSE 0 END AS BIGINT) AS converged
         FROM l4 r JOIN l3 p ON r.node = p.node
           JOIN l2 pp ON r.node = pp.node""",

    "q282_community_drift" -> {
      /* one year-restricted co-shipment graph: canonical pairs where
       * BOTH lines shipped in the year, symmetrised, plus the identity
       * labelling — suffix keeps the two graphs' CTEs apart */
      def yearCtes(sfx: String, year: Int): String =
        s"""pairs$sfx AS MATERIALIZED (SELECT DISTINCT
             la.l_partkey AS a, lb.l_partkey AS b
           FROM lineitem la JOIN lineitem lb
             ON la.l_orderkey = lb.l_orderkey
            AND la.l_partkey < lb.l_partkey
           WHERE year(la.l_shipdate) = $year
             AND year(lb.l_shipdate) = $year),
         sym$sfx AS (SELECT a AS src, b AS dst FROM pairs$sfx
           UNION ALL SELECT b, a FROM pairs$sfx),
         l0$sfx AS MATERIALIZED (SELECT DISTINCT src AS node,
           src AS label FROM sym$sfx)"""
      def rounds(sfx: String): String =
        (1 to 4).map(i =>
          lpaStepSql(s"l${i - 1}$sfx", s"l$i$sfx", s"sym$sfx"))
          .mkString(",\n         ")
      s"""WITH ${yearCtes("x", 1996)},
         ${rounds("x")},
         ${yearCtes("y", 1997)},
         ${rounds("y")},
         j AS (SELECT a.node, a.label AS la2, b.label AS lb2
           FROM l4x a JOIN l4y b ON a.node = b.node),
         cont AS MATERIALIZED (SELECT la2, lb2, COUNT(*) AS nij
           FROM j GROUP BY 1, 2),
         st AS (SELECT CAST(SUM(nij) AS BIGINT) AS n_nodes,
             CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS s_nij
           FROM cont),
         am AS (SELECT la2, SUM(nij) AS ai FROM cont GROUP BY 1),
         sa AS (SELECT CAST(SUM(ai * (ai - 1) // 2) AS BIGINT) AS s_a,
             COUNT(*) AS ka FROM am),
         bm AS (SELECT lb2, SUM(nij) AS bj FROM cont GROUP BY 1),
         sb AS (SELECT CAST(SUM(bj * (bj - 1) // 2) AS BIGINT) AS s_b,
             COUNT(*) AS kb FROM bm)
         SELECT n_nodes,
           CAST(ka AS BIGINT) AS n_comm_1996,
           CAST(kb AS BIGINT) AS n_comm_1997,
           s_nij AS same_same_pairs,
           CAST(CAST(n_nodes * (n_nodes - 1) // 2
               + 2 * s_nij - s_a - s_b AS HUGEINT)
             * 1000000
             // GREATEST(n_nodes * (n_nodes - 1) // 2, 1) AS BIGINT)
             AS rand_ppm
         FROM st, sa, sb"""
    },

    "q317_basket_lift" ->
      s"""WITH $WPairsCtes,
         it AS (SELECT item, COUNT(*) AS n_item FROM gi GROUP BY 1),
         tot AS (SELECT COUNT(DISTINCT g) AS n_orders FROM gi)
         SELECT CAST(w.a AS BIGINT) AS part_a,
           CAST(w.b AS BIGINT) AS part_b,
           CAST(w.w AS BIGINT) AS n_ab,
           CAST(ia.n_item AS BIGINT) AS n_a,
           CAST(ib.n_item AS BIGINT) AS n_b,
           CAST(tot.n_orders AS BIGINT) AS n_orders,
           CAST(CAST(w.w AS HUGEINT) * tot.n_orders * 1000000
             // (CAST(ia.n_item AS HUGEINT) * ib.n_item) AS BIGINT)
             AS lift_e6
         FROM wpairs w
         JOIN it ia ON w.a = ia.item
         JOIN it ib ON w.b = ib.item, tot
         WHERE w.w >= 3
         ORDER BY lift_e6 DESC, part_a, part_b LIMIT 20""",

    "q324_isolated_parts" ->
      s"""WITH $GraphCtes
         SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN n.node IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_isolated,
           CAST(SUM(CASE WHEN n.node IS NULL THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT) AS isolated_ppm
         FROM part LEFT JOIN nodes n ON p_partkey = n.node
         GROUP BY 1 ORDER BY p_brand""",

    "q326_truss_peel" ->
      s"""WITH $GraphCtes,
         ${trussRoundSql("pairs", "t1")},
         ${trussRoundSql("t1", "t2")},
         ${trussRoundSql("t2", "t3")}
         SELECT CAST(r AS BIGINT) AS round,
           CAST(n_in AS BIGINT) AS n_edges_in,
           CAST(n_in - n_out AS BIGINT) AS n_dropped,
           CAST(n_out AS BIGINT) AS n_survivors
         FROM (VALUES
           (1, (SELECT COUNT(*) FROM pairs),
               (SELECT COUNT(*) FROM t1)),
           (2, (SELECT COUNT(*) FROM t1),
               (SELECT COUNT(*) FROM t2)),
           (3, (SELECT COUNT(*) FROM t2),
               (SELECT COUNT(*) FROM t3))) v(r, n_in, n_out)
         ORDER BY round""",

    "q338_community_size_profile" ->
      s"""WITH $GraphCtes,
         l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
         ${lpaStepSql("l0", "l1")},
         ${lpaStepSql("l1", "l2")},
         ${lpaStepSql("l2", "l3")},
         ${lpaStepSql("l3", "l4")},
         sizes AS (SELECT label, COUNT(*) AS sz FROM l4 GROUP BY 1),
         bands AS (SELECT CAST(length(bin(sz)) AS BIGINT) AS band,
             COUNT(*) AS n_communities,
             CAST(SUM(sz) AS BIGINT) AS n_members
           FROM sizes GROUP BY 1),
         tot AS (SELECT SUM(n_members) AS n_nodes FROM bands)
         SELECT band,
           CAST(POW(2, band - 1) AS BIGINT) AS floor_size,
           CAST(n_communities AS BIGINT) AS n_communities,
           n_members,
           CAST(n_members * 1000000 // n_nodes AS BIGINT)
             AS member_share_ppm
         FROM bands, tot ORDER BY band""",

    "q389_eigencentrality" -> {
      def round(k: Int): String =
        s"""e$k AS (SELECT s.src AS node, SUM(x.v) AS y
             FROM sym s JOIN x${k - 1} x ON s.dst = x.node GROUP BY 1),
           m$k AS (SELECT MAX(y) AS mx FROM e$k),
           x$k AS (SELECT node, y * 1000000 // mx AS v
             FROM e$k, m$k)"""
      s"""WITH $GraphCtes,
         x0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS v FROM nodes),
         ${round(1)}, ${round(2)}, ${round(3)}
         SELECT node AS part_key, CAST(v AS BIGINT) AS eigen_e6
         FROM x3 ORDER BY eigen_e6 DESC, part_key LIMIT 20"""
    })

  /** One k-truss peel round as SQL (k = [[TrussK]] ⇒ support ≥
    * k − 2): the SHARED degree-ordered enumeration ([[triEnumSql]],
    * suffixed per round) recounts support over the PREVIOUS round's
    * survivors, then the threshold — the SQL face of one
    * [[graft.operators.Graph.trussPeelTrajectory]] round.
    * MATERIALIZED for the same inline-expansion reason as the k-core
    * peel rounds. */
  private def trussRoundSql(prev: String, cur: String): String =
    s"""${triEnumSql(prev, s"_$cur")},
       sp_$cur AS MATERIALIZED (SELECT a, b, COUNT(*) AS s FROM (
           SELECT LEAST(u, v) AS a, GREATEST(u, v) AS b FROM closed_$cur
           UNION ALL SELECT LEAST(u, w), GREATEST(u, w) FROM closed_$cur
           UNION ALL SELECT v, w FROM closed_$cur) GROUP BY 1, 2),
       $cur AS MATERIALIZED (SELECT p.a, p.b FROM $prev p
         LEFT JOIN sp_$cur s USING (a, b)
         WHERE COALESCE(s.s, 0) >= ${TrussK - 2})"""
}
