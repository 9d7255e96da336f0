package graft.queries

import graft.Cut.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{DirCache, Tables}
import graft.operators.{Dedup, Graph, IvfIndex, Multimodal, Similarity,
  TextAnalysis}

/** LLM-pipeline operator queries (dedup / similarity / text analysis /
  * multimodal) with DuckDB oracles.
  *
  * The oracle SQL for signature-based operators (minhash, simhash, cosine)
  * is GENERATED here from the same parameters as the Spark implementation —
  * one source of truth for seeds/bands/dims, two engines executing it.
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** [[t]] + [[Tables.fanOut]] for queries whose heaviest per-row work
    * (shingling, n-gram explosion, regex projections) sits in the
    * pre-exchange scan stage of a single-split file (guide §2.5).
    * Applied SELECTIVELY on measurement: a blanket fan-out of every
    * fact read was tried and regressed the artifact-backed and
    * short queries (q115 1.4→2.0, q33 0.17→0.35 — the extra exchange
    * costs more than the idle cores there). */
  private def tf(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.fanOut(t(s, dir, name))

  val Dim = 64          // embeddings dimension (FIXTURES.md)
  val NumHashes = 16    // minhash signature length
  val Bands = 4         // LSH bands
  val JaccardThreshold = 0.5
  val CosineThreshold = 0.45
  val BucketDims: Seq[Int] = Seq(0, 1, 2, 3)
  /** Hot-shingle document-frequency cap for the capped Jaccard query. The
    * sf0.01 corpus tops out at df=7, so 3 genuinely exercises the cut. */
  val ShingleDocFreqCap = 3L
  /** KMV cardinality-sketch size (q152): the 64 smallest distinct 56-bit
    * content hashes per source. */
  val KmvK = 64
  /** Percentile set for the exact-quantile report (q153). */
  val QuantilePcts: Seq[Int] = Seq(25, 50, 75, 90, 99)
  /** IVF probe fan-out: centroid seeds, probed cells, result size. */
  val IvfSeedIds: Seq[Long] = Seq(1L, 2L, 3L, 4L)
  val IvfNprobe = 2
  val IvfK = 10
  /** PQ layout: 8 subspaces × 8 dims. [[PqSeedIds]] is the legacy
    * deterministic seed-pick scheme (kept for the trainer-comparison spec
    * and as the untrained-process oracle fallback); the ANN ladder proper
    * runs on KMEANS-TRAINED codebooks ([[PqModels]]). */
  val PqM = 16
  val PqK = 256
  val PqSeedIds: Seq[Long] = (1L to 8L)

  /** Trained PQ codebooks, one per (data dir, session): trained with
    * the per-subspace KMeans trainer, persisted via `saveModel`, and the
    * probe path re-loads the persisted artifact — the exact
    * train-once / probe-from-any-session shape a deployment uses. The
    * DuckDB oracle renders the most recently used codewords as SQL
    * literals at DUMP time (`Verify` runs every query before dumping
    * `oracle_sql.json`, so the cache is always populated when the oracle
    * is rendered). */
  object PqModels {
    import graft.operators.ProductQuantizer
    // driver-side model, no Spark storage: nothing to release
    private val trainedCache = new DirCache[String, ProductQuantizer.Model](
      (s, dir) => {
        val fresh = ProductQuantizer.trainKMeans(
          t(s, dir, "embeddings"), k = PqK, m = PqM, dim = Dim)
        val path = java.nio.file.Files
          .createTempDirectory("graft_pq_model_").toString
        ProductQuantizer.saveModel(s, fresh, path)
        ProductQuantizer.loadModel(s, path)
      }, _ => (), name = "pqTrained")
    /** The encoded PQ index for a data dir — built ONCE and cut, then
      * reused by every probe (q90/q91/q102/q110): the at-rest
      * `(id, codes)` relation is an index ARTIFACT like the trained
      * codebooks, not per-query work. At 100 TB this is the difference
      * between one index build and a full corpus re-encode per query. */
    private val encodedCache = new DirCache[String, DataFrame]((s, dir) =>
      trainedCache.withArtifact(s, dir)(m =>
        ProductQuantizer.encode(t(s, dir, "embeddings"), m).cut(true)),
      Graph.release, name = "pqEncoded")
    def trained(s: SparkSession, dir: String): ProductQuantizer.Model =
      trainedCache.get(s, dir)
    /** The model trained or read by the most recent query run, if any. */
    def current: Option[ProductQuantizer.Model] = trainedCache.mostRecent
    def encoded(s: SparkSession, dir: String): DataFrame =
      encodedCache.get(s, dir)
  }

  /** The `cb` CTE for the PQ oracles, resolved at RENDER time ([[oracles]]
    * is a def for exactly this): trained codewords pinned as literals when
    * a model exists — the normal Verify path, queries run before the dump
    * — else the deterministic seed-pick scheme (in that case no
    * trained-codebook query output exists to compare against either). */
  private def pqCbCte: String = {
    import graft.operators.ProductQuantizer.{Sql => PQ}
    PqModels.current
      .map(m => PQ.literalCodebookCte(m.codebookSeq))
      .getOrElse(PQ.codebookCte(PqSeedIds, PqM, Dim / PqM))
  }
  /** The NEAR-DUP CLUSTER ARTIFACT: the banded LSH candidate pairs and
    * their connected components, one per (data dir, session). Five
    * consumers (q65/q67/q131/q384/q387, plus the graph views q264/q271)
    * previously re-derived the same shingle→minhash→band→CC pipeline per
    * call (and per bench rep); now the first caller builds, everyone
    * else reads the checkpointed pair-scale pairs + node-scale labels.
    * The DuckDB oracles still derive both from scratch —
    * stored-vs-recomputed is unobservable in any result (deterministic
    * md5 signatures, min-label CC). */
  object CcArtifact {
    // r17 optimization round: the MINHASH SIGNATURE relation and the
    // EXACT-JACCARD pair relation (threshold 0 — every consumer's
    // threshold is a filter over it, since jaccardPairs only filters
    // after the inter/size math) are artifacts of their own. The
    // default-args signature→band→candidate pipeline appears verbatim
    // under ELEVEN queries (q28/q75/q98/q122/q132/q133/q141/q199/q368/
    // q381 + the graph-side docPairs) and the exact-jaccard join under
    // four (q27/q75/q359/q381) — each previously re-derived per call
    // AND per bench rep. First caller builds, results are bit-identical
    // by construction (deterministic md5 signatures, exact integer set
    // math), and every DuckDB oracle still derives the relation from
    // scratch.
    private val sigsCache = new DirCache[String, DataFrame]((s, dir) =>
      Dedup.minhashSignatures(tf(s, dir, "documents"), NumHashes).cut(true),
      Graph.release, name = "ccSigs")
    private val jacc0Cache = new DirCache[String, DataFrame]((s, dir) =>
      Dedup.jaccardPairs(tf(s, dir, "documents"), 0.0).cut(true),
      Graph.release, name = "ccJacc0")
    /** `(pairs, cc)`; the feeder signatures are pinned for the build. */
    private[graft] val cache = new DirCache[String, (DataFrame, DataFrame)](
      (s, dir) => sigsCache.withArtifact(s, dir) { sg =>
        val p = Dedup.lshCandidates(sg, NumHashes, Bands).cut(true)
        (p, Dedup.connectedComponents(p).cut(true))
      }, { case (p, c) => Graph.release(p); Graph.release(c) },
      name = "ccPairs")
    def sigs(s: SparkSession, dir: String): DataFrame = sigsCache.get(s, dir)
    def jacc0(s: SparkSession, dir: String): DataFrame =
      jacc0Cache.get(s, dir)
    def pairs(s: SparkSession, dir: String): DataFrame =
      pairsAndCc(s, dir)._1
    def pairsAndCc(s: SparkSession, dir: String): (DataFrame, DataFrame) =
      cache.get(s, dir)
  }

  /** The NB SELF-CLASSIFICATION COST artifact: the per-(doc, class)
    * integer-bits cost relation trained on the corpus's own source
    * labels, one per (data dir, session). Both confidence diagnostics
    * (q128's confusion matrix and q367's reliability diagram) read the
    * SAME costs by definition — previously each re-ran the train +
    * scoring join per call and per bench rep. The relation is docs ×
    * n_classes rows (node-scale). The DuckDB oracles still derive the
    * costs from scratch
    * ([[graft.operators.Classifier.selfClassifyOracleCtes]]) —
    * stored-vs-recomputed is unobservable in any result. */
  object NbArtifact {
    import graft.operators.Classifier
    private val cache = new DirCache[String, DataFrame]((s, dir) => {
      val docs = t(s, dir, "documents")
      Classifier.nbCosts(docs, Classifier.nbTrain(docs),
        Classifier.nbPriors(docs)).cut(true)
    }, Graph.release, name = "nbCosts")
    def costs(s: SparkSession, dir: String): DataFrame = cache.get(s, dir)
  }

  /** The BPE MERGE-LIST model store (the [[PqModels]] train-once
    * discipline): q119/q121/q127/q130 all train the identical
    * rounds=[[BpeRounds]] merge list on the corpus — the model is a
    * driver-side Seq of a few merges (nothing to release), trained once
    * per (data dir, session); every oracle still unrolls the training
    * rounds in SQL. */
  object BpeModels {
    import graft.operators.Bpe
    private[graft] val cache = new DirCache[String, Seq[Bpe.Merge]](
      (s, dir) => Bpe.train(t(s, dir, "documents"), rounds = BpeRounds),
      _ => (), name = "bpeTrained")
    def trained(s: SparkSession, dir: String): Seq[Bpe.Merge] =
      cache.get(s, dir)
  }

  /** Winnowing gram size / window size. */
  val WinnowK = 8
  val WinnowW = 8
  /** q104 probe-width sweep — the operating curve an IVF deployment tunes. */
  val IvfSweepNprobes: Seq[Int] = Seq(1, 2, 4)

  /** q100 non-ASCII injection: DECOMPOSED combining sequences (e +
    * U+0301 etc.) appended to every document, so `nfc_normalize` does
    * real work inside the composed pipeline — the corpus fixture itself
    * is ASCII, which previously made normalization an identity there
    * (q99 pins the NFC kernel; this pins its place in the composition).
    * chars_sum shifts by the 4 composed marks per doc, so an engine or
    * oracle that skipped/diverged on NFC hash-mismatches immediately. */
  val Q100Suffix = " cafe\u0301 nai\u0308ve re\u0301sume\u0301"
  /** Batch-probe query ids (disjoint from the seeds and the q49 query). */
  val BatchQueryIds: Seq[Long] = Seq(5L, 6L, 7L)

  /** q96 JSONL round-trip landing dir: per-process unique so concurrent
    * suite runs never clobber each other's interchange files. */
  private lazy val q96JsonlPath: String =
    java.nio.file.Files.createTempDirectory("graft_q96_jsonl_").toString

  /** q136 CSV round-trip landing dir (same per-process contract). */
  private lazy val q136CsvPath: String =
    java.nio.file.Files.createTempDirectory("graft_q136_csv_").toString

  /** q105 retrieval bag: 'dup' is the one rare term in the synthetic
    * vocabulary (df≈25 of 500 → 4 idf bits at sf0.01) against three
    * common ~df=390 terms (1 bit) — the ranking must surface docs heavy
    * in the rare term. */
  val TfIdfTerms: Seq[String] = Seq("dup", "vector", "merge", "window")
  val TfIdfK = 10

  /** q106 stratified-split recipe (cut fractions become exact ppm). */
  val StratFractions: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** q110 re-rank shortlist: 5× the served k — the true top-k must only
    * survive into the compressed top-50 for the exact pass to repair
    * ADC's ordering errors. */
  val PqRerankShortlist = 50

  /** q107's synthesized noisy URL: every component a pure function of
    * doc_id, mirrored term-for-term in the oracle SQL — collisions are by
    * construction (40 hosts × 5 paths over 500 docs). */
  private def q107Url: org.apache.spark.sql.Column = concat(
    when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
    when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
    lit("Site"), (col("doc_id") % 40).cast("string"), lit(".Example.com"),
    when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
    lit("/Docs/"), (col("doc_id") % 5).cast("string"),
    when(col("doc_id") % 6 === 0, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
        concat(lit("?utm_source=feed&page="),
          (col("doc_id") % 3).cast("string")))
      .when(col("doc_id") % 7 === 1,
        concat(lit("?page="), (col("doc_id") % 3).cast("string"),
          lit("&utm_campaign=x")))
      .otherwise(lit("")),
    when(col("doc_id") % 8 === 0, lit("#frag")).otherwise(lit("")))

  // ---------------------------------------------------------------- queries

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q26_dedup_exact" -> { (s, dir) =>
      Dedup.exact(t(s, dir, "documents"))
        .orderBy(col("exact_key"))
    },

    // reads the shared exact-jaccard artifact — jaccardPairs(th) IS
    // jaccardPairs(0) filtered on the final jaccard column
    "q27_dedup_jaccard" -> { (s, dir) =>
      CcArtifact.jacc0(s, dir)
        .filter(col("jaccard") >= JaccardThreshold)
        .orderBy(col("id_a"), col("id_b"))
    },

    "q28_dedup_minhash" -> { (s, dir) =>
      CcArtifact.pairs(s, dir)
        .orderBy(col("id_a"), col("id_b"))
    },

    // CROSS-SOURCE DUPLICATION MATRIX: the q28 banded near-dup pairs
    // rolled up to the (source, source) grain — who copies from whom,
    // the leakage read a curation pipeline takes BEFORE mixing sources
    // (a heavy off-diagonal cell means two "independent" sources share
    // provenance and their mixing weights double-count it; the diagonal
    // is within-source dup pressure). Pair generation stays banded
    // (never all-pairs); the rollup is two metadata-scale aggregates
    // over the near-duplicate-scale pair relation.
    "q368_cross_source_dup_matrix" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      val pairs = CcArtifact.pairs(s, dir)
        .join(src.select(col("doc_id").as("id_a"),
          col("source").as("sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"),
          col("source").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"),
          col("id_a"), col("id_b"))
        .cut(true) // feeds the pair count AND the doc count
      try {
        val nPairs = pairs.groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
        val nDocs = pairs
          .select(col("source_a"), col("source_b"),
            col("id_a").as("doc_id"))
          .unionByName(pairs.select(col("source_a"), col("source_b"),
            col("id_b").as("doc_id")))
          .groupBy(col("source_a"), col("source_b"))
          .agg(countDistinct(col("doc_id")).as("n_docs"))
        graft.tools.ExplainAudit.auditedCut(
          nPairs.join(nDocs, Seq("source_a", "source_b"))
            .orderBy(col("source_a"), col("source_b")),
          "q368_cross_source_dup_matrix")
      } finally graft.operators.Graph.release(pairs)
    },

    // The default-named simhash dedup drives the scale-safe pigeonhole
    // plan (4×16-bit chunk equi-joins, 65,536 keys/chunk — measured pair
    // bound 2-8× below the byte block's); the legacy 256-key
    // single-byte block survives only as Dedup.simhashPairsSmallCorpus.
    // maxDist=2 here (q53 exercises the same path at the recall bound 3).
    "q29_dedup_simhash" -> { (s, dir) =>
      Dedup.simhashPairs64(t(s, dir, "documents"), maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Scale-safe SimHash: 64-bit signature + pigeonhole 16-bit chunk
    // blocking (4 equi-joins' union, exact recall at Hamming <= 3) — the
    // 100 TB replacement for q29's 256-key single-byte block.
    "q53_simhash_pigeonhole" -> { (s, dir) =>
      Dedup.simhashPairs64(t(s, dir, "documents"), maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Corpus vocabulary: token frequency top-k with deterministic tiebreak
    // — tokenizer/BPE-training prep. Partial-aggregated groupBy + a
    // TakeOrdered: only k rows reach the driver.
    "q70_token_vocab" -> { (s, dir) =>
      TextAnalysis.vocabulary(t(s, dir, "documents"), k = 50)
    },

    // TERM BURSTINESS (Church–Gale): for the top-50 collection-
    // frequency tokens, how REPETITIVE is the term within the
    // documents that contain it at all — cf/df in ppm (1e6 = appears
    // once per containing doc; stopwords run high, topical terms
    // cluster) plus the single-doc max. The within-doc count is the
    // (token, doc) grain aggregate q70's vocabulary pass already
    // implies; the top-k is a TakeOrdered over the token aggregate
    // (never a global sort of the corpus), ties broken by token text.
    "q350_term_burstiness" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(
          lower(col("text")))).as("tok"))
        .groupBy(col("tok"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("tok"))
        .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"),
          max(col("c")).as("max_tf"))
        .select(col("tok"), col("cf").cast("long").as("cf"),
          col("df"), col("max_tf").cast("long").as("max_tf"),
          expr("CAST(cf * 1000000 div df AS BIGINT)")
            .as("burst_ppm"))
        .orderBy(col("cf").desc, col("tok"))
        .limit(50)
    },

    // BIGRAM COLLOCATIONS by integral PMI: the top word pairs whose
    // co-occurrence beats their unigram chance — collocation mining,
    // the phrase-vocabulary seed (q198 searches a GIVEN phrase; this
    // DISCOVERS them). Adjacency via lead() over a doc-partitioned
    // window (row-scale partition key — linear; never a positional
    // self-join), PMI as the bit-length surrogate
    // bitlen(N·c_xy) − bitlen(c_x·c_y) = ⌊log2⌋ of the lift ratio
    // (the q263/q353 discipline — NO floats, sign lives in the
    // subtraction, never a division); support floor c_xy ≥ 5 keeps
    // one-off juxtapositions out, ranking (pmi, support, text) is a
    // TakeOrdered merge. The products land in BIGINT — past ~4e9
    // corpus tokens lift the operands to DECIMAL before bin().
    "q358_bigram_collocations" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // LAZY checkpoint: three subtrees (bigram chain, unigram counts,
      // the corpus total) read the tokenized relation — without it the
      // documents scan + regex tokenize + explode run three times per
      // invocation (the q141/q199 escaping-plan pattern)
      val pos = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(TextAnalysis.tokens(
          lower(col("text")))))
        .select(col("doc_id"), col("pos").as("p"), col("col").as("tok"))
        .cut(false)
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      val big = pos
        .withColumn("nxt", lead(col("tok"), 1).over(wDoc))
        .filter(col("nxt").isNotNull)
      val cxy = big.groupBy(col("tok").as("x"), col("nxt").as("y"))
        .agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5L)
      val cx = pos.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      cxy
        .join(cx.select(col("tok").as("x"), col("c").as("c_x")), "x")
        .join(cx.select(col("tok").as("y"), col("c").as("c_y")), "y")
        .crossJoin(broadcast(pos.agg(count(lit(1)).as("n_toks"))))
        .select(concat_ws(" ", col("x"), col("y")).as("bigram"),
          col("c_xy"), col("c_x"), col("c_y"),
          (length(bin(col("n_toks") * col("c_xy"))) -
            length(bin(col("c_x") * col("c_y")))).cast("long")
            .as("pmi_bits"))
        .orderBy(col("pmi_bits").desc, col("c_xy").desc, col("bigram"))
        .limit(20)
    },

    // DEDUP YIELD CURVE: how many near-duplicate pairs does each
    // Jaccard threshold harvest — the aggressiveness-tuning artifact
    // every dedup rollout reads before picking its cut. Pairs from the
    // SHARED shingle-join machinery (q27's operator at threshold 0),
    // banded by the EXACT rational decile inter·10 div union (never
    // the float jaccard), the at-or-above curve one descending window
    // over the ≤11-row band grid.
    "q359_dedup_yield_curve" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val bands = CcArtifact.jacc0(s, dir)
        .select(expr("inter * 10 div (size_a + size_b - inter)")
          .as("band"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
      val wCum = Window.orderBy(col("band").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bands
        .withColumn("pairs_at_or_above", sum(col("n_pairs")).over(wCum))
        .select(col("band"), col("n_pairs"), col("pairs_at_or_above"))
        .orderBy(col("band"))
    },

    // Sketch accuracy: MinHash slot-agreement estimate vs the exact
    // Jaccard for every LSH candidate pair — signatures are never
    // re-derived from text, mirroring a production candidate-ranking pass.
    "q75_minhash_estimate" -> { (s, dir) =>
      val sigs = CcArtifact.sigs(s, dir)
      val pairs = CcArtifact.pairs(s, dir)
        .select(col("id_a"), col("id_b"))
      val truth = CcArtifact.jacc0(s, dir)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      Dedup.minhashEstimate(sigs, pairs, NumHashes)
        .join(truth, Seq("id_a", "id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // Grouped top-k vocabulary: per-language token ranks — window AFTER
    // the partial-agg groupBy, each group ranked independently (never a
    // global sort).
    "q72_vocab_by_lang" -> { (s, dir) =>
      TextAnalysis.vocabularyByGroup(t(s, dir, "documents"), k = 10)
    },

    // Winnowing (rolling-hash) fingerprints: k-gram hashes + window-min
    // selection, the position-robust sketch complementing q32's
    // sorted-token fingerprint.
    "q54_winnow_fingerprint" -> { (s, dir) =>
      TextAnalysis.winnowFingerprints(tf(s, dir, "documents"),
          k = WinnowK, w = WinnowW)
        .orderBy(col("doc_id"))
    },

    // Deterministic train/val/test split: md5-hex threshold draw, a pure
    // function of (salt, id) — stable across runs and engines.
    "q62_hash_split" -> { (s, dir) =>
      graft.operators.DatasetOps.hashSplit(t(s, dir, "documents"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy(col("split"))
    },

    // Sequence packing: token-budget bins per language via the closed-form
    // window cumsum (no iterative packing loop).
    "q63_sequence_packing" -> { (s, dir) =>
      graft.operators.DatasetOps.packSequences(t(s, dir, "documents"),
          tokenBudget = 500L, packKey = "lang")
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
        .orderBy(col("lang"), col("bin"))
    },

    // Deterministic epoch shuffle: seeded md5 permutation → batch ids,
    // computed with bucketed per-partition ranks + a broadcast running
    // offset (never a global sort / unpartitioned window) — identical to
    // ROW_NUMBER() OVER (ORDER BY draw, id) on any engine or layout.
    "q81_deterministic_shuffle" -> { (s, dir) =>
      graft.operators.DatasetOps.deterministicShuffle(
          t(s, dir, "documents"), batchSize = 64L)
        .groupBy(col("epoch_batch"))
        .agg(count(lit(1)).as("n"),
          min(col("shuffle_rank")).as("min_rank"),
          max(col("shuffle_rank")).as("max_rank"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("epoch_batch"))
    },

    // C4-style line-level dedup: documents are deterministically
    // line-ified (3-token lines — the corpus has no newlines, and 3-token
    // lines actually collide across docs), then every line present in ≥2
    // distinct docs is dropped and docs are reassembled in order. The
    // boilerplate-removal pass of a web-corpus pipeline.
    "q84_line_dedup" -> { (s, dir) =>
      // fanOut: the nested lineification HOFs + posexplode otherwise run
      // in the single-split scan task while 31 cores idle (profiled
      // 7 jobs / 7 tasks, 2.25 s — a fully serial chain)
      val docs = tf(s, dir, "documents")
      val toks = split(col("text"), " ")
      val nl = ((size(toks) + lit(2)) / lit(3)).cast("int")
      val lineified = docs.select(col("doc_id"),
        array_join(
          transform(sequence(lit(0), nl - 1),
            i => array_join(slice(toks, i * 3 + 1, lit(3)), " ")),
          "\n").as("text"))
      Dedup.lineDedup(lineified, minDocFreq = 2)
        .orderBy(col("doc_id"))
    },

    // Int8-quantized ANN: per-vector max-abs scalar quantization, then
    // brute-force top-10 by quantized cosine — exact integer dot products
    // via the IntDotProduct kernel, so the ranking is reproducible
    // bit-for-bit on any engine (the oracle sums BIGINTs).
    "q85_quantized_ann" -> { (s, dir) =>
      graft.operators.Quantize.quantizedTopK(t(s, dir, "embeddings"),
        queryId = 0, k = 10)
    },

    // Transitive dedup clusters: LSH candidate pairs closed into connected
    // components (cluster id = min doc id in the component).
    "q65_dedup_clusters" -> { (s, dir) =>
      CcArtifact.pairsAndCc(s, dir)._2
        .orderBy(col("doc_id"))
    },

    // Survivorship: clusters → one canonical doc each (longest text wins,
    // ties to smallest id) — the keep/drop decision an actual dedup run
    // emits. Keep-score = whitespace token count (deterministic on both
    // engines).
    "q67_dedup_canonical" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.canonicalize(docs, CcArtifact.pairsAndCc(s, dir)._2,
          size(split(trim(col("text")), "\\s+")).cast("long"))
        .orderBy(col("doc_id"))
    },

    // Domain balancing: deterministic per-language quota subsample.
    "q64_balanced_sample" -> { (s, dir) =>
      graft.operators.DatasetOps.balancedSample(t(s, dir, "documents"),
          groupCol = "lang", perGroupQuota = 40L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    },

    // Corpus curation: the composed keep/drop verdict (quality floor +
    // repetition ceiling + exact-dup canonicalisation, first-failure
    // reason) — the end-to-end filter chain a training-data run applies.
    "q61_corpus_curation" -> { (s, dir) =>
      TextAnalysis.curate(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    // Decontamination: corpus docs covering >= 50% of a benchmark item's
    // shingles (benchmark = every 100th doc — a deterministic eval stand-in;
    // its index broadcasts, the corpus never shuffles by shingle).
    "q58_contamination" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.contamination(docs,
          docs.filter(pmod(col("doc_id"), lit(100)) === 0), threshold = 0.5)
        .orderBy(col("corpus_id"), col("bench_id"))
    },

    // Gopher/C4-style repetition filters: word-bigram duplication fractions.
    "q56_repetition_metrics" -> { (s, dir) =>
      TextAnalysis.repetitionMetrics(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    // PII/url scrub: the corpus carries no PII, so both engines append the
    // SAME deterministic contact tail per doc — the counts and the masked
    // hash then verify the scrub end-to-end, not vacuously on zeros.
    "q57_pii_scrub" -> { (s, dir) =>
      val augmented = t(s, dir, "documents").withColumn("text",
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com or "),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("https://ex.org/d/"), col("doc_id").cast("string")))
            .otherwise(lit("nothing"))))
      TextAnalysis.piiMetrics(augmented).orderBy(col("doc_id"))
    },

    "q30_text_quality" -> { (s, dir) =>
      TextAnalysis.annotate(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_subwords"),
                col("stopword_ratio"), col("punct_ratio"),
                col("mean_token_len"), col("quality"))
        .orderBy(col("doc_id"))
    },

    "q31_langid" -> { (s, dir) =>
      t(s, dir, "documents")
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))
    },

    "q32_fingerprint" -> { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .orderBy(col("fingerprint"))
    },

    "q33_cosine_topk" -> { (s, dir) =>
      Similarity.cosineTopK(t(s, dir, "embeddings"), queryId = 0, k = 10,
        dim = Dim)
    },

    "q34_ann_lsh_topk" -> { (s, dir) =>
      Similarity.signLshTopK(t(s, dir, "embeddings"), queryId = 0, k = 10,
        dim = Dim, bucketDims = BucketDims)
    },

    // Bucket width SELF-SCALES with the corpus (autoBucketBits: expected
    // population ≤ 256 per bucket) — at sf0.01/sf0.1 it resolves to the
    // historical 4 bits, at the x8/x32 scale probe to 6/8, keeping the
    // pair join linear where a fixed width measured exponent 1.7+.
    "q35_embed_neardup" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val bits = Similarity.autoBucketBits(emb.count())
      Similarity.nearDupPairs(emb, CosineThreshold,
          dim = Dim, bucketDims = 0 until bits)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Semantic dedup clusters: embedding-cosine near-dup pairs closed into
    // components — the text-side q65 composition applied to the embedding
    // side (same CC operator, same scale shape).
    "q79_embed_dedup_clusters" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val pairs = Similarity.nearDupPairs(emb, CosineThreshold,
        dim = Dim, bucketDims = 0 until Similarity.autoBucketBits(emb.count()))
      Dedup.connectedComponents(pairs)
        .withColumnRenamed("doc_id", "vec_id")
        .orderBy(col("vec_id"))
    },

    // Hot-shingle cap: the scale-critical fan-out bound of the Jaccard
    // join (a shingle in k docs yields k·(k−1)/2 pairs) — exercised with a
    // cap the corpus actually crosses. Set sizes stay exact; the capped
    // intersection makes jaccard a lower bound (recall-safe).
    "q48_jaccard_capped" -> { (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), JaccardThreshold,
          maxShingleDocFreq = Some(ShingleDocFreqCap))
        .orderBy(col("id_a"), col("id_b"))
    },

    // IVF probe with FIXED centroids (vectors 1..4, driver-normalised) so
    // the oracle can mirror the argmax: assignment via the NearestCentroid
    // kernel, probe scans only the nprobe nearest cells.
    "q49_ivf_probe" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id").isInCollection(IvfSeedIds))
        .orderBy(col("vec_id")).select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      // normalise exactly as the oracle does: x / sqrt(Σ x², sequential)
      val centroids = seeds.map { c =>
        val nrm = math.sqrt(c.map(x => x * x).sum)
        c.map(_ / nrm)
      }
      val model = IvfIndex.Model(centroids)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
        .map(_.toDouble).toArray
      val indexed = IvfIndex.assign(emb, model, Dim)
      IvfIndex.probe(indexed.filter(col("vec_id") =!= 0), model, query,
        k = IvfK, nprobe = IvfNprobe, dim = Dim)
    },

    // IVF × int8: q49's fixed-centroid cell pruning, but candidate scoring
    // reads ONLY the quantized array<int> column — exact integer dots, the
    // two scale levers (cell pruning × quarter-width rows) composed.
    "q86_ivf_quantized" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id").isInCollection(IvfSeedIds))
        .orderBy(col("vec_id")).select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val centroids = seeds.map { c =>
        val nrm = math.sqrt(c.map(x => x * x).sum)
        c.map(_ / nrm)
      }
      val model = IvfIndex.Model(centroids)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
        .map(_.toDouble).toArray
      val indexed = IvfIndex.assign(
        graft.operators.Quantize.int8(emb), model, Dim)
      IvfIndex.probeQuantized(indexed.filter(col("vec_id") =!= 0), model,
        query, k = IvfK, nprobe = IvfNprobe)
    },

    // Product quantization ADC: vectors stored as 8 codes (32× shrink),
    // probed via a broadcast query-to-codeword lookup table — the float
    // corpus is never read at probe time. Codes AND scores oracle-pinned.
    "q90_pq_ann" -> { (s, dir) =>
      import graft.operators.ProductQuantizer
      val emb = t(s, dir, "embeddings")
      val model = PqModels.trained(s, dir)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
        .map(_.toDouble).toArray
      ProductQuantizer.adcTopK(
          PqModels.encoded(s, dir).filter(col("vec_id") =!= 0),
          model, query, kTop = IvfK)
        // the driver's comparator hashes scalars — pin the code array as a
        // canonical string
        .withColumn("pq_codes", array_join(col("pq_codes"), ","))
    },

    // IVF-PQ: the production ANN composition — IVF cell pruning (touch
    // nprobe/nlist of the corpus) × PQ ADC scoring (32×-compressed codes,
    // no float reads at probe time). At rest the corpus is (id, cell,
    // codes): ~5 bytes of index per 256-byte vector.
    "q91_ivfpq_ann" -> { (s, dir) =>
      import graft.operators.ProductQuantizer
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id").isInCollection(IvfSeedIds))
        .orderBy(col("vec_id")).select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val centroids = seeds.map { c =>
        val nrm = math.sqrt(c.map(x => x * x).sum)
        c.map(_ / nrm)
      }
      val ivf = IvfIndex.Model(centroids)
      val pq = PqModels.trained(s, dir)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
        .map(_.toDouble).toArray
      val indexed = IvfIndex.assign(
        PqModels.encoded(s, dir), ivf, Dim)
      val cells = ivf.nearestCells(query, IvfNprobe)
      ProductQuantizer.adcTopK(
          indexed.filter(col("ivf_cell").isInCollection(cells)
            && col("vec_id") =!= 0),
          pq, query, kTop = IvfK)
        .withColumn("pq_codes", array_join(col("pq_codes"), ","))
    },

    // Mixture sampling: per-language target rates (60% en / 30% de / 15%
    // rest) via deterministic hash rank — the training-mix recipe
    // primitive (rate-based, vs q64's fixed per-group quota). The kept
    // set is pinned exactly by (count, id_sum, min_id) per group.
    "q87_mixture_sample" -> { (s, dir) =>
      graft.operators.DatasetOps.mixtureSample(
          t(s, dir, "documents"), groupCol = "lang",
          rates = Map("en" -> 0.6, "de" -> 0.3), defaultRate = 0.15)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_sum"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("lang"))
    },

    // HTML extraction: documents wrapped in deterministic markup (script
    // block, style block, entities) then cleaned by the C4-style regexp
    // chain — the oracle rebuilds the same markup and the same chain, so
    // the cleaner is pinned byte-for-byte (the q80 arithmetic-PNG scheme,
    // applied to markup).
    "q88_html_clean" -> { (s, dir) =>
      val html = concat(
        lit("<html><body><h1>"), col("source"),
        lit("</h1><script type=\"text/javascript\">var x = "),
        col("doc_id").cast("string"),
        lit(";</script><p class=\"main\">"), col("text"),
        lit(" &amp; &lt;tail&gt; &quot;q&#39;s&quot;&nbsp;end</p>" +
          "<style>p { color: red; }</style></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.TextAnalysis.cleanHtml(html).as("text_clean"))
        .withColumn("n_chars_clean", length(col("text_clean")))
        .orderBy(col("doc_id"))
    },

    // Duplicate-span coverage: fraction of each doc's distinct 3-gram
    // shingles occurring in ≥2 corpus docs — the span-granularity dup
    // metric (Lee et al.) that pair-level Jaccard misses. df is an
    // aggregation on the shingle key, never a pair join.
    "q89_dup_span_coverage" -> { (s, dir) =>
      Dedup.duplicateSpanCoverage(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    // Quality-weighted sampling: keep-probability = 0.05 + quality × 0.9,
    // decided by a deterministic per-doc draw vs a per-doc hex threshold —
    // map-only, exact kept set pinned per language.
    "q92_quality_sample" -> { (s, dir) =>
      TextAnalysis.qualityWeightedSample(t(s, dir, "documents"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_sum"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("lang"))
    },

    // Corpus-side span contamination vs the q58 benchmark stand-in (every
    // 100th doc): fraction of each corpus doc's 3-grams present anywhere
    // in the benchmark — the decontamination removal criterion.
    "q93_contamination_span" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.contaminationCoverage(docs,
          docs.filter(pmod(col("doc_id"), lit(100)) === 0))
        .orderBy(col("doc_id"))
    },

    // Token-budget selection: best-quality docs until 12k tokens (~44% of
    // the corpus) — bucketed quality, q81-style bounded offsets, no
    // global sort. Membership pinned per language.
    "q94_token_budget" -> { (s, dir) =>
      graft.operators.DatasetOps.tokenBudgetSelect(
          t(s, dir, "documents"), tokenBudget = 12000L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_tokens")).as("tok_sum"))
        .orderBy(col("lang"))
    },

    // Lexical surprisal: per-doc mean bit-width of corpus term
    // frequencies — the perplexity-filter proxy with integer-exact
    // cross-engine arithmetic (length(bin(tf)), no libm).
    "q95_lexical_surprisal" -> { (s, dir) =>
      TextAnalysis.lexicalSurprisal(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    // JSONL round-trip: corpus → JSONL files → schema-first PERMISSIVE
    // read-back (corrupt-record quarantine) → per-language aggregate; the
    // oracle computes the same aggregate from the parquet source, so any
    // loss or corruption in the interchange hop fails the hash.
    "q96_jsonl_roundtrip" -> { (s, dir) =>
      import graft.source.TextIngest
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      // per-process unique path: concurrent suite runs must not clobber
      // each other's round-trip data (and testdata dirs are read-only)
      TextIngest.writeJsonl(docs, q96JsonlPath)
      val rt = TextIngest.readJsonl(s, q96JsonlPath, docs.schema)
      require(rt.bad.isEmpty, "round-trip produced corrupt records")
      val agg = rt.good.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(length(col("text"))).as("chars_sum"))
        .orderBy(col("lang"))
      // materialize the per-lang aggregate (metadata scale) so the cached
      // raw scan can be released before the frame is handed back
      val rows = agg.collect().toSeq
      rt.unpersist()
      s.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), agg.schema)
    },

    // Incremental dedup: a new batch (doc_id ≥ 400) probes the existing
    // corpus band index + itself; the existing corpus is never re-paired
    // with itself. Same LSH scheme as q28 — the result is q28's pairs
    // restricted to those touching the batch.
    "q97_incremental_dedup" -> { (s, dir) =>
      // fanOut: two shingling passes over a single-split scan (profiled
      // 5 jobs / 6 tasks — fully serial)
      val docs = tf(s, dir, "documents")
      val existing = Dedup.minhashSignatures(
        docs.filter(col("doc_id") < 400), NumHashes)
      val fresh = Dedup.minhashSignatures(
        docs.filter(col("doc_id") >= 400), NumHashes)
      Dedup.lshCandidatesIncremental(existing, fresh, NumHashes, Bands)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Split-leakage audit: near-dup candidate pairs crossing the
    // train/val/test boundary — the eval-integrity check a training run
    // does after splitting (a leaked near-dup inflates eval).
    "q98_split_leakage" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val split = graft.operators.DatasetOps.hashSplit(docs)
        .select(col("doc_id"), col("split"))
      val pairs = CcArtifact.pairs(s, dir)
      pairs
        .join(split.select(col("doc_id").as("id_a"),
          col("split").as("split_a")), "id_a")
        .join(split.select(col("doc_id").as("id_b"),
          col("split").as("split_b")), "id_b")
        .filter(col("split_a") =!= col("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("id_a")).as("min_id_a"))
        .orderBy(col("split_a"), col("split_b"))
    },

    // Unicode NFC normalization: decomposed combining marks composed (the
    // prerequisite of every hash-keyed dedup), compatibility forms left
    // alone (NFC, not lossy NFKC). Kernel vs DuckDB's nfc_normalize —
    // both implement the same Unicode standard, pinned by md5.
    "q99_nfc_normalize" -> { (s, dir) =>
      val suffix = " café naïve ﬁn façade"
      val raw = concat(col("text"), lit(suffix))
      val norm = graft.functions.TextFunctions.nfcNormalize(raw)
      t(s, dir, "documents").select(col("doc_id"),
          length(raw).as("n_chars_raw"),
          length(norm).as("n_chars_norm"),
          md5(norm).as("norm_key"))
        .orderBy(col("doc_id"))
    },

    // The corpus pipeline end-to-end in ONE query: NFC normalize →
    // quality floor → exact-dedup survivorship → per-language stats.
    // Every stage is individually oracle-checked (q99/q30/q26); this pins
    // their COMPOSITION — column contracts, filter ordering, survivor
    // join — as a single declarative plan Catalyst optimizes whole.
    "q100_corpus_pipeline" -> { (s, dir) =>
      // fanOut: NFC normalize + quality + md5 keys on one scan task
      // (profiled 5 jobs / 5 tasks — fully serial)
      val staged = tf(s, dir, "documents")
        // decomposed suffix: NFC must actually compose characters here
        .withColumn("text_norm",
          graft.functions.TextFunctions.nfcNormalize(
            concat(col("text"), lit(Q100Suffix))))
        .withColumn("quality",
          TextAnalysis.qualityScore(col("text_norm")))
        .filter(col("quality") >= 0.3)
        .withColumn("exact_key", TextAnalysis.exactKey(col("text_norm")))
      val keep = staged.groupBy(col("exact_key"))
        .agg(min(col("doc_id")).as("doc_id"))
      staged.join(keep, Seq("exact_key", "doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(length(col("text_norm"))).as("chars_sum"))
        .orderBy(col("lang"))
    },

    // Document chunking: overlapping 40-token windows (8-token overlap) —
    // the embed-prep fan-out, map-only, chunk boundaries integer-exact.
    "q101_doc_chunks" -> { (s, dir) =>
      graft.operators.DatasetOps.chunkDocuments(
          t(s, dir, "documents"), chunkTokens = 40, overlap = 8)
        .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_key"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // ANN quality monitoring: recall@10 of the PQ ADC probe against the
    // brute-force float baseline — the metric an ANN deployment watches
    // (compression/recall trade-off), as a query. Both top-k sets are
    // independently oracle-pinned (q33, q90); this pins their overlap.
    "q102_ann_recall" -> { (s, dir) =>
      import graft.operators.ProductQuantizer
      val emb = t(s, dir, "embeddings")
      val brute = Similarity.cosineTopK(emb, queryId = 0, k = IvfK,
        dim = Dim).select(col("vec_id"))
      val model = PqModels.trained(s, dir)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
        .map(_.toDouble).toArray
      val pq = ProductQuantizer.adcTopK(
          PqModels.encoded(s, dir).filter(col("vec_id") =!= 0),
          model, query, kTop = IvfK)
        .select(col("vec_id"))
      pq.join(brute, "vec_id")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(IvfK).as("k"), col("n_overlap"),
          (col("n_overlap").cast("double") / lit(IvfK.toDouble))
            .as("recall"))
    },

    // ANN operating curve: recall@10 of the IVF float probe at nprobe ∈
    // {1,2,4} against the brute-force baseline — q102 monitors one point
    // of the compression/recall trade-off, this sweeps the probe-width
    // curve a deployment actually tunes. The brute top-k is computed ONCE
    // and carried as a 10-id literal into each sweep branch (no
    // re-derivation per nprobe).
    "q104_ivf_recall_sweep" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id").isInCollection(IvfSeedIds))
        .orderBy(col("vec_id")).select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val centroids = seeds.map { c =>
        val nrm = math.sqrt(c.map(x => x * x).sum)
        c.map(_ / nrm)
      }
      val model = IvfIndex.Model(centroids)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
        .map(_.toDouble).toArray
      val indexed = IvfIndex.assign(emb, model, Dim)
      val bruteIds = Similarity.cosineTopK(emb, queryId = 0, k = IvfK,
        dim = Dim).select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      IvfSweepNprobes.map { np =>
        IvfIndex.probe(indexed.filter(col("vec_id") =!= 0), model, query,
            k = IvfK, nprobe = np, dim = Dim)
          .filter(col("vec_id").isInCollection(bruteIds))
          .agg(count(lit(1)).as("n_overlap"))
          .select(lit(np).as("nprobe"), lit(IvfK).as("k"),
            col("n_overlap"),
            (col("n_overlap").cast("double") / lit(IvfK.toDouble))
              .as("recall"))
      }.reduce(_.union(_)).orderBy(col("nprobe"))
    },

    // REAL video-demux path with a REAL oracle (mirror of q80/q82):
    // synthesize a deterministic MJPEG-AVI per doc (container fields pure
    // functions of doc_id), round-trip through the RIFF demuxer, and
    // report the demuxed header truth — exact, so the oracle predicts it
    // arithmetically. First-frame JPEG decode is real but lossy, so pixel
    // means are spec-checked, not oracle-hashed.
    "q103_video_decode" -> { (s, dir) =>
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          Multimodal.MediaRow(id, "video", Multimodal.syntheticAvi(id),
            0, 0, 0)
        }
      Multimodal.extractFeatures(media)
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"),
          col("vid_width").as("width"), col("vid_height").as("height"),
          col("vid_frames").as("n_frames"),
          col("vid_us_per_frame").as("us_per_frame"),
          col("vid_duration_ms").as("duration_ms"))
        .orderBy(col("doc_id"))
    },

    // Batch ANN: every query probed in ONE relational pass (queries ×
    // centroids broadcast-rank, corpus ⋈ probed-cells equi-join, windowed
    // top-k per query) — no per-query driver loop.
    "q55_ivf_batch_probe" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id").isInCollection(IvfSeedIds))
        .orderBy(col("vec_id")).select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val centroids = seeds.map { c =>
        val nrm = math.sqrt(c.map(x => x * x).sum)
        c.map(_ / nrm)
      }
      val model = IvfIndex.Model(centroids)
      val indexed = IvfIndex.assign(emb, model, Dim)
      val queries = emb.filter(col("vec_id").isInCollection(BatchQueryIds))
        .select(col("vec_id").as("q_id"),
          col("embedding").cast("array<double>").as("q_vec"))
      IvfIndex.probeBatch(indexed, model, queries,
        k = IvfK, nprobe = IvfNprobe, dim = Dim)
    },

    // Multimodal metadata path with a REAL oracle: the envelope metadata,
    // payload byte counts and thumbnail math are deterministic — only the
    // codec stub's pixel stats stay rows-only (q36).
    // REAL codec path with a REAL oracle: synthesize a deterministic 2×2
    // PNG per doc (pixels a pure function of doc_id), round-trip through
    // the production ImageIO decode, and report exact decoded stats — PNG
    // is lossless, so the oracle predicts them arithmetically. The decode
    // runs distributed inside extractFeatures' mapPartitions.
    "q80_multimodal_decode" -> { (s, dir) =>
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          Multimodal.MediaRow(id, "image", Multimodal.syntheticPng(id),
            9999, 9999, 0)
        }
      Multimodal.extractFeatures(media)
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("img_width"),
          col("img_height"), col("pixel_mean"),
          col("thumb_width"), col("thumb_height"))
        .orderBy(col("doc_id"))
    },

    // REAL audio-codec path with a REAL oracle (mirror of q80): synthesize
    // a deterministic square-wave WAV per doc (amplitude and frame count
    // pure functions of doc_id), round-trip through the production
    // javax.sound decode, and report exact decoded stats — PCM is
    // lossless, so RMS == amplitude and the oracle predicts everything
    // arithmetically. The decode runs distributed inside extractFeatures.
    "q82_audio_decode" -> { (s, dir) =>
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          Multimodal.MediaRow(id, "audio", Multimodal.syntheticWav(id),
            0, 0, 0)
        }
      Multimodal.extractFeatures(media)
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"),
          col("aud_sample_rate").as("sample_rate"),
          col("aud_channels").as("channels"),
          col("aud_frames").as("frames"),
          (col("aud_frames") * 1000000L / col("aud_sample_rate"))
            .cast("long").as("duration_us"),
          round(col("aud_rms")).cast("long").as("rms"))
        .orderBy(col("doc_id"))
    },

    "q66_multimodal_meta" -> { (s, dir) =>
      val feats = Multimodal.extractFeatures(
        Multimodal.fromDocuments(t(s, dir, "documents")))
      feats.groupBy(col("kind")).agg(
          count(lit(1)).as("n_media"),
          sum(col("n_bytes")).as("total_bytes"),
          max(col("thumb_width")).as("max_thumb_w"),
          max(col("thumb_height")).as("max_thumb_h"))
        .orderBy(col("kind"))
    },

    // Rows-only checks (no SQL-expressible oracle):
    "q36_multimodal" -> { (s, dir) =>
      Multimodal.pipeline(t(s, dir, "documents"))
        .orderBy(col("kind"))
    },

    // Compression-ratio quality signal: zlib output is not reproducible
    // by an independent engine, so this stays rows-only (q36 precedent);
    // ordering/stability properties are spec-pinned.
    "q151_compression_ratio" -> { (s, dir) =>
      TextAnalysis.compressionMetrics(t(s, dir, "documents"))
        .join(t(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_raw")).as("raw_sum"),
          sum(col("n_deflated")).as("deflated_sum"))
        .withColumn("ratio", col("deflated_sum").cast("double") /
          col("raw_sum").cast("double"))
        .orderBy(col("source"))
    },

    // KMV distinct-count sketch: the 64 smallest distinct content hashes
    // per source, the MERGEABLE cardinality sketch — estimate vs exact
    // truth, with the estimator in exact 64-bit integer arithmetic so
    // DuckDB reproduces every digit.
    "q152_kmv_distinct" -> { (s, dir) =>
      import graft.operators.Sketches
      val docs = t(s, dir, "documents")
      val est = Sketches.kmvEstimate(
        Sketches.kmvSketch(docs, KmvK, "source", "text"), KmvK)
      val exact = docs.groupBy(col("source"))
        .agg(countDistinct(col("text")).as("n_distinct"))
      est.join(exact, "source")
        .select(col("source"), col("n_distinct"), col("n_hashes"),
          col("kth_hash"), col("distinct_est"))
        .orderBy(col("source"))
    },

    // Exact order-value percentiles WITHOUT a global sort: bucketed
    // histogram + bounded prefix sums + rank-within-owning-bucket — the
    // data-card percentile line, exact at any scale.
    "q153_exact_quantiles" -> { (s, dir) =>
      val cents = t(s, dir, "orders")
        .select((col("o_totalprice") * 100).cast("long").as("cents"))
      graft.operators.Quantiles
        .exactQuantiles(cents, "cents", QuantilePcts,
          bucketWidth = 1000000L)
        .orderBy(col("pct"))
    },

    // Per-source token-length quartiles + Tukey-fence outlier counts
    // (integer fence: p75 + 3·IQR/2) — the length-anomaly report a
    // curation pass reads before setting truncation policy.
    "q154_length_outliers" -> { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_tokens"))
      val wide = graft.operators.Quantiles
        .exactGroupQuantiles(toks, "source", "n_tokens", Seq(25, 50, 75),
          bucketWidth = 16L)
        .groupBy(col("source"))
        .agg(max(when(col("pct") === 25, col("value"))).as("p25"),
          max(when(col("pct") === 50, col("value"))).as("p50"),
          max(when(col("pct") === 75, col("value"))).as("p75"))
        .withColumn("fence",
          col("p75") + expr("(3 * (p75 - p25)) div 2"))
      toks.join(broadcast(wide), "source")
        .groupBy(col("source"))
        .agg(max(col("p25")).as("p25"), max(col("p50")).as("p50"),
          max(col("p75")).as("p75"),
          sum(when(col("n_tokens") > col("fence"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("source"))
    },

    // Integer-exact TF-IDF retrieval: rare query terms dominate common
    // ones exponentially via bit-width idf ('dup' df≈25 scores 5 bits vs
    // 1 bit for df≈390 terms) — the corpus-search/quality-ranking
    // primitive, with a BIGINT score both engines compute bit-identically.
    "q105_tfidf_search" -> { (s, dir) =>
      TextAnalysis.tfIdfSearch(t(s, dir, "documents"), TfIdfTerms,
        k = TfIdfK)
    },

    // Exact-proportion stratified split: per-stratum ranks cut at ppm
    // boundaries — every language honours 80/10/10 to ±1 doc, where
    // hashSplit's independent draws can empty a small stratum's val set.
    "q106_stratified_split" -> { (s, dir) =>
      graft.operators.DatasetOps.stratifiedSplit(
          t(s, dir, "documents"), strataCol = "lang",
          fractions = StratFractions)
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"), col("split"))
    },

    // Canonical-URL dedup: synthesized noisy URL variants (scheme/host
    // case, www., :443, tracking params, fragments, trailing slash — all
    // pure functions of doc_id, the q88 synthesis scheme) collapse to one
    // canonical key; keep-lowest-id per key.
    "q107_url_dedup" -> { (s, dir) =>
      val urls = t(s, dir, "documents")
        .select(col("doc_id"), q107Url.as("url"))
      TextAnalysis.urlDedup(urls, "url")
        .orderBy(col("canonical_url"))
    },

    // ADC shortlist + exact re-rank: the production PQ serving shape —
    // compressed scan ranks everything, the float corpus is consulted for
    // only the shortlist survivors, final top-k is exact cosine (q33's
    // arithmetic, so scores hash-match the float oracle chain).
    "q110_pq_rerank" -> { (s, dir) =>
      import graft.operators.ProductQuantizer
      val emb = t(s, dir, "embeddings")
      val model = PqModels.trained(s, dir)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
        .map(_.toDouble).toArray
      ProductQuantizer.adcRerankTopK(
        PqModels.encoded(s, dir).filter(col("vec_id") =!= 0),
        emb, model, query, kTop = IvfK, shortlist = PqRerankShortlist,
        dim = Dim)
    },

    // Reference-LM scoring: train the unigram model on the 80% split,
    // score the held-out 20% against it (CCNet's quality-filter shape —
    // the scored corpus can't normalise itself). Unseen tokens cost
    // length(bin(N)) bits via the coalesce(tf,1) floor.
    "q111_lm_score" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val lm = TextAnalysis.lmTrain(docs.filter(col("doc_id") % 5 =!= 0))
      TextAnalysis.lmScore(docs.filter(col("doc_id") % 5 === 0), lm)
        .orderBy(col("doc_id"))
    },

    // Bigram conditional surprisal: q95 scores tokens by frequency alone,
    // this scores them in context — the next rung of the perplexity-
    // filter ladder, integer-exact across engines.
    "q109_bigram_surprisal" -> { (s, dir) =>
      TextAnalysis.bigramSurprisal(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    // Corpus data card: the per-(source, lang) summary a dataset ships
    // with — all-integer metrics so the card is bit-reproducible.
    "q108_data_card" -> { (s, dir) =>
      TextAnalysis.dataCard(t(s, dir, "documents"))
        .orderBy(col("source"), col("lang"))
    },

    // Duplicated-span REMOVAL (Lee et al. ExactSubstr at n-gram
    // granularity): the edit list a dedup pass applies — maximal token
    // spans of each doc whose 3-grams all first occurred in an earlier
    // doc; the first owner keeps its copy.
    "q112_dup_spans" -> { (s, dir) =>
      // fanOut measured FLAT here (1.09 → 1.14 s): duplicateSpans
      // shuffles by n-gram immediately, so the exchange buys nothing
      Dedup.duplicateSpans(t(s, dir, "documents"), n = 3)
        .orderBy(col("doc_id"), col("span_start"))
    },

    // Per-domain corpus stats behind a blocklist: the crawl-curation
    // first-look (which sites dominate) with policy domains dropped
    // before counting; urls synthesized per the q107 scheme.
    "q113_domain_stats" -> { (s, dir) =>
      import s.implicits._
      val urls = t(s, dir, "documents")
        .withColumn("url", q107Url)
      val blocked = BlockedDomains.toDF("domain")
      TextAnalysis.domainStats(
          TextAnalysis.domainBlocklistFilter(urls, blocked, "url"),
          urlCol = "url")
        .orderBy(col("domain"))
    },

    // DSIR importance weights: target = the src0/src1 slice, proposal =
    // the whole corpus; positive bits = target-like doc.
    "q114_importance_weights" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextAnalysis.importanceWeights(docs,
          docs.filter(col("source").isin("src0", "src1")))
        .orderBy(col("doc_id"))
    },

    // Trigram stupid-backoff surprisal: reference = doc_id % 5 != 0,
    // scored = the held-out 20% (the q111 split), backoff penalty 1 bit
    // per level (α = 0.5).
    "q115_backoff_surprisal" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextAnalysis.backoffSurprisal(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0))
        .orderBy(col("doc_id"))
    },

    // N-gram novelty: fraction of each doc's distinct 3-grams first seen
    // in this doc (corpus in id order) — novel-token accounting.
    "q116_novelty" -> { (s, dir) =>
      Dedup.noveltyScores(t(s, dir, "documents"), n = 3)
        .orderBy(col("doc_id"))
    },

    // Shard manifest: deterministic-order token shards + per-shard id
    // checksum — the integrity record a training loader verifies.
    "q117_shard_manifest" -> { (s, dir) =>
      graft.operators.DatasetOps.shardManifest(
          t(s, dir, "documents"), shardTokens = ShardTokens)
        .orderBy(col("shard_id"))
    },

    // Embedding-space decontamination: max cosine of each corpus vector
    // against the benchmark slice (every 50th vec) — catches paraphrased
    // eval leakage the n-gram checks (q58/q93) can't see.
    "q118_embed_decontam" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.embeddingContamination(
          emb.filter(pmod(col("vec_id"), lit(50)) =!= 0),
          emb.filter(pmod(col("vec_id"), lit(50)) === 0),
          threshold = CosineThreshold, dim = Dim)
        .orderBy(col("vec_id"))
    },

    // BPE merge training: the first rounds of the tokenizer a pipeline
    // trains on its own corpus — most-frequent adjacent symbol pair per
    // round, ties to the smallest pair, merged everywhere.
    "q119_bpe_merges" -> { (s, dir) =>
      import s.implicits._
      BpeModels.trained(s, dir)
        .toDF("merge_round", "lhs", "rhs", "merged", "pair_count")
        .orderBy(col("merge_round"))
    },

    // BPE encoding: apply the q119-trained merges — per doc, whitespace
    // vs subword token counts (the volumes a packing/budget pass uses
    // once the tokenizer is real).
    "q121_bpe_encode" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.Bpe.encode(docs, BpeModels.trained(s, dir))
        .orderBy(col("doc_id"))
    },

    // Cross-source duplicate matrix: q28's LSH candidate pairs grouped by
    // unordered source pair — which sources copy from which (the
    // data-governance view of near-duplication).
    "q122_cross_source_dups" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = CcArtifact.pairs(s, dir)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.toDF("id_a", "src_a"), "id_a")
        .join(src.toDF("id_b", "src_b"), "id_b")
        .groupBy(least(col("src_a"), col("src_b")).as("src_lo"),
          greatest(col("src_a"), col("src_b")).as("src_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("src_lo"), col("src_hi"))
    },

    // Intra-doc line dedup: the q84 3-token lineification with the FIRST
    // line repeated at the end (so every doc has a real intra-doc dup),
    // deduplicated order-preserving with zero shuffle.
    "q123_intradoc_dedup" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      val nl = ((size(toks) + lit(2)) / lit(3)).cast("int")
      val lines = transform(sequence(lit(0), nl - 1),
        i => array_join(slice(toks, i * 3 + 1, lit(3)), " "))
      val lineified = t(s, dir, "documents").select(col("doc_id"),
        concat(lines, slice(lines, 1, 1)).as("lines"))
      TextAnalysis.intraDocLineDedup(lineified)
        .orderBy(col("doc_id"))
    },

    // Epoch upsampling: src0 at 2.5 epochs, src1 at 0.4, everything else
    // 1.0 — the repeat side of a mixing recipe; per-source kept volumes
    // and epoch spread.
    "q126_epoch_upsample" -> { (s, dir) =>
      graft.operators.DatasetOps.upsampleMixture(
          t(s, dir, "documents"), groupCol = "source",
          ratesPpm = UpsamplePpm, defaultPpm = 1000000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          max(col("epoch")).as("max_epoch"))
        .orderBy(col("source"))
    },

    // BPE vocabulary: the symbol table after the q119 merges — the
    // artifact a tokenizer ships next to its merge list.
    "q127_bpe_vocab" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.Bpe.vocabulary(docs, BpeModels.trained(s, dir))
        .orderBy(col("symbol"))
    },

    // Naive Bayes self-classification confusion matrix: train on the
    // corpus's own source labels, score every doc, report actual ×
    // predicted — the "are my source labels even learnable" diagnostic.
    // Integer-bits arithmetic end to end, so the matrix is bit-exact.
    "q128_nb_confusion" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.Classifier.predictFromCosts(NbArtifact.costs(s, dir))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("cost_bits")).as("cost_sum"))
        .orderBy(col("source"), col("predicted"))
    },

    // NB RELIABILITY DIAGRAM: accuracy as a function of the classifier's
    // own confidence — the best-vs-runner-up cost margin in bits, banded
    // by 8 and capped at band 8 — the "does a wide margin actually mean
    // a correct prediction" calibration read a pipeline needs before it
    // thresholds q128's classifier for filtering. Integer-bits margins,
    // truncating ppm accuracy; the band relation is ≤ 9 rows.
    "q367_nb_reliability" -> { (s, dir) =>
      val docs = tf(s, dir, "documents")
      graft.operators.Classifier.marginFromCosts(NbArtifact.costs(s, dir))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(least(expr("margin_bits div 8"), lit(8L)).as("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("source") === col("predicted"), 1L)
            .otherwise(0L)).as("n_correct"))
        .select(col("band"), col("n_docs"), col("n_correct"),
          expr("CAST(n_correct * 1000000 div n_docs AS BIGINT)")
            .as("accuracy_ppm"))
        .orderBy(col("band"))
    },

    // Encoding-anomaly scan: mojibake digraphs, U+FFFD, C1 controls —
    // per-source damage report. The fixture is ASCII, so the query
    // injects a deterministic mojibake suffix on doc_id % 7 = 0 (same
    // augmentation scheme as q57's PII fixture).
    "q129_mojibake" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(MojiSuffix))).otherwise(col("text")))
      TextAnalysis.encodingAnomalies(docs)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("encoding_flagged"), 1L).otherwise(0L))
            .as("n_flagged"),
          sum(col("n_replacement")).as("replacement_sum"),
          sum(col("n_mojibake")).as("mojibake_sum"),
          sum(col("n_ctrl")).as("ctrl_sum"))
        .orderBy(col("source"))
    },

    // BPE fertility: subword tokens per whitespace word by source — the
    // tokenizer-efficiency report (fertility >> 1 on a source means the
    // merges don't cover its vocabulary).
    "q130_bpe_fertility" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.Bpe.encode(docs, BpeModels.trained(s, dir))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(sum(col("ws_tokens")).as("ws_tokens"),
          sum(col("subword_tokens")).as("subword_tokens"))
        .withColumn("fertility",
          col("subword_tokens").cast("double") /
            col("ws_tokens").cast("double"))
        .orderBy(col("source"))
    },

    // Dedup cluster-size histogram: connected components over the LSH
    // candidate graph, singletons included — the shape report that tells
    // a dedup run whether it is facing long-tail near-dups or a few
    // giant template clusters.
    "q131_cluster_sizes" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"))
        .join(CcArtifact.pairsAndCc(s, dir)._2, Seq("doc_id"), "left")
        .withColumn("cluster_id",
          coalesce(col("cluster_id"), col("doc_id")))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .orderBy(col("cluster_size"))
    },

    // LSH precision audit: bucket candidate pairs by minhash agreement
    // (0..16) and score each bucket against EXACT shingle overlap — the
    // operating-curve that tells a dedup deployment whether its band
    // count is paying for itself. All-integer truth (2·inter ≥ union ⟺
    // jaccard ≥ 0.5), so the audit is bit-exact.
    "q132_lsh_precision" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val sigs = CcArtifact.sigs(s, dir)
      val cand = CcArtifact.pairs(s, dir)
        .select(col("id_a"), col("id_b"))
      val est = Dedup.minhashEstimate(sigs, cand, NumHashes)
        .withColumn("n_match",
          (col("est_jaccard") * NumHashes).cast("long"))
      est.join(Dedup.candidateOverlap(docs, cand), Seq("id_a", "id_b"))
        .withColumn("uni", col("size_a") + col("size_b") - col("inter"))
        .groupBy(col("n_match"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("inter") * 2 >= col("uni"), 1L).otherwise(0L))
            .as("n_true"),
          sum(col("inter")).as("inter_sum"),
          sum(col("uni")).as("union_sum"))
        .withColumn("bucket_precision",
          col("n_true").cast("double") / col("n_pairs").cast("double"))
        .orderBy(col("n_match"))
    },

    // Containment analysis: asymmetric overlap over LSH candidates —
    // inter/|A| catches quotes, templates and mirrors that symmetric
    // Jaccard misses when one side is much larger.
    "q133_containment" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val cand = CcArtifact.pairs(s, dir)
        .select(col("id_a"), col("id_b"))
      Dedup.candidateOverlap(docs, cand)
        .withColumn("cont_a",
          col("inter").cast("double") / col("size_a").cast("double"))
        .withColumn("cont_b",
          col("inter").cast("double") / col("size_b").cast("double"))
        .withColumn("is_subset",
          col("inter") === least(col("size_a"), col("size_b")))
        .orderBy(col("id_a"), col("id_b"))
    },

    // Sequence-length histogram: power-of-two token-count buckets per
    // source (bucket = bit width of n_tokens) — the packing diagnostic
    // that sizes chunk/pack parameters before a training run.
    "q134_length_histogram" -> { (s, dir) =>
      t(s, dir, "documents")
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
        .withColumn("bucket", length(bin(col("n_tokens"))).cast("long"))
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tok_sum"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"))
        .orderBy(col("source"), col("bucket"))
    },

    // Data-card drift: the per-slice delta report between two corpus
    // snapshots (prev = doc_id % 10 <> 0) — what a dataset release
    // review reads before shipping a new crawl.
    "q135_card_drift" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      def card(d: org.apache.spark.sql.DataFrame) =
        d.withColumn("n_tokens",
            TextAnalysis.tokenCount(col("text")).cast("long"))
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("toks"))
      card(docs.filter(col("doc_id") % 10 =!= 0))
        .withColumnRenamed("n_docs", "docs_prev")
        .withColumnRenamed("toks", "toks_prev")
        .join(card(docs)
          .withColumnRenamed("n_docs", "docs_curr")
          .withColumnRenamed("toks", "toks_curr"),
          Seq("source", "lang"), "full_outer")
        .na.fill(0L, Seq("docs_prev", "toks_prev", "docs_curr", "toks_curr"))
        .withColumn("docs_delta", col("docs_curr") - col("docs_prev"))
        .withColumn("toks_delta", col("toks_curr") - col("toks_prev"))
        .orderBy(col("source"), col("lang"))
    },

    // CSV interchange round-trip with corrupt-record quarantine: write
    // the corpus as RFC-4180 CSV (quoted embedded newlines), inject a
    // malformed file, read back — the bad row lands in quarantine, the
    // good rows aggregate identically to the source of truth.
    "q136_csv_roundtrip" -> { (s, dir) =>
      import graft.source.TextIngest
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      TextIngest.writeCsv(docs, q136CsvPath)
      // injected damage: uncastable doc_id → PERMISSIVE quarantine
      java.nio.file.Files.write(
        java.nio.file.Paths.get(q136CsvPath, "part-injected-bad.csv"),
        "doc_id,text,lang,source,n_chars\nnotanumber,oops,xx,srcX,12\n"
          .getBytes("UTF-8"))
      val rt = TextIngest.readCsv(s, q136CsvPath, docs.schema)
      require(rt.bad.count() == 1,
        "expected exactly the injected corrupt row in quarantine")
      val agg = rt.good.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(length(col("text"))).as("chars_sum"))
        .orderBy(col("lang"))
      val rows = agg.collect().toSeq
      rt.unpersist()
      s.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), agg.schema)
    },

    // Retention-cohort triangle over the events stream: first-activity
    // week × week offset × active users.
    "q137_retention_cohorts" -> { (s, dir) =>
      graft.streaming.Events.retentionCohorts(t(s, dir, "events"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    // Shipping-priority revenue (TPC-H Q3 shape): segment-filtered
    // customer ⋈ orders ⋈ lineitem, top revenue orders — the canonical
    // 3-way join+agg the offloaded warehouse serves. Deterministic
    // top-10 via the unique orderkey tie-break.
    "q138_ship_priority" -> { (s, dir) =>
      val cut = lit("1995-03-15").cast("timestamp")
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(12,2)") -
              col("l_discount").cast("decimal(12,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate").asc,
          col("l_orderkey").asc)
        .limit(10)
    },

    // Join-key skew profile: the diagnostic that DECIDES when to salt
    // (plan.Salting) — per-key frequencies, their exact percentiles via
    // the no-global-sort quantile operator, and the hottest key's share
    // of all rows in exact ppm.
    "q155_skew_profile" -> { (s, dir) =>
      val cnts = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      val qwide = graft.operators.Quantiles
        .exactQuantiles(cnts, "cnt", Seq(50, 90, 99), bucketWidth = 4L)
        .agg(max(when(col("pct") === 50, col("value"))).as("p50"),
          max(when(col("pct") === 90, col("value"))).as("p90"),
          max(when(col("pct") === 99, col("value"))).as("p99"))
      cnts
        .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("total_rows"),
          max(col("cnt")).as("max_cnt"))
        .crossJoin(qwide)
        .withColumn("top_share_ppm",
          expr("max_cnt * 1000000L div total_rows"))
    },

    // Returned-item revenue (TPC-H Q10 shape): which customers returned
    // the most value in a quarter — join-heavy agg with DECIMAL-exact
    // revenue and a deterministic top-20.
    "q156_returned_revenue" -> { (s, dir) =>
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1996-04-01").cast("timestamp")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(12,2)") -
              col("l_discount").cast("decimal(12,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },

    // Large-volume orders (TPC-H Q18 shape): orders whose total line
    // quantity clears a threshold — the agg-then-rejoin pattern (the
    // HAVING subquery), integer-exact quantities.
    "q157_large_orders" -> { (s, dir) =>
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("long")
          .as("total_qty"))
        .filter(col("total_qty") > 250L)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    },

    // Event-transition matrix (first-order Markov counts): which event
    // follows which per user, with the transition rate in exact ppm —
    // the sequence-mining primitive behind path analysis. The lag window
    // is partitioned per user (bounded by a user's history); the ppm
    // window runs over the types² aggregate.
    "q158_event_transitions" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val tr = ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumnRenamed("event_type", "next_type")
      val wTot = Window.partitionBy(col("prev_type"))
      tr.withColumn("tot", sum(col("n")).over(wTot))
        .withColumn("ppm", expr("n * 1000000L div tot"))
        .drop("tot")
        .orderBy(col("prev_type"), col("next_type"))
    },

    // Quality-decile calibration: exact decile boundaries of the quality
    // score (integer-scaled, via the no-global-sort quantile operator) ×
    // exact-dup incidence per decile — does the score actually separate
    // boilerplate? The curation-policy sanity check.
    "q159_quality_calibration" -> { (s, dir) =>
      val scored = tf(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          (TextAnalysis.qualityScore(col("text")) * lit(1000000.0))
            .cast("long").as("q6"))
      val deciles = (1 to 9).map(_ * 10)
      val pivoted = (1 to 9).map(d =>
        max(when(col("pct") === d * 10, col("value"))).as(s"b$d"))
      val bounds = graft.operators.Quantiles
        .exactQuantiles(scored, "q6", deciles, bucketWidth = 50000L)
        .agg(pivoted.head, pivoted.tail: _*)
      val dup = scored.groupBy(col("text")).agg(count(lit(1)).as("c"))
      val decile = (1 to 9)
        .map(d => when(col("q6") > col(s"b$d"), 1).otherwise(0))
        .reduce(_ + _) + lit(1)
      scored.join(dup, "text")
        .crossJoin(broadcast(bounds))
        .withColumn("decile", decile)
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dups"))
        .withColumn("dup_ppm", expr("n_dups * 1000000L div n_docs"))
        .orderBy(col("decile"))
    },

    // Cumulative user-growth curve: per day, first-time users and the
    // running total — first-activity is a min-agg on the user key, the
    // cumsum runs over the BOUNDED daily aggregate.
    "q160_user_growth" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val first = t(s, dir, "events")
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd")
          .as("day"))
        .groupBy(col("user_id")).agg(min(col("day")).as("day"))
      val daily = first.groupBy(col("day"))
        .agg(count(lit(1)).as("n_new_users"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("cum_users", sum(col("n_new_users")).over(w))
        .orderBy(col("day"))
    },

    // Session-duration profile over the sessionizer output: sessions
    // bucketed by event count with total/mean/max duration in exact µs
    // integers — the engagement read-out a product team runs daily, and a
    // second oracle-checked consumer of the (round-9-normalised)
    // event-time path. Per-user lag/cumsum windows, then a bounded
    // (n_events-keyed) aggregate.
    "q161_session_stats" -> { (s, dir) =>
      graft.streaming.Events.sessionizeBatch(t(s, dir, "events"))
        .select(col("n_events"),
          (unix_micros(col("session_end")) -
            unix_micros(col("session_start"))).as("dur_us"))
        .groupBy(col("n_events"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("dur_us")).as("total_dur_us"),
          max(col("dur_us")).as("max_dur_us"))
        .withColumn("mean_dur_us", expr("total_dur_us div n_sessions"))
        .orderBy(col("n_events"))
    },

    // BM25 retrieval, integer-exact (see TextAnalysis.bm25Search for the
    // rational reduction of k1=1.2, b=0.75): the lexical-ranking upgrade
    // over q105's TF-IDF — same broadcastable statistics, plus the
    // doc-length saturation that makes BM25 the default lexical ranker.
    "q162_bm25" -> { (s, dir) =>
      TextAnalysis.bm25Search(t(s, dir, "documents"), TfIdfTerms,
        k = TfIdfK)
    },

    // Promo revenue share (TPC-H Q14 shape): conditional aggregation over
    // the part join with the share in exact ppm — revenue is scaled to
    // e4 integers (price cents × discount hundredths) so the ratio is one
    // integral divide, not a float.
    "q163_promo_revenue" -> { (s, dir) =>
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1996-03-01").cast("timestamp")
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_partkey"),
          (col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(12,2)") -
              col("l_discount").cast("decimal(12,2)")) *
            lit(10000)).cast("decimal(38,0)").as("rev_e4"))
      li.join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("rev_e4"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("promo_e4"),
          sum(col("rev_e4")).as("total_e4"))
        .select(
          (col("promo_e4") / lit(10000)).cast("double")
            .as("promo_revenue"),
          (col("total_e4") / lit(10000)).cast("double")
            .as("total_revenue"),
          expr("promo_e4 * 1000000 div total_e4").as("promo_ppm"))
    },

    // Returned-order priority counts (TPC-H Q4 shape): orders in a
    // quarter having at least one returned line, counted by priority —
    // the EXISTS/semi-join pattern (never a row-multiplying inner join:
    // an order with 5 returned lines counts once).
    "q164_priority_returns" -> { (s, dir) =>
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1996-04-01").cast("timestamp")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      val returned = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      ord.join(returned, col("o_orderkey") === col("l_orderkey"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },

    // Inter-event gap quantiles: exact p50/p90/p99 of same-user event
    // gaps (µs) via the no-global-sort quantile operator — the number
    // that PICKS the sessionization gap threshold, closing the loop with
    // q24/q161. Per-user lag windows (bounded by a user's history) feed
    // the bucketed two-phase selection; no global sort anywhere.
    "q165_gap_quantiles" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap_us").isNotNull)
      graft.operators.Quantiles
        .exactQuantiles(gaps, "gap_us", Seq(50, 90, 99),
          bucketWidth = 60L * 1000000L)
        .orderBy(col("pct"))
    },

    // HLL register-sketch cardinality per return flag, with the exact
    // distinct count and the error in ppm alongside — the fourth sketch
    // family member (registers), every register and the fixed-point
    // estimate reproduced digit-for-digit by the oracle. m = 256
    // registers ⇒ one broadcast-sized relation per group regardless of
    // corpus size; the only shuffle is the (grp, register) max-combine.
    "q166_hll_distinct" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_partkey"))
      val est = graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllRegisters(
          li, "l_returnflag", "l_partkey"))
      val exact = li.groupBy(col("l_returnflag").as("grp"))
        .agg(countDistinct(col("l_partkey")).as("exact_distinct"))
      est.join(exact, "grp")
        .select(col("grp").as("l_returnflag"), col("hll_estimate"),
          col("exact_distinct"),
          expr("abs(hll_estimate - exact_distinct) * 1000000 " +
            "div exact_distinct").as("err_ppm"))
        .orderBy(col("l_returnflag"))
    },

    // CMS inner-product join-size estimate: predict |clicks ⋈ purchases|
    // on user_id from two broadcast-sized sketches — the join-PLANNING
    // diagnostic beside q155's skew profile (estimate ≥ truth, the
    // Cormode–Muthukrishnan bound). The exact join size alongside
    // quantifies the bound; at 100 TB the sketches are two map passes
    // where the join they predict may be hours.
    "q167_join_size_estimate" -> { (s, dir) =>
      import graft.operators.Sketches
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
      val purchases = ev.filter(col("event_type") === "purchase")
      val est = Sketches.cmsInnerProduct(
        Sketches.countMinValues(clicks, "user_id", CmsDepth, CmsHexChars),
        Sketches.countMinValues(purchases, "user_id", CmsDepth,
          CmsHexChars))
      val exact = clicks.select(col("user_id"))
        .join(purchases.select(col("user_id").as("p_user_id")),
          col("user_id") === col("p_user_id"))
        .agg(count(lit(1)).as("exact_join_size"))
      est.crossJoin(exact)
        .withColumn("overestimate",
          col("join_size_est") - col("exact_join_size"))
    },

    // Embedding-space diversity per label: mean pairwise dot product via
    // the CENTROID TRICK — Σ_{i≠j} dot(q_i,q_j) = Σ_d S_d² − Σ_i ||q_i||²
    // — so the all-pairs statistic costs one per-dimension sum (N·dim
    // rows, map-side combined) instead of an N² pair join. Components are
    // scaled to e3 integers first (trunc, deterministic in both
    // engines), making every sum exact; the S_d² square runs in
    // DECIMAL(38,0) because at 100 TB a per-dimension sum is ~1e12 and
    // its square overflows a long. The mode-collapse / duplication
    // signal an embedding-quality audit reads per source.
    "q169_embedding_diversity" -> { (s, dir) =>
      val scaled = t(s, dir, "embeddings")
        .select(col("label"),
          expr("transform(embedding, " +
            "x -> cast(cast(x as double) * 1000 as bigint))").as("q"))
      val perRow = scaled.withColumn("sq",
        expr("aggregate(q, 0L, (acc, x) -> acc + x * x)"))
      val sums = perRow
        .select(col("label"), posexplode(col("q")).as(Seq("d", "v")))
        .groupBy(col("label"), col("d")).agg(sum(col("v")).as("s_d"))
        .groupBy(col("label"))
        .agg(sum(expr("cast(s_d as decimal(38,0)) * s_d")).as("sum_sd2"))
      val tots = perRow.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("sq")).as("t"))
      sums.join(tots, "label")
        .filter(col("n") > 1)
        .select(col("label"), col("n"),
          expr("(sum_sd2 - t) div (n * (n - 1))").as("mean_pair_dot_e6"))
        .orderBy(col("label"))
    },

    // Embedding centroid drift between snapshots: per label, the squared
    // L2 distance between snapshot A's and B's centroids (A/B split by
    // vec_id parity, the q125 synthesis convention) — the embedding-space
    // member of the drift family (q125 corpus diff, q135 card drift): an
    // encoder change or corpus shift announces itself here before any
    // downstream ANN metric moves. Per-dim means are e6-scaled integers
    // (component e3 scale × 1000, integral `div` n), so the distance is
    // exact and engine-portable. One per-dimension partial-agg shuffle,
    // outputs labels × 1 rows.
    "q170_centroid_drift" -> { (s, dir) =>
      val scaled = t(s, dir, "embeddings")
        .select(col("label"), (col("vec_id") % 2 === 0).as("snap_a"),
          expr("transform(embedding, " +
            "x -> cast(cast(x as double) * 1000 as bigint))").as("q"))
      val dimSums = scaled
        .select(col("label"), col("snap_a"),
          posexplode(col("q")).as(Seq("d", "v")))
        .groupBy(col("label"), col("snap_a"), col("d"))
        .agg(sum(col("v")).as("s_d"), count(lit(1)).as("n"))
        .withColumn("m_d", expr("(s_d * 1000) div n"))
      val a = dimSums.filter(col("snap_a"))
        .select(col("label"), col("d"), col("m_d").as("ma"), col("n").as("na"))
      val b = dimSums.filter(!col("snap_a"))
        .select(col("label"), col("d"), col("m_d").as("mb"), col("n").as("nb"))
      a.join(b, Seq("label", "d"))
        .groupBy(col("label"))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          sum(expr("cast(ma - mb as decimal(38,0)) * (ma - mb)"))
            .cast("long").as("drift_l2sq_e12"))
        .orderBy(col("label"))
    },

    // Token-weighted doc-length percentiles: the doc length below which
    // p% of the corpus's TOKENS (not docs) lie — what a truncation or
    // packing policy actually needs, since doc-count percentiles (q154)
    // over-weight short docs. Exact weighted two-phase selection, the
    // only window bounded by bucketWidth per percentile.
    "q171_token_weighted_lengths" -> { (s, dir) =>
      val lens = t(s, dir, "documents")
        .select(TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      graft.operators.Quantiles
        .exactWeightedQuantiles(lens.withColumn("w", col("n_tokens")),
          "n_tokens", "w", Seq(50, 90, 99), bucketWidth = 64L)
        .orderBy(col("pct"))
    },

    // Per-source token-weighted length medians/p90: q171's policy number
    // split by source — each source's truncation bound from ITS token
    // mass, the per-domain policy knob (q113's table decides inclusion,
    // this decides the cut).
    "q172_source_weighted_lengths" -> { (s, dir) =>
      val lens = t(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("w", col("n_tokens"))
      graft.operators.Quantiles
        .exactGroupWeightedQuantiles(lens, "source", "n_tokens", "w",
          Seq(50, 90), bucketWidth = 64L)
        .orderBy(col("source"), col("pct"))
    },

    // Per-doc percentile-rank normalization: each doc's token count as
    // an exact ppm percentile rank WITHIN its source — the
    // score-normalization primitive that makes quality cutoffs
    // comparable across sources with different length profiles.
    // Scale shape: the rank is NOT a per-row window — cumulative counts
    // run over the (source, value) aggregate (bounded by distinct
    // values), and docs join back by value key. Top-5 per source keeps
    // the output bounded.
    "q173_length_percentile_rank" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_tokens"))
      val byVal = docs.groupBy(col("source"), col("n_tokens"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("source")).orderBy(col("n_tokens"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = byVal
        .withColumn("cum_le", sum(col("c")).over(wCum))
      val totals = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
      val wTop = Window.partitionBy(col("source"))
        .orderBy(col("pct_rank_ppm").desc, col("doc_id").asc)
      docs.join(ranked, Seq("source", "n_tokens"))
        .join(broadcast(totals), "source")
        .withColumn("pct_rank_ppm", expr("cum_le * 1000000L div n"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("pct_rank_ppm"))
        .orderBy(col("source"), col("doc_id"))
    },

    // Benford first-digit audit: observed vs expected leading-digit
    // frequency of order totals, deviations in exact ppm — the classic
    // fabricated-data / unit-mix-up detector for a financial column.
    // Expected Benford frequencies log10(1+1/d) are FIXED integer ppm
    // constants (no runtime float); the digit comes from the integer
    // cents' decimal string (identical in both engines — q153's proven
    // cents cast). One partial-agg shuffle to 9 rows.
    "q174_benford_audit" -> { (s, dir) =>
      val expected = Seq(301030, 176091, 124939, 96910, 79181, 66947,
        57992, 51153, 45757)
      val expectedExpr = expected.zipWithIndex
        .map { case (ppm, i) => s"WHEN ${i + 1} THEN ${ppm}L" }
        .mkString("CASE d ", " ", " ELSE 0L END")
      val cents = t(s, dir, "orders")
        .select((col("o_totalprice") * 100).cast("long").as("cents"))
        .filter(col("cents") > 0)
      val digits = cents
        .withColumn("d",
          expr("cast(substring(cast(cents as string), 1, 1) as int)"))
        .groupBy(col("d")).agg(count(lit(1)).as("n"))
      val total = cents.agg(count(lit(1)).as("total"))
      digits.crossJoin(broadcast(total))
        .withColumn("observed_ppm", expr("n * 1000000L div total"))
        .withColumn("expected_ppm", expr(expectedExpr))
        .withColumn("dev_ppm",
          abs(col("observed_ppm") - col("expected_ppm")))
        .select(col("d"), col("n"), col("observed_ppm"),
          col("expected_ppm"), col("dev_ppm"))
        .orderBy(col("d"))
    },

    // Session-scoped conversion funnel: view→click→purchase ordered
    // WITHIN one session (q142's user-level convention, session-scoped
    // via the shared assignSessions definition) — the product-analytics
    // number that distinguishes "converted eventually" from "converted
    // in the visit". Per-(user, session) keyed aggregates only; output
    // is one row of four counts.
    "q175_session_funnel" -> { (s, dir) =>
      val ev = graft.streaming.Events.assignSessions(t(s, dir, "events"))
        .select(col("user_id"), col("session_idx"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val keys = Seq("user_id", "session_idx")
      val v = ev.filter(col("event_type") === "view")
        .groupBy(keys.map(col): _*).agg(min(col("us")).as("v_us"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, keys).filter(col("us") > col("v_us"))
        .groupBy(keys.map(col): _*).agg(min(col("us")).as("c_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, keys).filter(col("us") > col("c_us"))
        .groupBy(keys.map(col): _*).agg(count(lit(1)).as("np"))
      ev.select(keys.map(col): _*).distinct()
        .agg(count(lit(1)).as("n_sessions"))
        .crossJoin(v.agg(count(lit(1)).as("n_view")))
        .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_full_funnel")))
    },

    // Forecast-revenue delta (TPC-H Q6 shape): the pure scan-filter-agg
    // query — no join, no shuffle beyond the final agg; the plan should
    // be one WholeStageCodegen span over the parquet scan with every
    // predicate pushed. DECIMAL-exact revenue.
    "q168_forecast_revenue" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          expr("cast(l_discount as decimal(12,2)) between 0.05 and 0.07") &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            col("l_discount").cast("decimal(12,2)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // Count-min frequency sketch: fixed-size cell relation over token
    // occurrences, probed for known-common / rare / absent tokens —
    // estimate ≥ truth always, equality when cells are collision-free.
    "q139_countmin" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents")
      val cells = graft.operators.Sketches.countMin(
        docs, CmsDepth, CmsHexChars)
      val probes = CmsProbeTokens.toDF("tok")
      val truth = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("true_count"))
      graft.operators.Sketches
        .cmsEstimate(cells, probes, CmsDepth, CmsHexChars)
        .join(truth, Seq("tok"), "left")
        .na.fill(0L, Seq("true_count"))
        .withColumn("overestimate",
          col("cms_estimate") - col("true_count"))
        .select(col("tok"), col("true_count"), col("cms_estimate"),
          col("overestimate"))
        .orderBy(col("tok"))
    },

    // Bloom-filter decontamination prefilter: benchmark shingles →
    // kilobyte bit-set, corpus probed map-side; flagged docs carry the
    // exact-truth columns so the false-positive rate is measured, not
    // assumed (the exact pass q58 then confirms only flagged docs).
    "q140_bloom_decontam" -> { (s, dir) =>
      val docs = tf(s, dir, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
      val bits = graft.operators.Sketches.bloomBits(
        bench, BloomDepth, BloomHexChars)
      val probed = graft.operators.Sketches.bloomProbe(
        docs, bits, BloomDepth, BloomHexChars)
      val benchSh = bench
        .select(explode(Dedup.shingles(col("text"))).as("shingle"))
        .distinct()
      val truth = docs.select(col("doc_id"),
          explode(Dedup.shingles(col("text"))).as("shingle"))
        .join(benchSh, Seq("shingle"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_true"))
      probed.join(truth, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_true"))
        .withColumn("n_false_pos", col("n_maybe") - col("n_true"))
        .filter(col("n_maybe") > 0)
        .orderBy(col("doc_id"))
    },

    // Dedup-graph shape stats: nodes / edges / max degree / triangles
    // over the LSH candidate graph — triangle density distinguishes
    // template clusters (cliques) from chain-like false-positive paths.
    "q141_graph_stats" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val e = CcArtifact.pairs(s, dir)
        .select(col("id_a"), col("id_b"))
      val deg = e.select(col("id_a").as("id"))
        .unionByName(e.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      // triangles a<b<c: each counted exactly once via canonical edge
      // orientation — three key-equi joins over the (small) edge relation
      val tri = e.toDF("a", "b")
        .join(e.toDF("b", "c"), "b")
        .join(e.toDF("a", "c"), Seq("a", "c"))
        .agg(count(lit(1)).as("n_triangles"))
      deg.agg(count(lit(1)).as("n_nodes"), max(col("deg")).as("max_degree"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("max_degree"),
          col("n_triangles"))
    },

    // Per-node clustering coefficient over the LSH candidate graph:
    // 2·tri(v) / (deg(v)·(deg(v)−1)) in exact ppm — ~1e6 marks template
    // CLIQUES (every neighbor also near-duplicates every other), low
    // values mark hub-like false-positive chains; the node-level
    // companion to q141's global triangle count. Same canonical a<b<c
    // enumeration, exploded to member nodes.
    "q199_clustering_coefficient" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val e = CcArtifact.pairs(s, dir)
        .select(col("id_a"), col("id_b"))
      val deg = e.select(col("id_a").as("id"))
        .unionByName(e.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val tri = e.toDF("a", "b")
        .join(e.toDF("b", "c"), "b")
        .join(e.toDF("a", "c"), Seq("a", "c"))
      val triPerNode = tri.select(explode(array(col("a"), col("b"),
          col("c"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
      deg.filter(col("deg") >= 2)
        .join(triPerNode, Seq("id"), "left_outer")
        .select(col("id").as("doc_id"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          expr("coalesce(n_tri, 0L) * 2 * 1000000 div (deg * (deg - 1))")
            .as("coeff_ppm"))
        .orderBy(col("coeff_ppm").desc, col("doc_id"))
        .limit(20)
    },

    // Conversion funnel: view → click → purchase in strict temporal
    // order per user, all timestamps compared as integer microseconds
    // (both engines see the same µs values).
    "q142_event_funnel" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("us") > col("v_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("us") > col("c_us"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_full_funnel")))
    },

    // Local-supplier volume (TPC-H Q5 shape): the 6-way star join with
    // the customer-nation = supplier-nation constraint — revenue per
    // nation in one region.
    "q143_local_supplier" -> { (s, dir) =>
      val lo = lit("1994-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
          .select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"),
            col("l_suppkey"), col("l_extendedprice"), col("l_discount")),
          col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(12,2)") -
              col("l_discount").cast("decimal(12,2)")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    },

    // Time-series smoothing: daily purchase revenue with a 7-day moving
    // average and day-over-day delta — ordered window frames over an
    // aggregated (bounded) daily relation, never over raw events.
    "q144_moving_avg" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("revenue"),
          count(lit(1)).as("n"))
      val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
      daily
        // DECIMAL-exact window sum, then one double division — decimal
        // division scale rules differ across engines, double division
        // of exact operands does not
        .withColumn("ma7", sum(col("revenue")).over(w).cast("double") /
          count(lit(1)).over(w).cast("double"))
        .withColumn("prev_revenue",
          lag(col("revenue"), 1).over(Window.orderBy(col("day"))))
        .withColumn("delta", (col("revenue") -
          coalesce(col("prev_revenue"), col("revenue")))
          .cast("decimal(18,2)"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("revenue").cast("double").as("revenue"), col("n"),
          col("ma7"), col("delta").cast("double").as("delta"))
        .orderBy(col("day"))
    },

    // Pivot by conditional aggregation: events per day × type as
    // columns — the portable pivot shape (identical in any engine).
    "q145_event_pivot" -> { (s, dir) =>
      def cnt(tpe: String) =
        sum(when(col("event_type") === tpe, 1L).otherwise(0L))
      t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(cnt("view").as("n_view"), cnt("click").as("n_click"),
          cnt("purchase").as("n_purchase"), cnt("signup").as("n_signup"),
          cnt("error").as("n_error"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_view"), col("n_click"), col("n_purchase"),
          col("n_signup"), col("n_error"))
        .orderBy(col("day"))
    },

    // Perceptual image near-dup: REAL PNG decode → integer average-hash
    // bit string → hash-equality grouping. Seeds collide mod 50, so the
    // hash groups recover exactly the duplicated patterns.
    "q146_image_hash" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val hashes = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.averageHashBits(
            Multimodal.syntheticPatternPng(id % 50)).get)
        }).toDF("doc_id", "ahash")
      hashes.withColumn("n_same",
          count(lit(1)).over(Window.partitionBy(col("ahash"))))
        .orderBy(col("doc_id"))
    },

    // Budget apportionment: corpus stats → exact per-source token
    // allocation (largest remainder) — the step that produces the ppm
    // recipes the mixture samplers consume; allocations sum to the
    // budget EXACTLY.
    "q147_budget_allocation" -> { (s, dir) =>
      val stats = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long"))
          .as("n_tokens"))
      graft.operators.DatasetOps.allocateBudget(stats, AllocBudget)
        .orderBy(col("source"))
    },

    // Hybrid retrieval: reciprocal-rank fusion of the lexical (TF-IDF)
    // and vector (cosine) rankings — the RAG hybrid-search shape, in
    // exact integer arithmetic (10⁶ div (60 + rank)).
    "q148_hybrid_fusion" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val text = TextAnalysis.tfIdfSearch(
          t(s, dir, "documents"), TfIdfTerms, k = FusionK)
        .withColumn("r_text", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc))
          .cast("long"))
        .select(col("doc_id"), col("r_text"))
      val vec = Similarity.cosineTopK(
          t(s, dir, "embeddings"), queryId = 0, k = FusionK, dim = Dim)
        .withColumn("r_vec", row_number().over(
          Window.orderBy(col("score").desc, col("vec_id").asc))
          .cast("long"))
        .select(col("vec_id").as("doc_id"), col("r_vec"))
      text.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("fused",
          coalesce(expr(s"1000000 div ($RrfK + r_text)"), lit(0L)) +
            coalesce(expr(s"1000000 div ($RrfK + r_vec)"), lit(0L)))
        .orderBy(col("fused").desc, col("doc_id").asc)
        .limit(10)
    },

    // Source-overlap matrix via a typed Aggregator UDAF: the minhash of
    // a UNION is the slot-wise min of member signatures, so group
    // signatures aggregate associatively — source×source estimated
    // Jaccard with NO doc-pair join anywhere.
    "q149_source_similarity" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val sigs = Dedup.minhashSignatures(docs, NumHashes)
        .join(docs.select(col("doc_id").as("sid"), col("source")), "sid")
        .withColumn("sigs",
          array((0 until NumHashes).map(i => col(s"sig_$i")): _*))
      val minSig = udaf(new graft.functions.MinSigAggregator(NumHashes))
      val bySource = sigs.groupBy(col("source"))
        .agg(minSig(col("sigs")).as("gsig"))
      val a = bySource.select(col("source").as("src_a"),
        col("gsig").as("ga"))
      val b = bySource.select(col("source").as("src_b"),
        col("gsig").as("gb"))
      val nMatch = (0 until NumHashes).map(i =>
        when(col("ga").getItem(i) === col("gb").getItem(i), 1L)
          .otherwise(0L)).reduce(_ + _)
      a.crossJoin(b).filter(col("src_a") < col("src_b"))
        .withColumn("n_match", nMatch)
        .withColumn("est_jaccard",
          col("n_match").cast("double") / lit(NumHashes.toDouble))
        .select(col("src_a"), col("src_b"), col("n_match"),
          col("est_jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // Media byte-stat pipeline, oracle-exact: the integer projections of
    // the q36 fallback path (byte mass, quantised entropy, decode
    // verdicts) aggregated per kind — DuckDB recomputes every number
    // from the ASCII payload bytes, closing the one formerly rows-only
    // surface with an exact check (float byte_mean stays q36-only).
    "q150_media_bytes" -> { (s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.fromDocuments(t(s, dir, "documents")))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("n_bytes")).as("total_bytes"),
          sum(col("byte_sum")).as("byte_sum"),
          sum(col("byte_entropy_q")).as("sum_entropy_q"),
          sum(col("decoded").cast("long")).as("n_decoded"))
        .orderBy(col("kind"))
    },

    // Duplication centrality: integer PageRank over the LSH candidate
    // graph — which docs are duplication hubs (templates, mirrors).
    "q124_dup_rank" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.duplicationRank(CcArtifact.pairs(s, dir),
          rounds = PrRounds)
        .orderBy(col("doc_id"))
    },

    // Snapshot diff: version B synthesized deterministically from the
    // corpus (drop %17, edit %13, add %19 under shifted ids) — the
    // added/removed/changed/unchanged audit between releases.
    "q125_snapshot_diff" -> { (s, dir) =>
      val a = t(s, dir, "documents")
      val b = a.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(a.filter(col("doc_id") % 19 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)),
          allowMissingColumns = false)
      graft.operators.DatasetOps.snapshotDiff(a, b)
        .orderBy(col("doc_id"))
    },

    // Temperature-scaled mixing (α = 0.5): kept volume per source follows
    // sqrt(n) — the multilingual flattening recipe; smallest source keeps
    // everything.
    "q120_temperature_mix" -> { (s, dir) =>
      graft.operators.DatasetOps.temperatureSample(
          t(s, dir, "documents"), groupCol = "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("source"))
    },

    "q37_offload_e2e" -> { (s, dir) =>
      import graft.orchestrate.OffloadRunner
      // fresh workspace per invocation: repeated verify runs must not see a
      // previous run's metadata/HWM (incremental mode would then append)
      val base = java.nio.file.Files
        .createTempDirectory("graft_offload_e2e").toString
      val steps = OffloadRunner.offload(s, OffloadRunner.OffloadConfig(
        sourceTable = "lineitem",
        sourcePath = s"$dir/lineitem.parquet",
        stagingPath = s"$base/staging",
        finalPath = s"$base/final",
        metadataDir = s"$base/meta",
        predicateDsl = Some("(column(l_shipdate) < datetime(1998-01-01))"),
        incrementalKey = Seq("l_orderkey")))
      // the step sequence and outcomes are the deterministic contract (the
      // oracle pins them); details carry run-specific paths/timings
      import s.implicits._
      steps.zipWithIndex.map { case (r, i) => (i, r.name, r.ok) }
        .toDF("step_order", "step", "ok")
    },

    // kNN label-agreement confusion matrix: for a deterministic sample
    // of vectors, the label of each one's exact nearest neighbor vs its
    // own — the embedding-quality audit a labeled corpus runs before
    // trusting the space for hard-negative mining (q222) or SemDeDup
    // (q190): a strong diagonal = labels cohere geometrically, a hot
    // off-diagonal cell = two labels the encoder confuses. The floats
    // stay PER-ROW (the unrolled dot kernel both engines share; unit
    // vectors ⇒ dot = cosine) and only integer COUNTS aggregate — no
    // cross-row float sums, so the hash gate stays exact. Sample
    // broadcast against the corpus, top-1 via the rank-limit filter
    // (WindowGroupLimit — map-side per-group head, the q222 shape); at
    // 100 TB the probe side goes through the IVF shortlist exactly as
    // q110 serves it.
    "q315_knn_label_agreement" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val sample = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"),
          col("embedding").as("q_vec"),
          col("label").as("q_label"))
      val scored = emb.crossJoin(broadcast(sample))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"),
          col("label").as("nn_label"), col("vec_id"),
          Similarity.dot(col("embedding"), col("q_vec"), Dim)
            .as("score"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .groupBy(col("q_label").cast("long").as("q_label"),
          col("nn_label").cast("long").as("nn_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("q_label"), col("nn_label"))
    },

    // CENTROID PURITY in exact integer arithmetic: quantize every
    // component to e4 fixed point (floor(v·1e4) — one double multiply
    // + floor, bit-identical across engines), build per-label integer
    // centroids (sign-decomposed mean per dimension), and count how
    // many vectors sit nearest their OWN label's centroid by integer
    // dot product. The CLUSTER-level embedding-space audit beside
    // q315's NEIGHBOR-level one — and the cheap one at 100 TB:
    // |labels| centroid comparisons per vector instead of a kNN probe,
    // the same fan as IVF assignment (q190's path), with every
    // aggregate an exact integer so the DuckDB oracle hash-matches.
    // Argmax ties break (dot DESC, centroid label ASC).
    "q327_centroid_purity" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val q = quantizedEmbeddings(s, dir)
      val cents = quantizedCentroids(q)
        .select(col("label").as("c_label"), col("d"), col("cv"))
      val dots = q.join(broadcast(cents), "d")
        .groupBy(col("vec_id"), col("label"), col("c_label"))
        .agg(sum(expr("qv * cv")).as("dot"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("dot").desc, col("c_label"))
      dots.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("c_label") === col("label"), 1L).otherwise(0L))
            .as("n_pure"))
        .select(col("label"), col("n_vecs"), col("n_pure"),
          expr("n_pure * 1000000 div n_vecs").as("purity_ppm"))
        .orderBy(col("label"))
    },

    // LABEL SCATTER SEPARATION — the Davies–Bouldin primitive over the
    // embedding labels: per label the mean squared distance to its own
    // INTEGER centroid (within-scatter, the q327 e4 quantization so
    // everything stays exactly integral), the nearest other centroid
    // with its squared distance, and the worst Davies–Bouldin ratio
    // (sᵢ + sⱼ)/m_ij in ppm (high = that pair of labels blurs
    // together). Scale shape: scatter is one linear pass over the
    // quantized components; the centroid–centroid grid is
    // |labels|² ≤ 100 rows (both join sides AGGREGATES — bounded by
    // construction); all divisions truncating over non-negative
    // integers, ratio argmax ties to the smallest other label.
    "q355_label_scatter" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val q = quantizedEmbeddings(s, dir)
      val cents = quantizedCentroids(q)
      // broadcast: cents is |labels|·|dims| rows against the exploded
      // fact — without the hint the dominant cost is a sort-merge
      // shuffle of every (vector, dim) row (the q327 discipline)
      val within = q.join(broadcast(cents), Seq("label", "d"))
        .groupBy(col("label"), col("vec_id"))
        .agg(sum(expr("(qv - cv) * (qv - cv)")).as("d2"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          expr("CAST(sum(d2) div count(1) AS BIGINT)")
            .as("within_e8"))
      val grid = cents.toDF("la", "d", "ca")
        .join(cents.toDF("lb", "d", "cb"), "d")
        .filter(col("la") =!= col("lb"))
        .groupBy(col("la"), col("lb"))
        .agg(sum(expr("(ca - cb) * (ca - cb)")).as("m2"))
      val ratios = grid
        .join(within.select(col("label").as("la"),
          col("within_e8").as("sa")), "la")
        .join(within.select(col("label").as("lb"),
          col("within_e8").as("sb")), "lb")
        .select(col("la"), col("lb"), col("m2"),
          expr("""CAST((sa + sb) * 1000000 div greatest(m2, 1)
                  AS BIGINT)""").as("db_ppm"))
      val wNear = Window.partitionBy(col("la"))
        .orderBy(col("m2"), col("lb"))
      val wWorst = Window.partitionBy(col("la"))
        .orderBy(col("db_ppm").desc, col("lb"))
      ratios
        .withColumn("rk_near", row_number().over(wNear))
        .withColumn("rk_db", row_number().over(wWorst))
        .groupBy(col("la").as("label"))
        .agg(max(when(col("rk_near") === 1, col("lb")))
            .as("nearest_label"),
          max(when(col("rk_near") === 1, col("m2")))
            .as("nearest_dist_e8"),
          max(when(col("rk_db") === 1, col("db_ppm")))
            .as("db_worst_ppm"))
        .join(within, Seq("label"))
        .select(col("label"), col("n_vecs"), col("within_e8"),
          col("nearest_label"), col("nearest_dist_e8"),
          col("db_worst_ppm"))
        .orderBy(col("label"))
    },

    // SHUFFLE INTERLEAVE AUDIT: does the deterministic epoch shuffle
    // (q81's relation) actually disperse each source across the epoch,
    // or do same-source docs clump? Per source: mean normalized
    // position plus the hottest/coldest decile shares of the source's
    // docs — a uniform interleave reads mean ≈ 500000 ppm and every
    // decile share ≈ 100000 ppm; a clumped source starves late batches
    // of its gradient signal. Positions quantize into 10 deciles
    // against the broadcast corpus size, so everything after the
    // shuffle is (source × 10)-scale; the dense source×decile grid is
    // built from the bounded source dimension (an empty decile must
    // read 0 or the cold-side min silently skips it). DECIMAL(38,0)
    // lift on the rank sum — Σrank is N²-scale and overflows a long
    // well before 100 TB.
    "q376_shuffle_dispersion" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val sh = graft.operators.DatasetOps
        .deterministicShuffle(docs, batchSize = 64L)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      val nTot = sh.agg(count(lit(1)).as("n_total"))
      val pos = sh.crossJoin(broadcast(nTot))
        .select(col("source"), col("shuffle_rank"), col("n_total"),
          expr("(shuffle_rank - 1) * 10 div n_total").as("decile"))
      val byDec = pos.groupBy(col("source"), col("decile"))
        .agg(count(lit(1)).as("c"))
      val bySrc = pos.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("shuffle_rank").cast("decimal(38,0)")).as("rk_sum"),
          max(col("n_total")).as("n_total"))
      val grid = docs.select(col("source")).distinct()
        .select(col("source"),
          explode(sequence(lit(0L), lit(9L))).as("decile"))
      grid.join(byDec, Seq("source", "decile"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .groupBy(col("source"))
        .agg(max(col("c")).as("hot_c"), min(col("c")).as("cold_c"))
        .join(bySrc, "source")
        .select(col("source"), col("n_docs"),
          expr("""CAST(rk_sum * 1000000
                  div (CAST(n_docs AS DECIMAL(38,0)) * n_total)
                  AS BIGINT)""").as("mean_pos_ppm"),
          expr("CAST(hot_c * 1000000 div n_docs AS BIGINT)")
            .as("hot_decile_ppm"),
          expr("CAST(cold_c * 1000000 div n_docs AS BIGINT)")
            .as("cold_decile_ppm"))
        .orderBy(col("source"))
    },

    // MATRYOSHKA TRUNCATION RECALL: top-10 cosine retrieval quality
    // when the 64-d embeddings are truncated to their 32-/16-d
    // prefixes — the eval a deployment runs before shipping truncated
    // vectors (half/quarter the index bytes buys what recall?). 16
    // query vectors broadcast against the corpus (the audited q33
    // shape, one scan per level), per-query top-10 via per-group rank
    // (WindowGroupLimit — never a global sort), recall = overlap with
    // the full-dim truth set via a left join that PRESERVES
    // zero-overlap queries. Scoring rides the PREFIX dot kernel
    // (graft_dot_prefix — r18): the unrolled dotChain/normSqChain at
    // d = 128 blew past the codegen method-size limit, so the whole
    // scoring stage silently fell back to interpreted per-row eval
    // (~2 s of executor time for a 2 000-row corpus, measured); the
    // kernel is a fixed-size loop, bitwise-identical to the chain term
    // for term (VectorFunctionsSpec pins it), so the oracle's unrolled
    // SQL still hash-matches at every truncation width. Everything
    // after the scans is (levels × queries × 10)-scale.
    "q378_matryoshka_recall" -> { (s, dir) =>
      import graft.functions.VectorFunctions.dotPrefixNative
      val emb = t(s, dir, "embeddings")
      val nq = 16
      import org.apache.spark.sql.expressions.Window
      def topAt(d: Int): DataFrame = {
        val withN = emb.withColumn("nrm",
          sqrt(dotPrefixNative(col("embedding"), col("embedding"), d)))
        val qs = withN.filter(col("vec_id") < nq)
          .select(col("vec_id").as("q_id"),
            col("embedding").as("q_vec"), col("nrm").as("q_nrm"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("score").desc, col("vec_id"))
        withN.crossJoin(broadcast(qs))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("score",
            dotPrefixNative(col("embedding"), col("q_vec"), d) /
              (col("nrm") * col("q_nrm")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .select(col("q_id"), col("vec_id"))
      }
      val truth = topAt(Dim).withColumn("hit", lit(1L))
      Seq(32, 16).map { d =>
        topAt(d)
          .join(truth, Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
          .agg(count(lit(1)).as("n_queries"),
            expr(s"CAST(sum(hits) * 1000000 div (count(1) * 10) " +
              "AS BIGINT)").as("mean_recall_ppm"),
            expr("CAST(min(hits) * 100000 AS BIGINT)")
              .as("min_recall_ppm"))
          .select(lit(d.toLong).as("trunc_dim"), col("n_queries"),
            col("mean_recall_ppm"), col("min_recall_ppm"))
      }.reduce(_ unionByName _)
        .orderBy(col("trunc_dim").desc)
    },

    // IVF REBALANCE PLAN: the index-maintenance query — per cell of
    // q49's cell scheme, the resident population vs the even-split
    // target (n_total div nlist); a cell above 2× target is a split
    // candidate (its probes scan too much), below half target a merge
    // candidate (its directory overhead buys nothing). One keyed
    // aggregate over the assignment relation; the plan itself is
    // nlist-scale. The dense cell grid comes from the MODEL, not the
    // data — an empty cell must still report 'merge', or the planner
    // never reclaims it.
    "q380_ivf_rebalance" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id").isInCollection(IvfSeedIds))
        .orderBy(col("vec_id")).select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val centroids = seeds.map { c =>
        val nrm = math.sqrt(c.map(x => x * x).sum)
        c.map(_ / nrm)
      }
      val model = IvfIndex.Model(centroids)
      val counts = IvfIndex.assign(emb, model, Dim)
        .groupBy(col("ivf_cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_vecs"))
      val tot = emb.agg(count(lit(1)).as("n_total"))
      s.range(IvfSeedIds.size.toLong)
        .select(col("id").as("cell"))
        .join(counts, Seq("cell"), "left")
        .withColumn("n_vecs", coalesce(col("n_vecs"), lit(0L)))
        .crossJoin(broadcast(tot))
        .select(col("cell"), col("n_vecs"),
          expr("CAST(n_vecs * 1000000 div n_total AS BIGINT)")
            .as("share_ppm"),
          expr(s"CAST(n_total div ${IvfSeedIds.size} AS BIGINT)")
            .as("target"),
          expr(s"""CASE
              WHEN n_vecs > (n_total div ${IvfSeedIds.size}) * 2
                THEN 'split'
              WHEN n_vecs * 2 < (n_total div ${IvfSeedIds.size})
                THEN 'merge'
              ELSE 'keep' END""").as("action"))
        .orderBy(col("cell"))
    },

    // LSH BAND-COUNT RECALL SWEEP: at the fixed 16-hash signature,
    // recall of the banded candidate join against the EXACT
    // jaccard ≥ 0.5 pair truth for bands ∈ {2, 4, 8} — the benefit
    // curve paired with q231's cost curve (pair budget per band) and
    // q132's precision curve: together they are the complete
    // band-count tuning read. The signature relation is computed once
    // and checkpointed (three band layouts re-slice it); each sweep
    // point is the banded equi-join (never all-pairs) semi-joined to
    // the truth relation. The 3-row result is cut eagerly before the
    // checkpoints release.
    "q381_lsh_band_sweep" -> { (s, dir) =>
      // sigs and the exact-jaccard truth come from the shared artifacts
      // (NOT released here — they outlive this call by design); the b=4
      // probe is exactly the shared candidate-pair artifact
      val sigs = CcArtifact.sigs(s, dir)
      val truth = CcArtifact.jacc0(s, dir)
        .filter(col("jaccard") >= JaccardThreshold)
        .select(col("id_a"), col("id_b"))
        .cut(false) // three band probes read it
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      graft.tools.ExplainAudit.auditedCut(
        Seq(2, 4, 8).map { b =>
          (if (b == Bands) CcArtifact.pairs(s, dir)
           else Dedup.lshCandidates(sigs, NumHashes, b))
            .join(truth, Seq("id_a", "id_b"), "left_semi")
            .agg(count(lit(1)).as("n_hit"))
            .crossJoin(broadcast(nTruth))
            .select(lit(b.toLong).as("bands"), col("n_hit"),
              col("n_truth"),
              expr("CAST(n_hit * 1000000 div n_truth AS BIGINT)")
                .as("recall_ppm"))
        }.reduce(_ unionByName _).orderBy(col("bands")),
        "q381_lsh_band_sweep")
    },

    // DOMINANT-DIRECTION POWER ITERATION: the top eigen-direction of
    // the embedding second-moment matrix and its share of the total —
    // the "how much of the space is one axis" read completing the
    // geometry trio (q363 says the space leans, q365 says which raw
    // axes are dead, this finds the LEANING axis even when it is no
    // raw axis at all; a share near 1e6 means cosine scores are mostly
    // one component — the rogue-dimension pathology). The corpus is
    // touched ONCE to build the 64×64 integer moment matrix (e4
    // quantized grid, DECIMAL(38) sums); three power-iteration rounds
    // plus the Rayleigh quotient then run entirely on that broadcast-
    // scale relation with sign-split truncating normalization, so both
    // engines walk bit-identical integer states. PSD exactness makes
    // every remaining division non-negative (xᵀMx = Σ_vec (Σ x·p)²
    // holds EXACTLY in integers), so trunc-vs-floor never diverges.
    "q382_dominant_direction" -> { (s, dir) =>
      val q = quantizedEmbeddings(s, dir)
        .select(col("vec_id"), col("d"), col("qv"))
      // ONE corpus pass builds the 64×64 integer moment matrix; the
      // matrix is BOUNDED BY THE DIMENSION, so the iteration fuses
      // driver-side (the q349 bounded-domain discipline) — the first
      // cut ran the rounds as ~12 distributed jobs over 4096 rows and
      // the fixed per-job overhead made it the suite's slowest query.
      // BigInt arithmetic below is value-identical to the DECIMAL(38)
      // dataframe formulation it replaced (and to the oracle's HUGEINT
      // chains): exact integer sums, sign-split truncating division.
      // ADAPTIVE NUMERIC WIDTH (the weightedPageRank discipline): the
      // moment sums were DECIMAL(38)-lifted unconditionally, and
      // Spark's DECIMAL arithmetic allocates a BigDecimal per row — at
      // |vecs|·dim² product rows that allocation storm WAS the query
      // (measured 3.7 s at sf0.1, ~1.3 s on the long path). One
      // metadata-scale probe bounds every cell sum by maxAbs²·rows;
      // when that fits BIGINT the long path is exactly equal (integer
      // sums commute, no overflow), else the decimal lift stays.
      val qStats = q.agg(max(abs(col("qv"))).as("m"),
        count(lit(1)).as("n")).head()
      val momentLongSafe =
        BigInt(qStats.getLong(0) max 1L).pow(2) *
          BigInt(qStats.getLong(1) max 1L) <= BigInt(Long.MaxValue)
      val prodExpr =
        if (momentLongSafe) expr("p * p2")
        else expr("CAST(p AS DECIMAL(38,0)) * p2")
      val mCut = graft.tools.ExplainAudit.auditedCut(
        q.select(col("vec_id"), col("d").as("i"), col("qv").as("p"))
          .join(q.select(col("vec_id"), col("d").as("j"),
            col("qv").as("p2")), "vec_id")
          .groupBy(col("i"), col("j"))
          .agg(sum(prodExpr).as("v")),
        "q382_dominant_direction")
      val m = Array.fill(Dim, Dim)(BigInt(0))
      mCut.collect().foreach(r =>
        m(r.getInt(0))(r.getInt(1)) = r.get(2) match {
          case l: java.lang.Long => BigInt(l)
          case d: java.math.BigDecimal => BigInt(d.toBigInteger)
        })
      graft.operators.Graph.release(mCut)
      def step(x: Array[BigInt]): Array[BigInt] = {
        val y = Array.tabulate(Dim)(i =>
          (0 until Dim).map(j => m(i)(j) * x(j)).sum)
        val sc = y.map(_.abs).max
        y.map(v => if (v < 0) -((-v) * 1000000 / sc)
          else v * 1000000 / sc)
      }
      val x3 = step(step(step(Array.fill(Dim)(BigInt(1000000)))))
      val num = (0 until Dim).map(i =>
        (0 until Dim).map(j => m(i)(j) * x3(j)).sum * x3(i)).sum
      val den = x3.map(v => v * v).sum
      val trace = (0 until Dim).map(i => m(i)(i)).sum
      val lam = num / den
      val nVecs = t(s, dir, "embeddings")
        .select(col("vec_id")).distinct().count()
      val topDim = (0 until Dim).maxBy(i => (x3(i).abs, -i))
      import s.implicits._
      Seq((nVecs, (lam * 1000000 / trace).toLong,
        (trace / nVecs).toLong, (lam / nVecs).toLong,
        topDim.toLong, x3(topDim).toLong))
        .toDF("n_vecs", "share_ppm", "mean_trace", "mean_lambda",
          "top_dim", "top_loading_e6")
    },

    // DEDUP CHAIN DEPTH: per near-dup cluster, the hop depth from the
    // canonical doc (the cluster's min id — CC's label convention) to
    // its farthest member WITHIN 8 HOPS — the star-vs-chain shape
    // audit q131's size histogram can't see: depth 1 everywhere means
    // template fan-out (safe to keep one canonical), growing depth
    // means transitive drift chains where the endpoints may not
    // resemble each other at all (the known near-dup-closure hazard).
    // Multi-source BFS from ALL canonicals at once — components are
    // disjoint, so the nearest seed IS the own-cluster canonical; the
    // 8-hop cap is the shared contract (the oracle's recursion carries
    // the same bound, and members beyond it drop from BOTH engines).
    "q384_dedup_chain_depth" -> { (s, dir) =>
      val (pairs, cc) = CcArtifact.pairsAndCc(s, dir)
      locally {
        val edges = pairs
          .select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionByName(pairs.select(col("id_b").as("src"),
            col("id_a").as("dst")))
        val seeds = cc.select(col("cluster_id").as("node")).distinct()
        val hops = graft.operators.Graph
          .hopDistance(edges, seeds, maxHops = 8)
        graft.tools.ExplainAudit.auditedCut(
          cc.join(hops.withColumnRenamed("node", "doc_id"), "doc_id")
            .groupBy(col("cluster_id"))
            .agg(count(lit(1)).as("cluster_size"),
              max(col("hops")).as("chain_depth"))
            .groupBy(col("chain_depth"))
            .agg(count(lit(1)).as("n_clusters"),
              sum(col("cluster_size")).as("n_docs"),
              max(col("cluster_size")).as("max_cluster_size"))
            .orderBy(col("chain_depth")),
          "q384_dedup_chain_depth")
      }
    },

    // SHINGLE DOCUMENT-FREQUENCY TAIL: the df distribution of the
    // 3-gram shingle space, banded by bit length, with each band's
    // share of the INVERTED-INDEX PAIR BUDGET (Σ df·(df−1)/2) — the
    // evidence behind q48's hot-shingle cap and q231's per-band
    // budget: a heavy df tail means a handful of boilerplate shingles
    // funds almost all candidate pairs, and capping them trades
    // negligible recall for most of the join. One shingle aggregate;
    // the band relation is ≤ ~40 rows at any corpus size. DECIMAL(38)
    // lift on the pair budget — df² overflows a long on web-scale
    // boilerplate.
    "q386_shingle_df_tail" -> { (s, dir) =>
      val sh = Dedup.shingleRelation(t(s, dir, "documents"),
        "doc_id", "text", 3)
      val dfRel = sh.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df"))
      val bands = dfRel
        .groupBy(length(bin(col("df"))).cast("long").as("df_band"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(expr("CAST(df AS DECIMAL(38,0)) * (df - 1) div 2"))
            .as("pair_budget"))
      val tot = bands.agg(
        sum(col("pair_budget")).as("total_budget"))
      bands.crossJoin(broadcast(tot))
        .select(col("df_band"), col("n_shingles"),
          expr("CAST(pair_budget AS BIGINT)").as("pair_budget"),
          expr("""CAST(pair_budget * 1000000
                  div greatest(total_budget, 1) AS BIGINT)""")
            .as("budget_share_ppm"))
        .orderBy(col("df_band"))
    },

    // DUPLICATION × QUALITY INTERACTION: mean quality bucket (q94's
    // integer 0..1023 scale) per dedup-cluster-size band — the "are my
    // duplicates boilerplate junk or popular good content" read that
    // decides whether survivorship keeps one copy (high-quality dups)
    // or drops the whole family (template spam). Cluster sizes come
    // from the banded CC relation with singletons folded in via a left
    // join (band 5 = "5 or more"); the quality bucket is per-row
    // arithmetic, so beyond the dedup join everything is one keyed
    // aggregate over a 5-row grid.
    "q387_dup_quality" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val cc = CcArtifact.pairsAndCc(s, dir)._2
      val sizes = cc.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("csize"))
      val q = TextAnalysis.qualityScore(col("text"))
      docs.select(col("doc_id"), col("text"), col("n_chars"))
        .join(cc.join(sizes, "cluster_id")
          .select(col("doc_id"), col("csize")), Seq("doc_id"), "left")
        .withColumn("csize", coalesce(col("csize"), lit(1L)))
        .withColumn("q_bucket",
          least(floor(q * lit(1024d)).cast("long"), lit(1023L)))
        .groupBy(least(col("csize"), lit(5L)).as("band"))
        .agg(count(lit(1)).as("n_docs"),
          expr("CAST(sum(q_bucket) * 1000 div count(1) AS BIGINT)")
            .as("mean_q_bucket_e3"),
          expr("CAST(sum(n_chars) div count(1) AS BIGINT)")
            .as("mean_chars"))
        .orderBy(col("band"))
    },

    // TOKEN-BUDGET SWEEP: q94's quality-first selection at budgets
    // {6k, 12k, 24k} — kept docs, kept tokens, and the corpus token
    // share per budget; the yield curve a curation rollout reads
    // before committing to a budget (selection is a budget-independent
    // per-doc statistic thresholded at B, so the kept sets NEST as the
    // budget grows — spec-pinned). Three passes of the q94 operator,
    // each ending in one aggregate row.
    "q388_budget_sweep" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val total = docs.agg(sum(TextAnalysis.tokenCount(col("text"))
        .cast("long")).as("total_toks"))
      Seq(6000L, 12000L, 24000L).map { b =>
        graft.operators.DatasetOps
          .tokenBudgetSelect(docs, tokenBudget = b)
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_tokens")).as("tok_sum"),
            sum(col("doc_id")).as("id_sum"))
          .crossJoin(broadcast(total))
          .select(lit(b).as("budget"), col("n_kept"),
            coalesce(col("tok_sum"), lit(0L)).as("tok_sum"),
            expr("""CAST(coalesce(tok_sum, 0) * 1000000
                    div total_toks AS BIGINT)""")
              .as("token_share_ppm"),
            coalesce(col("id_sum"), lit(0L)).as("id_sum"))
      }.reduce(_ unionByName _).orderBy(col("budget"))
    },

    // PQ SUBSPACE DISTORTION: per subspace j, the mean quantization
    // error and each subspace's share of the total — the
    // index-maintenance read beside q380's cell balance (a subspace
    // carrying most of the distortion is where recall leaks, and the
    // fix — more centroids there, or a rotation — is per-subspace).
    // Distances quantize to the 1e-9 integer grid PER ROW before any
    // aggregation (sums of raw doubles are partitioning-dependent;
    // floor-then-sum is exact on any plan), and the per-row chain
    // mirrors the oracle's left-associated subDistChain term for term
    // over the SAME trained-codebook literals q90 pins.
    "q390_pq_subspace_distortion" -> { (s, dir) =>
      val model = PqModels.trained(s, dir)
      // one corpus pass → the 16-row per-subspace aggregate is cut
      // eagerly; the total then reads the 16 rows, not the corpus.
      // The per-row distances come from the codegen'd PqSubspaceDistE9
      // kernel — same left-associated arithmetic as the oracle's
      // subDistChain, floored to the 1e-9 grid per row.
      val agg = graft.tools.ExplainAudit.auditedCut(
        PqModels.encoded(s, dir)
          .select(col("vec_id"),
            posexplode(graft.functions.VectorFunctions.pqSubspaceDistE9(
              col("embedding"), col("pq_codes"), model.codebookSeq)))
          .select(col("pos").cast("long").as("subspace"),
            col("col").as("qd"))
          .groupBy(col("subspace"))
          .agg(count(lit(1)).as("n"), sum(col("qd")).as("sq")),
        "q390_pq_subspace_distortion")
      agg.crossJoin(broadcast(agg.agg(sum(col("sq")).as("t"))))
        .select(col("subspace"),
          expr("CAST(sq div n AS BIGINT)").as("mean_dist_e9"),
          expr("CAST(sq * 1000000 div greatest(t, 1) AS BIGINT)")
            .as("share_ppm"))
        .orderBy(col("subspace"))
    },

    // IVF PROBE COST CURVE: scanned rows per probe width — the COST
    // side of q104's recall sweep over the same cell scheme (together
    // they are the curve a deployment tunes: nprobe buys recall at
    // scan_share_ppm of the corpus per probe). Cell choice replicates
    // the probe's own driver-side centroid ranking (identical double
    // arithmetic to the oracle's chain); the corpus is touched once
    // for the 4-row cell histogram, each sweep arm then reads cells.
    "q393_ivf_cost_curve" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id").isInCollection(IvfSeedIds))
        .orderBy(col("vec_id")).select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val centroids = seeds.map { c =>
        val nrm = math.sqrt(c.map(x => x * x).sum)
        c.map(_ / nrm)
      }
      val model = IvfIndex.Model(centroids)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
        .map(_.toDouble).toArray
      // centroid ranking: dot(q, ĉ)/‖ĉ‖ desc, cell asc — the same
      // left-fold double chains the oracle unrolls
      val order = centroids.zipWithIndex.map { case (c, i) =>
        val dot = (0 until Dim).map(d => query(d) * c(d)).sum
        (dot / math.sqrt((0 until Dim).map(d => c(d) * c(d)).sum), i)
      }.sortBy { case (sc, i) => (-sc, i) }.map(_._2)
      val counts = graft.tools.ExplainAudit.auditedCut(
        IvfIndex.assign(emb.filter(col("vec_id") =!= 0), model, Dim)
          .groupBy(col("ivf_cell")).agg(count(lit(1)).as("n_rows")),
        "q393_ivf_cost_curve")
      val tot = counts.agg(sum(col("n_rows")).as("n_total"))
      IvfSweepNprobes.map { np =>
        counts
          .filter(col("ivf_cell").isInCollection(order.take(np).toSeq))
          .agg(count(lit(1)).as("n_cells_hit"),
            coalesce(sum(col("n_rows")), lit(0L)).as("rows_scanned"))
          .crossJoin(broadcast(tot))
          .select(lit(np.toLong).as("nprobe"), col("n_cells_hit"),
            col("rows_scanned"),
            expr("""CAST(rows_scanned * 1000000
                    div n_total AS BIGINT)""").as("scan_share_ppm"))
      }.reduce(_ unionByName _).orderBy(col("nprobe"))
    })

  /** The e4-QUANTIZED embedding components (floor(v·1e4) — one double
    * multiply + floor, bit-identical across engines) at
    * (vec_id, label, dim) grain — ONE definition shared by the
    * centroid family (q327 purity, q355 scatter) with [[QuantCentsSql]]
    * as its DuckDB face, so the quantization scale and the
    * sign-decomposed centroid mean can never drift between them. */
  private def quantizedEmbeddings(s: SparkSession,
      dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), col("pos").as("d"),
        floor(col("col").cast("double") * 10000).cast("long")
          .as("qv"))

  /** Per-(label, dim) INTEGER centroids of [[quantizedEmbeddings]] —
    * sign-decomposed truncating mean (Spark div truncates, DuckDB //
    * floors; component sums go negative). */
  private def quantizedCentroids(q: DataFrame): DataFrame =
    q.groupBy(col("label"), col("d"))
      .agg(sum(col("qv")).as("sv"), count(lit(1)).as("nv"))
      .select(col("label"), col("d"),
        expr("""CASE WHEN sv >= 0 THEN sv div nv
                ELSE -((-sv) div nv) END""").as("cv"))

  /** [[quantizedEmbeddings]] + [[quantizedCentroids]]'s DuckDB face
    * (CTEs `q` and `cents(label, d, cv)`). */
  private val QuantCentsSql =
    """q AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         generate_subscripts(embedding, 1) - 1 AS d,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000)
           AS BIGINT) AS qv
       FROM embeddings),
       cents AS (SELECT label, d,
           CASE WHEN SUM(qv) >= 0 THEN SUM(qv) // COUNT(*)
             ELSE -((-SUM(qv)) // COUNT(*)) END AS cv
         FROM q GROUP BY 1, 2)"""

  /** q113 blocklist (mirrored as literals in the oracle SQL). */
  val BlockedDomains: Seq[String] =
    Seq("site0.example.com", "site1.example.com")

  /** q117 shard size in tokens (small enough that sf0.01 yields many
    * shards, large enough that each holds multiple docs). */
  val ShardTokens = 2000L

  /** q119 BPE merge rounds (enough to see a multi-char symbol re-merge). */
  val BpeRounds = 6

  /** q124 PageRank rounds (a centrality ordering stabilises fast on
    * shallow dedup graphs). */
  val PrRounds = 3

  /** q126 recipe: src0 repeated 2.5 epochs, src1 thinned to 0.4, rest
    * kept whole (ppm, mirrored as literals in the oracle). */
  val UpsamplePpm: Map[String, Long] =
    Map("src0" -> 2500000L, "src1" -> 400000L)

  /** q147 token budget: odd so fractional remainders decide seats. */
  val AllocBudget = 49999L

  /** q148 fusion: per-system candidate depth and the standard RRF
    * damping constant. */
  val FusionK = 20
  val RrfK = 60

  /** q139 count-min layout (depth × 16² cells) and probe bag: common
    * terms, the rare 'dup', and one absent token (estimate must still be
    * ≥ 0 = its truth). */
  val CmsDepth = 4
  val CmsHexChars = 2
  val CmsProbeTokens: Seq[String] =
    Seq("the", "dup", "vector", "window", "zzz_absent_token")

  /** q140 Bloom layout: 3 hash-family members × 16³ cells — sized so the
    * synthetic benchmark yields a measurable (but small) FP rate. */
  val BloomDepth = 3
  val BloomHexChars = 3

  /** q129 injected damage: one `Ã`-digraph, one `â€` smart-quote prefix,
    * one C1 control (NEL) and one U+FFFD — each flagged doc scores
    * n_mojibake=2, n_ctrl=1, n_replacement=1. Kept free of characters
    * Java and RE2 treat differently after `.` (no `Ã` precedes a line
    * terminator). */
  val MojiSuffix = " na\u00C3\u00AFve \u00E2\u20AC\u201D x\u0085 caf\uFFFD"

  /** q124 oracle: the unrolled integer-PageRank CTE chain over a
    * caller-provided `cand(id_a, id_b)` pair relation — same fixed-point
    * arithmetic as [[graft.operators.Dedup.duplicationRank]]. */
  private def prRoundCtes(rounds: Int): String = {
    val Scale = 1000000000000L
    val Base = Scale * 15L / 100L
    val chain = (1 to rounds).map { r =>
      s"""pc$r AS (SELECT e.dst AS doc_id,
           SUM((85 * (pr${r - 1}.rank // deg.deg)) // 100) AS s
         FROM e JOIN deg USING (src)
         JOIN pr${r - 1} ON pr${r - 1}.doc_id = e.src
         GROUP BY e.dst),
         pr$r AS (SELECT n.doc_id,
           CAST($Base + COALESCE(pc$r.s, 0) AS BIGINT) AS rank
         FROM n LEFT JOIN pc$r USING (doc_id))"""
    }.mkString(",\n")
    s"""e AS (SELECT id_a AS src, id_b AS dst FROM cand
         UNION ALL SELECT id_b AS src, id_a AS dst FROM cand),
       deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       n AS (SELECT DISTINCT src AS doc_id FROM e),
       pr0 AS (SELECT doc_id, CAST($Scale AS BIGINT) AS rank FROM n),
       $chain"""
  }

  // ---------------------------------------------------------------- oracles

  /** Shared CTE: tokenized documents. */
  private val toksCte =
    """docs AS (SELECT doc_id, lang, text,
         string_split_regex(trim(text), '\s+') AS toks FROM documents)"""

  /** Shared CTE: distinct (doc_id, shingle) for word 3-grams. */
  private[queries] val shingleCte =
    toksCte + """,
      sh AS (SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
          unnest(list_transform(
            range(1, greatest(len(toks) - 2, 1) + 1),
            i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        FROM docs) u)"""

  private[queries] def minhashSigSql: String = {
    val mins = (0 until NumHashes)
      .map(s => s"min(md5('$s|' || shingle)) AS sig_$s").mkString(", ")
    s"sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)"
  }

  private[queries] def bandSql: String = {
    val rows = NumHashes / Bands
    val branches = (0 until Bands).map { b =>
      val slice = (b * rows until (b + 1) * rows).map(i => s"sig_$i")
      val key = slice.mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS band_key FROM sig"
    }
    s"bands AS (${branches.mkString(" UNION ALL ")})"
  }

  /** 64-bit simhash: votes 0-31 from md5(tok), 32-63 from md5('2#'||tok) —
    * mirrors [[graft.operators.Dedup.simhash64]] bit-for-bit. */
  private def simhash64SigSql: String = {
    def votes(hashExpr: String, base: Int): Seq[String] = (0 until 32).map {
      j =>
        s"SUM(CASE WHEN strpos('0123456789abcdef', substr($hashExpr, ${j + 1}, 1)) >= 9 " +
          s"THEN 1 ELSE -1 END) AS v_${base + j}"
    }
    val allVotes =
      (votes("md5(tok)", 0) ++ votes("md5('2#' || tok)", 32)).mkString(", ")
    val sig = (0 until 64).map { j =>
      s"(CASE WHEN v_$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""toks2 AS (SELECT DISTINCT doc_id, tok FROM (
          SELECT doc_id, unnest(toks) AS tok FROM docs) u),
        votes AS (SELECT doc_id, $allVotes FROM toks2 GROUP BY doc_id),
        sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS sig FROM votes)"""
  }

  private val qualityComponentsSql =
    """comp AS (SELECT doc_id, lang, text, toks,
         len(toks) AS n_tokens,
         CAST(list_sum(list_transform(toks,
           t -> greatest(1, CAST(ceil(length(t) / 6.0) AS BIGINT)))) AS BIGINT)
           AS n_subwords,
         CAST(len(list_filter(toks, t -> list_contains(
           ['the','a','an','of','and','or','to','in','is','on'], t))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         CAST(length(text) - length(regexp_replace(text,
           '[.,;:!?''"()-]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
           AS punct_ratio,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS mean_token_len
       FROM docs)"""

  private def langScoreSql(markers: Seq[String]): String =
    s"len(list_filter(toks, t -> list_contains([${markers.map("'" + _ + "'").mkString(",")}], t)))"

  private val langIdSql: String = {
    val scores = TextAnalysis.LangMarkers.map { case (lang, m) =>
      s"${langScoreSql(m)} AS s_$lang"
    }.mkString(", ")
    val best = "greatest(" + TextAnalysis.LangMarkers.map("s_" + _._1).mkString(", ") + ")"
    val pred = TextAnalysis.LangMarkers.map { case (lang, _) =>
      s"WHEN s_$lang = best AND best > 0 THEN '$lang'"
    }.mkString(" ")
    s"""scored AS (SELECT doc_id, lang, $scores FROM docs),
        pred AS (SELECT doc_id, lang,
          CASE $pred ELSE 'und' END AS lang_pred
          FROM (SELECT *, $best AS best FROM scored) x)"""
  }

  /** DuckDB join of embeddings with the fixed query vector (vec_id 0). */
  private def cosineSql(aVec: String, bVec: String): String =
    Similarity.Sql.cosine(aVec, bVec, Dim)

  private def bucketSql(vec: String): String =
    BucketDims.zipWithIndex.map { case (d, j) =>
      s"(CASE WHEN CAST($vec[${d + 1}] AS DOUBLE) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB mirror of [[Similarity.autoBucketBits]] (target 256, clamp
    * [4, 24]) — integer-exact via bit length, so both engines derive the
    * identical width from the corpus count. Rendered as a 1-row CTE the
    * bucket expression cross-joins. */
  private val autoBitsCte: String =
    """pb AS (SELECT greatest(4, least(24,
         length(bin((count(*) + 255) // 256 - 1)))) AS bits
       FROM embeddings)"""

  /** Self-scaling bucket key: 24 statically rendered sign-bit terms, each
    * gated on its index being under `pb.bits` — the SQL face of
    * `signBucket(vec, 0 until bits)` with a runtime-derived width. */
  private def bucketSqlAuto(vec: String): String =
    (0 until 24).map { j =>
      s"""(CASE WHEN $j < pb.bits
            AND CAST($vec[${j + 1}] AS DOUBLE) >= 0
          THEN ${1L << j} ELSE 0 END)"""
    }.mkString(" + ")

  // a def, not a val: the PQ oracle entries embed whatever codebook the
  // query run trained ([[pqCbCte]]), so the map must re-render at dump
  // time — Verify reads it AFTER running the queries
  def oracles: Map[String, String] = Map(
    "q105_tfidf_search" ->
      s"""WITH occ AS (SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
         FROM documents),
         hit AS (SELECT doc_id, term, COUNT(*) AS tf FROM occ
           WHERE term IN (${TfIdfTerms.map("'" + _ + "'").mkString(", ")})
           GROUP BY doc_id, term),
         dfreq AS (SELECT term, COUNT(*) AS df FROM hit GROUP BY term),
         n AS (SELECT COUNT(*) AS n_docs FROM documents)
         SELECT h.doc_id,
           CAST(SUM(h.tf * length(bin(n.n_docs // d.df))) AS BIGINT)
             AS score,
           COUNT(*) AS n_terms_hit
         FROM hit h JOIN dfreq d USING (term) CROSS JOIN n
         GROUP BY h.doc_id
         ORDER BY score DESC, h.doc_id LIMIT $TfIdfK""",

    "q106_stratified_split" -> {
      val cases = graft.operators.DatasetOps
        .stratifiedCutpointsPpm(StratFractions)
        .map { case (label, ppm) =>
          s"WHEN rk * 1000000 <= n * $ppm THEN '$label'"
        }.mkString(" ")
      s"""WITH ranked AS (SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang
             ORDER BY md5('strat|' || CAST(doc_id AS VARCHAR)), doc_id)
             AS rk,
           COUNT(*) OVER (PARTITION BY lang) AS n
         FROM documents),
         lab AS (SELECT doc_id, lang,
           CASE $cases ELSE '${StratFractions.last._1}' END AS split
         FROM ranked)
         SELECT lang, split, COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM lab GROUP BY lang, split ORDER BY lang, split"""
    },

    // the canonicalisation chain mirrors TextAnalysis.canonicalizeUrl
    // step-for-step; only the backref syntax differs (RE2 '\1' vs Java
    // '$1') and DuckDB needs the explicit 'g' flag
    "q107_url_dedup" ->
      """WITH raw AS (SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
           (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
           'Site' || CAST(doc_id % 40 AS VARCHAR) || '.Example.com' ||
           (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
           '/Docs/' || CAST(doc_id % 5 AS VARCHAR) ||
           (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) ||
           (CASE WHEN doc_id % 7 = 0
              THEN '?utm_source=feed&page=' || CAST(doc_id % 3 AS VARCHAR)
              WHEN doc_id % 7 = 1
              THEN '?page=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=x'
              ELSE '' END) ||
           (CASE WHEN doc_id % 8 = 0 THEN '#frag' ELSE '' END) AS url
         FROM documents),
         nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS u
           FROM raw),
         au AS (SELECT doc_id, u,
           regexp_extract(u, '^[^/]*//[^/]*') AS auth FROM nf),
         canon AS (SELECT doc_id,
           regexp_replace(regexp_replace(lower(auth),
               '^(https?://)www\.', '\1'), ':(443|80)$', '') ||
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(substr(u, length(auth) + 1, length(u)),
                   '(utm_[a-z]+|gclid|fbclid)=[^&#]*&?', '', 'g'),
                 '[?&]+$', ''),
               '\?&', '?', 'g'),
             '/$', '') AS canonical_url
         FROM au)
         SELECT canonical_url, MIN(doc_id) AS keep_id,
           COUNT(*) AS n_variants
         FROM canon GROUP BY canonical_url ORDER BY canonical_url""",

    // positional 3-grams mirror wordShinglesAll (partial gram for docs
    // under 3 tokens, same greatest() guard as the q109 bigram oracle)
    "q112_dup_spans" ->
      """WITH docs AS (SELECT doc_id,
           string_split_regex(trim(text), '\s+') AS toks FROM documents),
         g AS (SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i
             FROM docs)),
         own AS (SELECT shingle, MIN(doc_id) AS first_sid
           FROM g GROUP BY shingle),
         d AS (SELECT g.doc_id, g.pos, g.pos + 2 AS endp
           FROM g JOIN own USING (shingle)
           WHERE g.doc_id <> own.first_sid),
         m AS (SELECT doc_id, pos, endp,
             MAX(endp) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
           FROM d),
         isl AS (SELECT doc_id, pos, endp,
             SUM(CASE WHEN pos > COALESCE(prev_max, -1) + 1
               THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM m)
         SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(endp) AS BIGINT) AS span_end,
           CAST(MAX(endp) - MIN(pos) + 1 AS BIGINT) AS span_tokens
         FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""",

    // raw-URL synthesis copied from the q107 oracle; domain extraction
    // mirrors TextAnalysis.urlDomain (DuckDB needs the explicit 'g' flag
    // because www. and :port can BOTH match)
    "q113_domain_stats" ->
      """WITH raw AS (SELECT doc_id, text,
           (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
           (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
           'Site' || CAST(doc_id % 40 AS VARCHAR) || '.Example.com' ||
           (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
           '/Docs/' || CAST(doc_id % 5 AS VARCHAR) ||
           (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) ||
           (CASE WHEN doc_id % 7 = 0
              THEN '?utm_source=feed&page=' || CAST(doc_id % 3 AS VARCHAR)
              WHEN doc_id % 7 = 1
              THEN '?page=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=x'
              ELSE '' END) ||
           (CASE WHEN doc_id % 8 = 0 THEN '#frag' ELSE '' END) AS url
         FROM documents),
         dom AS (SELECT doc_id, text,
           regexp_replace(
             regexp_extract(lower(url),
               '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
             '^www\.|:[0-9]+$', '', 'g') AS domain
           FROM raw),
         kept AS (SELECT * FROM dom
           WHERE domain NOT IN ('site0.example.com', 'site1.example.com'))
         SELECT domain, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
             AS tok_sum,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         FROM kept GROUP BY domain ORDER BY domain""",

    "q114_importance_weights" ->
      """WITH occ AS (SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         prop AS (SELECT tok, COUNT(*) AS tf_p FROM occ GROUP BY tok),
         np AS (SELECT COUNT(*) AS n_prop FROM occ),
         tocc AS (SELECT unnest(string_split_regex(trim(text), '\s+'))
             AS tok
           FROM documents WHERE source IN ('src0', 'src1')),
         targ AS (SELECT tok, COUNT(*) AS tf_t FROM tocc GROUP BY tok),
         nt AS (SELECT COUNT(*) AS n_targ FROM tocc)
         SELECT o.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(length(bin(np.n_prop // COALESCE(p.tf_p, 1)))
             - length(bin(nt.n_targ // COALESCE(t.tf_t, 1)))) AS BIGINT)
             AS weight_bits,
           CAST(SUM(length(bin(np.n_prop // COALESCE(p.tf_p, 1)))
             - length(bin(nt.n_targ // COALESCE(t.tf_t, 1)))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_weight_bits
         FROM occ o
         LEFT JOIN prop p USING (tok)
         LEFT JOIN targ t USING (tok)
         CROSS JOIN np CROSS JOIN nt
         GROUP BY o.doc_id ORDER BY o.doc_id""",

    // per-level keys derive from the gram STRING exactly as the engine's
    // slice/element_at chain does, so partial grams (< 3 tokens) agree
    "q115_backoff_surprisal" ->
      """WITH rt AS (SELECT string_split_regex(trim(text), '\s+') AS toks
           FROM documents WHERE doc_id % 5 <> 0),
         g3r AS (SELECT array_to_string(toks[i:i+2], ' ') AS g3
           FROM (SELECT toks,
               unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i
             FROM rt)),
         g3p AS (SELECT g3,
             array_to_string(string_split(g3, ' ')[1:2], ' ') AS ctx
           FROM g3r),
         c3 AS (SELECT g3, COUNT(*) AS c3 FROM g3p GROUP BY g3),
         c3s AS (SELECT ctx, COUNT(*) AS c3s FROM g3p GROUP BY ctx),
         g2r AS (SELECT array_to_string(toks[i:i+1], ' ') AS g2
           FROM (SELECT toks,
               unnest(range(1, greatest(len(toks) - 1, 1) + 1)) AS i
             FROM rt)),
         g2p AS (SELECT g2, string_split(g2, ' ')[1] AS prev FROM g2r),
         c2 AS (SELECT g2, COUNT(*) AS c2 FROM g2p GROUP BY g2),
         c2s AS (SELECT prev, COUNT(*) AS c2s FROM g2p GROUP BY prev),
         u AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents WHERE doc_id % 5 <> 0),
         c1 AS (SELECT tok, COUNT(*) AS tf FROM u GROUP BY tok),
         n1 AS (SELECT COUNT(*) AS n1 FROM u),
         st AS (SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents WHERE doc_id % 5 = 0),
         so AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g3
           FROM (SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i
             FROM st)),
         sk AS (SELECT doc_id, g3,
             array_to_string(string_split(g3, ' ')[1:2], ' ') AS ctx,
             array_to_string(string_split(g3, ' ')[2:3], ' ') AS g2,
             CASE WHEN len(string_split(g3, ' ')) >= 3
               THEN string_split(g3, ' ')[3] ELSE NULL END AS tok
           FROM so),
         j AS (SELECT sk.doc_id,
             CASE WHEN c3.c3 IS NOT NULL
                 THEN length(bin(c3s.c3s // c3.c3))
               WHEN c2.c2 IS NOT NULL
                 THEN 1 + length(bin(c2s.c2s // c2.c2))
               ELSE 2 + length(bin(n1.n1 // COALESCE(c1.tf, 1)))
             END AS bits,
             CASE WHEN c3.c3 IS NOT NULL THEN 3
               WHEN c2.c2 IS NOT NULL THEN 2 ELSE 1 END AS lvl
           FROM sk
           LEFT JOIN c3 USING (g3)
           LEFT JOIN c3s USING (ctx)
           LEFT JOIN c2 USING (g2)
           LEFT JOIN c2s ON c2s.prev = string_split(sk.g2, ' ')[1]
           LEFT JOIN c1 ON c1.tok = sk.tok
           CROSS JOIN n1)
         SELECT doc_id, COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tri,
           CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bi,
           CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_uni,
           CAST(SUM(bits) AS BIGINT) AS total_bits,
           CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_bits
         FROM j GROUP BY doc_id ORDER BY doc_id""",

    "q116_novelty" ->
      s"""WITH $shingleCte,
         own AS (SELECT shingle, MIN(doc_id) AS first_sid
           FROM sh GROUP BY shingle)
         SELECT doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN first_sid = doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN first_sid = doc_id THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty_ratio
         FROM sh JOIN own USING (shingle)
         GROUP BY doc_id ORDER BY doc_id""",

    // the global ORDER BY draw here is the oracle-side equivalent of the
    // engine's bucketed prefix-sum scheme (q81 equality argument)
    "q117_shard_manifest" ->
      """WITH d AS (SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             AS n_tokens,
           md5('shard0|' || CAST(doc_id AS VARCHAR)) AS draw
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY draw, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM d),
         a AS (SELECT doc_id, n_tokens, cum,
             CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id FROM c)
         SELECT shard_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
           CAST(MIN(cum - n_tokens) AS BIGINT) AS start_tokens,
           CAST(MAX(cum) AS BIGINT) AS end_tokens,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY cum))
             AS id_checksum
         FROM a GROUP BY shard_id ORDER BY shard_id""",

    // max(struct(score, bench_id)) = rank by score DESC, bench_id DESC
    "q118_embed_decontam" ->
      s"""WITH b AS (SELECT vec_id AS bench_id, embedding,
           sqrt(${Similarity.Sql.normSq("embedding", Dim)}) AS b_nrm
           FROM embeddings WHERE vec_id % 50 = 0),
         c AS (SELECT vec_id, embedding,
           sqrt(${Similarity.Sql.normSq("embedding", Dim)}) AS nrm
           FROM embeddings WHERE vec_id % 50 <> 0),
         scored AS (SELECT c.vec_id, b.bench_id,
             (${Similarity.Sql.dot("c.embedding", "b.embedding", Dim)})
               / (c.nrm * b.b_nrm) AS score
           FROM c, b),
         r AS (SELECT vec_id, bench_id, score,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY score DESC, bench_id DESC) AS rn
           FROM scored)
         SELECT vec_id, score AS max_score, bench_id AS nearest_bench_id,
           score >= $CosineThreshold AS contaminated
         FROM r WHERE rn = 1 ORDER BY vec_id""",

    "q119_bpe_merges" ->
      s"""WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\\s+'))
             AS tok FROM documents),
         ${graft.operators.Bpe.oracleSql(BpeRounds)}""",

    "q121_bpe_encode" ->
      s"""WITH occ AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS tok
           FROM documents),
         toks AS (SELECT tok FROM occ),
         ${graft.operators.Bpe.encodeOracleSql(BpeRounds)}""",

    "q122_cross_source_dups" ->
      s"""WITH $shingleCte, $minhashSigSql, $bandSql,
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         lab AS (SELECT least(da.source, db.source) AS src_lo,
             greatest(da.source, db.source) AS src_hi
           FROM cand
           JOIN documents da ON da.doc_id = cand.id_a
           JOIN documents db ON db.doc_id = cand.id_b)
         SELECT src_lo, src_hi, COUNT(*) AS n_pairs
         FROM lab GROUP BY src_lo, src_hi ORDER BY src_lo, src_hi""",

    // q84's lineification + the first line appended at the end; first
    // occurrence kept (MIN lineno), order preserved in the md5
    "q123_intradoc_dedup" ->
      """WITH split AS (SELECT doc_id, string_split(text, ' ') AS ts
           FROM documents),
         toks AS (SELECT doc_id, ts[CAST(i AS INT)] AS tok, CAST(i AS INT) AS i
           FROM split, LATERAL unnest(range(1, len(ts)+1)) AS t(i)),
         lines0 AS (SELECT doc_id, (i-1)//3 AS lineno,
             string_agg(tok, ' ' ORDER BY i) AS line
           FROM toks GROUP BY doc_id, (i-1)//3),
         aug AS (SELECT doc_id, lineno, line FROM lines0
           UNION ALL
           SELECT doc_id, 1000000000 AS lineno, line FROM lines0
           WHERE lineno = 0),
         firsts AS (SELECT doc_id, line, MIN(lineno) AS keep_at
           FROM aug GROUP BY doc_id, line),
         tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM aug
           GROUP BY doc_id)
         SELECT t.doc_id, t.n_lines, COUNT(*) AS n_kept,
           md5(string_agg(f.line, chr(10) ORDER BY f.keep_at)) AS text_md5
         FROM firsts f JOIN tot t USING (doc_id)
         GROUP BY t.doc_id, t.n_lines ORDER BY t.doc_id""",

    // copies = ppm div 1e6, +1 inside the fractional rank prefix; epochs
    // 0..copies-1 per kept doc
    "q126_epoch_upsample" ->
      """WITH rates AS (SELECT * FROM (VALUES
           ('src0', 2500000), ('src1', 400000)) AS t(source, ppm)),
         r AS (SELECT d.doc_id, d.source,
             COALESCE(rates.ppm, 1000000) AS ppm,
             COUNT(*) OVER (PARTITION BY d.source) AS grp_n,
             ROW_NUMBER() OVER (PARTITION BY d.source
               ORDER BY md5('epoch|' || CAST(d.doc_id AS VARCHAR)),
                 d.doc_id) AS rk
           FROM documents d LEFT JOIN rates USING (source)),
         c AS (SELECT doc_id, source,
             (ppm // 1000000) +
               (CASE WHEN rk * 1000000 <= grp_n * (ppm % 1000000)
                THEN 1 ELSE 0 END) AS n_copies
           FROM r),
         x AS (SELECT doc_id, source,
             unnest(range(0, CAST(n_copies AS BIGINT))) AS epoch
           FROM c WHERE n_copies > 0)
         SELECT source, COUNT(*) AS n_rows,
           COUNT(DISTINCT doc_id) AS n_docs,
           CAST(MAX(epoch) AS BIGINT) AS max_epoch
         FROM x GROUP BY source ORDER BY source""",

    "q127_bpe_vocab" ->
      s"""WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\\s+'))
             AS tok FROM documents),
         ${graft.operators.Bpe.vocabOracleSql(BpeRounds)}""",

    "q128_nb_confusion" ->
      s"""WITH ${graft.operators.Classifier.selfClassifyOracleCtes}
         SELECT d.source, p.predicted, COUNT(*) AS n_docs,
           CAST(SUM(p.cost_bits) AS BIGINT) AS cost_sum
         FROM pred p JOIN documents d USING (doc_id)
         GROUP BY d.source, p.predicted
         ORDER BY d.source, p.predicted""",

    "q367_nb_reliability" ->
      s"""WITH ${graft.operators.Classifier.selfClassifyOracleCtes},
         marg AS (SELECT r1.doc_id, r1.label AS predicted,
             CAST(r2.cost_bits - r1.cost_bits AS BIGINT) AS margin_bits
           FROM ranked r1 JOIN ranked r2
             ON r1.doc_id = r2.doc_id AND r1.rk = 1 AND r2.rk = 2),
         rel AS (SELECT least(margin_bits // 8, 8) AS band,
             COUNT(*) AS n_docs,
             SUM(CASE WHEN d.source = m.predicted THEN 1 ELSE 0 END)
               AS n_correct
           FROM marg m JOIN documents d USING (doc_id) GROUP BY 1)
         SELECT CAST(band AS BIGINT) AS band,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_correct AS BIGINT) AS n_correct,
           CAST(n_correct * 1000000 // n_docs AS BIGINT)
             AS accuracy_ppm
         FROM rel ORDER BY band""",

    "q129_mojibake" ->
      s"""WITH aug AS (SELECT doc_id, source,
           CASE WHEN doc_id % 7 = 0 THEN text || '$MojiSuffix'
                ELSE text END AS text
           FROM documents),
         m AS (SELECT doc_id, source,
             CAST(len(regexp_extract_all(text,
               '${TextAnalysis.ReplacementPattern}')) AS BIGINT)
               AS n_replacement,
             CAST(len(regexp_extract_all(text,
               '${TextAnalysis.MojibakePattern}')) AS BIGINT)
               AS n_mojibake,
             CAST(len(regexp_extract_all(text,
               '${TextAnalysis.C1ControlPattern}')) AS BIGINT) AS n_ctrl
           FROM aug)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_replacement + n_mojibake + n_ctrl > 0
             THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(n_replacement) AS BIGINT) AS replacement_sum,
           CAST(SUM(n_mojibake) AS BIGINT) AS mojibake_sum,
           CAST(SUM(n_ctrl) AS BIGINT) AS ctrl_sum
         FROM m GROUP BY source ORDER BY source""",

    "q130_bpe_fertility" ->
      s"""WITH occ AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS tok
           FROM documents),
         toks AS (SELECT tok FROM occ),
         ${graft.operators.Bpe.encodePerDocCtes(BpeRounds)},
         ag AS (SELECT d.source,
             CAST(SUM(p.ws_tokens) AS BIGINT) AS ws_tokens,
             CAST(SUM(p.subword_tokens) AS BIGINT) AS subword_tokens
           FROM perdoc p JOIN documents d USING (doc_id)
           GROUP BY d.source)
         SELECT source, ws_tokens, subword_tokens,
           CAST(subword_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE)
             AS fertility
         FROM ag ORDER BY source""",

    "q136_csv_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(length(text)) AS BIGINT) AS chars_sum
         FROM documents GROUP BY lang ORDER BY lang""",

    "q137_retention_cohorts" ->
      """WITH act AS (SELECT DISTINCT user_id,
           (CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS week
           FROM events),
         coh AS (SELECT user_id, MIN(week) AS cohort_week
           FROM act GROUP BY user_id)
         SELECT CAST(c.cohort_week AS BIGINT) AS cohort_week,
           CAST(a.week - c.cohort_week AS BIGINT) AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_active
         FROM act a JOIN coh c USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_week, week_offset""",

    "q138_ship_priority" ->
      """SELECT l.l_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_orderpriority,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
         FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING'
           AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
           AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, o_orderdate ASC, l.l_orderkey ASC
         LIMIT 10""",

    "q150_media_bytes" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
           FROM documents),
         per AS (SELECT doc_id, CAST(SUM(ascii(c)) AS BIGINT) AS bsum,
             CAST(SUM(bit_count(ascii(c))) AS BIGINT) AS bits,
             COUNT(*) AS n
           FROM ch GROUP BY doc_id),
         m AS (SELECT p.doc_id,
             CASE WHEN p.doc_id % 3 = 0 THEN 'image'
                  WHEN p.doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             p.n, p.bsum, p.bits // p.n AS eq
           FROM per p)
         SELECT kind, COUNT(*) AS n_media,
           CAST(SUM(n) AS BIGINT) AS total_bytes,
           CAST(SUM(bsum) AS BIGINT) AS byte_sum,
           CAST(SUM(eq) AS BIGINT) AS sum_entropy_q,
           CAST(0 AS BIGINT) AS n_decoded
         FROM m GROUP BY kind ORDER BY kind""",

    "q149_source_similarity" -> {
      val mins = (0 until NumHashes)
        .map(i => s"MIN(sig_$i) AS sig_$i").mkString(", ")
      val agree = (0 until NumHashes)
        .map(i => s"(CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $shingleCte, $minhashSigSql,
         gs AS (SELECT d.source, $mins
           FROM sig JOIN documents d USING (doc_id)
           GROUP BY d.source)
         SELECT a.source AS src_a, b.source AS src_b,
           CAST($agree AS BIGINT) AS n_match,
           CAST($agree AS DOUBLE) / ${NumHashes}.0 AS est_jaccard
         FROM gs a JOIN gs b ON a.source < b.source
         ORDER BY src_a, src_b""" },

    "q148_hybrid_fusion" ->
      s"""WITH occ AS (SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
         FROM documents),
         hit AS (SELECT doc_id, term, COUNT(*) AS tf FROM occ
           WHERE term IN (${TfIdfTerms.map("'" + _ + "'").mkString(", ")})
           GROUP BY doc_id, term),
         dfreq AS (SELECT term, COUNT(*) AS df FROM hit GROUP BY term),
         nn AS (SELECT COUNT(*) AS n_docs FROM documents),
         ttop AS (SELECT h.doc_id,
             CAST(SUM(h.tf * length(bin(nn.n_docs // d.df))) AS BIGINT)
               AS score
           FROM hit h JOIN dfreq d USING (term) CROSS JOIN nn
           GROUP BY h.doc_id
           ORDER BY score DESC, h.doc_id LIMIT $FusionK),
         tr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER
             (ORDER BY score DESC, doc_id) AS BIGINT) AS r_text
           FROM ttop),
         en AS (SELECT vec_id, embedding,
           sqrt(${Similarity.Sql.normSq("embedding", Dim)}) AS nrm
           FROM embeddings),
         q AS (SELECT embedding AS q_vec, nrm AS q_nrm
           FROM en WHERE vec_id = 0),
         vtop AS (SELECT e.vec_id,
             (${Similarity.Sql.dot("e.embedding", "q.q_vec", Dim)})
               / (e.nrm * q.q_nrm) AS score
           FROM en e, q WHERE e.vec_id <> 0
           ORDER BY score DESC, e.vec_id LIMIT $FusionK),
         vr AS (SELECT vec_id AS doc_id, CAST(ROW_NUMBER() OVER
             (ORDER BY score DESC, vec_id) AS BIGINT) AS r_vec
           FROM vtop)
         SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id,
           tr.r_text, vr.r_vec,
           COALESCE(1000000 // ($RrfK + tr.r_text), 0) +
             COALESCE(1000000 // ($RrfK + vr.r_vec), 0) AS fused
         FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id
         ORDER BY fused DESC, doc_id LIMIT 10""",

    "q147_budget_allocation" ->
      s"""WITH st AS (SELECT source,
           CAST(SUM(len(string_split_regex(trim(text), '\\s+')))
             AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS w_total FROM st),
         base AS (SELECT st.source, st.n_tokens,
             ($AllocBudget * st.n_tokens) // t.w_total AS q,
             ($AllocBudget * st.n_tokens) % t.w_total AS r
           FROM st CROSS JOIN tot t),
         x AS (SELECT source, n_tokens, q,
             ROW_NUMBER() OVER (ORDER BY r DESC, source ASC) AS seat,
             $AllocBudget - SUM(q) OVER () AS leftover
           FROM base)
         SELECT source, n_tokens,
           CAST(q + CASE WHEN seat <= leftover THEN 1 ELSE 0 END
             AS BIGINT) AS alloc
         FROM x ORDER BY source""",

    "q146_image_hash" ->
      """WITH cells AS (SELECT d.doc_id, rx.x, ry.y,
           ((d.doc_id % 50) * 31 + rx.x * 7 + ry.y * 13) % 256 AS gray
           FROM documents d
           CROSS JOIN (SELECT unnest(range(0, 8)) AS x) rx
           CROSS JOIN (SELECT unnest(range(0, 8)) AS y) ry),
         m AS (SELECT doc_id, SUM(gray) // 64 AS mean
           FROM cells GROUP BY doc_id),
         b AS (SELECT c.doc_id, c.y * 8 + c.x AS pos,
             CASE WHEN c.gray > m.mean THEN '1' ELSE '0' END AS bit
           FROM cells c JOIN m USING (doc_id)),
         h AS (SELECT doc_id, string_agg(bit, '' ORDER BY pos) AS ahash
           FROM b GROUP BY doc_id)
         SELECT doc_id, ahash,
           COUNT(*) OVER (PARTITION BY ahash) AS n_same
         FROM h ORDER BY doc_id""",

    "q144_moving_avg" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(18,2))) AS revenue, COUNT(*) AS n
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         wd AS (SELECT day, revenue, n,
             CAST(SUM(revenue) OVER (ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) /
             CAST(COUNT(*) OVER (ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS ma7,
             LAG(revenue, 1) OVER (ORDER BY day) AS prev_revenue
           FROM daily)
         SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(revenue AS DOUBLE) AS revenue, n, ma7,
           CAST(CAST(revenue - COALESCE(prev_revenue, revenue)
             AS DECIMAL(18,2)) AS DOUBLE) AS delta
         FROM wd ORDER BY day""",

    "q145_event_pivot" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_error
         FROM events GROUP BY 1 ORDER BY day""",

    "q141_graph_stats" ->
      s"""WITH $shingleCte, $minhashSigSql, $bandSql,
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         deg AS (SELECT id, COUNT(*) AS deg FROM (
             SELECT id_a AS id FROM pairs
             UNION ALL SELECT id_b FROM pairs) u GROUP BY id),
         tri AS (SELECT COUNT(*) AS n_triangles
           FROM pairs e1
             JOIN pairs e2 ON e2.id_a = e1.id_b
             JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
         SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM pairs) AS n_edges,
           (SELECT MAX(deg) FROM deg) AS max_degree,
           (SELECT n_triangles FROM tri) AS n_triangles""",

    "q199_clustering_coefficient" ->
      s"""WITH $shingleCte, $minhashSigSql, $bandSql,
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         deg AS (SELECT id, COUNT(*) AS deg FROM (
             SELECT id_a AS id FROM pairs
             UNION ALL SELECT id_b FROM pairs) u GROUP BY id),
         tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
           FROM pairs e1
             JOIN pairs e2 ON e2.id_a = e1.id_b
             JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
         tn AS (SELECT id, COUNT(*) AS n_tri FROM (
             SELECT a AS id FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri) u GROUP BY id)
         SELECT deg.id AS doc_id, deg.deg,
           COALESCE(tn.n_tri, 0) AS n_tri,
           CAST(COALESCE(tn.n_tri, 0) * 2 * 1000000
             // (deg.deg * (deg.deg - 1)) AS BIGINT) AS coeff_ppm
         FROM deg LEFT JOIN tn ON tn.id = deg.id
         WHERE deg.deg >= 2
         ORDER BY coeff_ppm DESC, doc_id LIMIT 20""",

    "q142_event_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
           FROM events),
         v AS (SELECT user_id, MIN(us) AS v_us FROM ev
           WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, MIN(e.us) AS c_us
           FROM ev e JOIN v USING (user_id)
           WHERE e.event_type = 'click' AND e.us > v.v_us
           GROUP BY e.user_id),
         p AS (SELECT e.user_id FROM ev e JOIN c USING (user_id)
           WHERE e.event_type = 'purchase' AND e.us > c.c_us
           GROUP BY e.user_id)
         SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_full_funnel""",

    "q143_local_supplier" ->
      """SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
             AND c_nationkey = s_nationkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY n_name ORDER BY n_name""",

    "q152_kmv_distinct" -> {
      import graft.operators.Sketches
      val num = (KmvK - 1).toLong * Sketches.KmvSpace
      val kth = s"COALESCE(MAX(CASE WHEN rn = $KmvK THEN h END), 0)"
      s"""WITH hh AS (SELECT DISTINCT source,
           ${Sketches.kmvHashSql("text")} AS h
           FROM documents),
         r AS (SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS nd
           FROM hh),
         sk AS (SELECT source,
             CAST(LEAST(MAX(nd), $KmvK) AS BIGINT) AS n_hashes,
             CAST($kth AS BIGINT) AS kth_hash,
             CAST(CASE WHEN MAX(nd) < $KmvK THEN MAX(nd)
               ELSE $num // GREATEST($kth, 1) END AS BIGINT)
               AS distinct_est
           FROM r GROUP BY source),
         x AS (SELECT source,
             CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct
           FROM documents GROUP BY source)
         SELECT source, x.n_distinct, sk.n_hashes, sk.kth_hash,
           sk.distinct_est
         FROM sk JOIN x USING (source) ORDER BY source""" },

    "q153_exact_quantiles" -> {
      val pv = QuantilePcts.map(p => s"($p)").mkString(", ")
      s"""WITH v AS (SELECT CAST(trunc(o_totalprice * 100) AS BIGINT) AS v
           FROM orders),
         n AS (SELECT COUNT(*) AS n FROM v),
         t AS (SELECT pv.p AS pct, (n.n * pv.p + 99) // 100 AS tr
           FROM n, (VALUES $pv) pv(p)),
         r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM v)
         SELECT t.pct, r.v AS value
         FROM t JOIN r ON r.rn = t.tr ORDER BY pct""" },

    "q154_length_outliers" ->
      """WITH d AS (SELECT source,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             AS v
           FROM documents),
         r AS (SELECT source, v,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
           FROM d),
         q AS (SELECT source,
             MAX(CASE WHEN rn = (n * 25 + 99) // 100 THEN v END) AS p25,
             MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN v END) AS p50,
             MAX(CASE WHEN rn = (n * 75 + 99) // 100 THEN v END) AS p75
           FROM r GROUP BY source),
         o AS (SELECT d.source,
             CAST(SUM(CASE WHEN d.v > q.p75 + (3 * (q.p75 - q.p25)) // 2
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
           FROM d JOIN q USING (source) GROUP BY d.source)
         SELECT source, q.p25, q.p50, q.p75,
           COALESCE(o.n_outliers, 0) AS n_outliers
         FROM q LEFT JOIN o USING (source) ORDER BY source""",

    "q155_skew_profile" ->
      """WITH c AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders
           GROUP BY o_custkey),
         n AS (SELECT COUNT(*) AS nk, CAST(SUM(cnt) AS BIGINT) AS tot,
             MAX(cnt) AS mx
           FROM c),
         r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt) AS rn FROM c),
         q AS (SELECT
             MAX(CASE WHEN r.rn = (n.nk * 50 + 99) // 100 THEN r.cnt END)
               AS p50,
             MAX(CASE WHEN r.rn = (n.nk * 90 + 99) // 100 THEN r.cnt END)
               AS p90,
             MAX(CASE WHEN r.rn = (n.nk * 99 + 99) // 100 THEN r.cnt END)
               AS p99
           FROM r, n)
         SELECT n.nk AS n_keys, n.tot AS total_rows,
           CAST(n.mx AS BIGINT) AS max_cnt, q.p50, q.p90, q.p99,
           CAST(n.mx * 1000000 // n.tot AS BIGINT) AS top_share_ppm
         FROM n, q""",

    "q156_returned_revenue" ->
      """SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
         FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE l.l_returnflag = 'R'
           AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         GROUP BY 1, 2
         ORDER BY revenue DESC, c.c_custkey ASC
         LIMIT 20""",

    "q157_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS BIGINT)
             AS total_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS BIGINT)
             > 250)
         SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_totalprice, big.total_qty
         FROM orders o
           JOIN big ON o.o_orderkey = big.l_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
         LIMIT 20""",

    "q158_event_transitions" ->
      """WITH ev AS (SELECT user_id, event_type, event_id,
           epoch_us(ts) AS us
           FROM events),
         lagd AS (SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
               ORDER BY us, event_id) AS prev_type
           FROM ev),
         tr AS (SELECT prev_type, event_type AS next_type,
             COUNT(*) AS n
           FROM lagd WHERE prev_type IS NOT NULL
           GROUP BY prev_type, event_type)
         SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 //
             SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS ppm
         FROM tr ORDER BY prev_type, next_type""",

    "q159_quality_calibration" -> {
      val boundCols = (1 to 9).map(d =>
        s"MAX(CASE WHEN rn = (n.n * ${d * 10} + 99) // 100 THEN q6 END) " +
          s"AS b$d").mkString(", ")
      val decileExpr = (1 to 9)
        .map(i => s"(CASE WHEN q6 > b.b$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $toksCte, $qualityComponentsSql,
         s AS (SELECT doc_id, text,
             CAST(trunc(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                 - (stopword_ratio * 0.5) - (punct_ratio * 2.0))
               * 1000000) AS BIGINT) AS q6
           FROM comp),
         n AS (SELECT COUNT(*) AS n FROM s),
         r AS (SELECT q6, ROW_NUMBER() OVER (ORDER BY q6) AS rn FROM s),
         b AS (SELECT $boundCols FROM r, n),
         dup AS (SELECT text, COUNT(*) AS c FROM s GROUP BY text),
         d AS (SELECT s.q6, (dup.c > 1) AS is_dup
           FROM s JOIN dup USING (text)),
         dd AS (SELECT 1 + $decileExpr AS decile, is_dup FROM d, b)
         SELECT decile, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dups,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1000000
             // COUNT(*) AS BIGINT) AS dup_ppm
         FROM dd GROUP BY decile ORDER BY decile""" },

    "q160_user_growth" ->
      """WITH f AS (SELECT user_id, MIN(strftime(ts, '%Y-%m-%d')) AS day
           FROM events GROUP BY user_id),
         d AS (SELECT day, COUNT(*) AS n_new_users FROM f GROUP BY day)
         SELECT day, n_new_users,
           CAST(SUM(n_new_users) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
         FROM d ORDER BY day""",

    "q161_session_stats" ->
      s"""WITH ${SessionSql.cte("b", Seq("ts"))},
         sess AS (
           SELECT user_id, session_idx, COUNT(*) AS n_events,
             epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
           FROM b
           GROUP BY user_id, session_idx)
         SELECT n_events, COUNT(*) AS n_sessions,
           CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
           CAST(MAX(dur_us) AS BIGINT) AS max_dur_us,
           CAST(SUM(dur_us) // COUNT(*) AS BIGINT) AS mean_dur_us
         FROM sess GROUP BY n_events ORDER BY n_events""",

    "q162_bm25" ->
      s"""WITH d2 AS (SELECT doc_id, lower(text) AS ltext,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
             AS dl
           FROM documents),
         corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS corpus_len
           FROM d2),
         occ AS (SELECT doc_id,
             unnest(string_split_regex(trim(ltext), '\\s+')) AS term
           FROM d2),
         hit AS (SELECT doc_id, term, COUNT(*) AS tf FROM occ
           WHERE term IN (${TfIdfTerms.map("'" + _ + "'").mkString(", ")})
           GROUP BY doc_id, term),
         dfreq AS (SELECT term, COUNT(*) AS df FROM hit GROUP BY term)
         SELECT h.doc_id,
           CAST(SUM((1000000::HUGEINT
               * length(bin(n.n_docs // d.df)) * 44 * h.tf * n.corpus_len)
             // (20::HUGEINT * n.corpus_len * h.tf
               + 6::HUGEINT * n.corpus_len
               + 18::HUGEINT * l.dl * n.n_docs)) AS BIGINT) AS score_ppm,
           COUNT(*) AS n_terms_hit
         FROM hit h JOIN dfreq d USING (term) CROSS JOIN corpus n
           JOIN d2 l ON h.doc_id = l.doc_id
         GROUP BY h.doc_id
         ORDER BY score_ppm DESC, h.doc_id LIMIT $TfIdfK""",

    "q163_promo_revenue" ->
      """WITH j AS (SELECT
           CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l.l_discount AS DECIMAL(12,2))) * 10000
             AS HUGEINT) AS rev_e4,
           p.p_type
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l.l_shipdate < TIMESTAMP '1996-03-01 00:00:00'),
         a AS (SELECT
             SUM(CASE WHEN p_type = 'PROMO' THEN rev_e4
               ELSE 0::HUGEINT END) AS promo_e4,
             SUM(rev_e4) AS total_e4
           FROM j)
         SELECT CAST(promo_e4 AS DOUBLE) / 10000 AS promo_revenue,
           CAST(total_e4 AS DOUBLE) / 10000 AS total_revenue,
           CAST(promo_e4 * 1000000 // total_e4 AS BIGINT) AS promo_ppm
         FROM a""",

    "q164_priority_returns" ->
      """SELECT o.o_orderpriority, COUNT(*) AS order_count
         FROM orders o
         WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
         GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""",

    "q165_gap_quantiles" ->
      """WITH g AS (SELECT
           epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id)) AS v
         FROM events),
         v AS (SELECT v FROM g WHERE v IS NOT NULL),
         n AS (SELECT COUNT(*) AS n FROM v),
         t AS (SELECT pv.p AS pct, (n.n * pv.p + 99) // 100 AS tr
           FROM n, (VALUES (50), (90), (99)) pv(p)),
         r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM v)
         SELECT t.pct, r.v AS value
         FROM t JOIN r ON r.rn = t.tr ORDER BY pct""",

    "q166_hll_distinct" ->
      """WITH v AS (SELECT l_returnflag AS grp,
           md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem),
         w AS (SELECT grp, substr(h, 1, 2) AS register,
           substr(h, 3, 12) AS w FROM v),
         z AS (SELECT grp, register, w,
           length(regexp_extract(w, '^(0*)', 1)) AS z FROM w),
         r AS (SELECT grp, register,
           CASE WHEN z = 12 THEN 49
                ELSE 4 * z + 1 + (CASE substr(w, z + 1, 1)
                  WHEN '1' THEN 3
                  WHEN '2' THEN 2 WHEN '3' THEN 2
                  WHEN '4' THEN 1 WHEN '5' THEN 1
                  WHEN '6' THEN 1 WHEN '7' THEN 1
                  ELSE 0 END) END AS rho
           FROM z),
         mx AS (SELECT grp, register, MAX(rho) AS rho_max FROM r
           GROUP BY grp, register),
         s AS (SELECT grp,
             SUM(1::BIGINT << (49 - rho_max))
               + (256 - COUNT(*)) * (1::BIGINT << 49) AS s_scaled
           FROM mx GROUP BY grp),
         e AS (SELECT grp,
             CAST((1846528000::HUGEINT * 256 * 256 * (1::HUGEINT << 49))
               // (2570790000::HUGEINT * s_scaled) AS BIGINT)
               AS hll_estimate
           FROM s),
         x AS (SELECT l_returnflag AS grp,
             COUNT(DISTINCT l_partkey) AS exact_distinct
           FROM lineitem GROUP BY 1)
         SELECT e.grp AS l_returnflag, e.hll_estimate, x.exact_distinct,
           CAST(abs(e.hll_estimate - x.exact_distinct) * 1000000
             // x.exact_distinct AS BIGINT) AS err_ppm
         FROM e JOIN x USING (grp) ORDER BY l_returnflag""",

    "q167_join_size_estimate" -> {
      val seeds = (0 until CmsDepth).map(s => s"($s)").mkString(",")
      s"""WITH seeds(seed) AS (VALUES $seeds),
         ca AS (SELECT s.seed,
             substr(md5(CAST(s.seed AS VARCHAR) || '|' ||
               CAST(e.user_id AS VARCHAR)), 1, $CmsHexChars) AS cell,
             COUNT(*) AS cnt
           FROM events e CROSS JOIN seeds s
           WHERE e.event_type = 'click' GROUP BY 1, 2),
         cb AS (SELECT s.seed,
             substr(md5(CAST(s.seed AS VARCHAR) || '|' ||
               CAST(e.user_id AS VARCHAR)), 1, $CmsHexChars) AS cell,
             COUNT(*) AS cnt
           FROM events e CROSS JOIN seeds s
           WHERE e.event_type = 'purchase' GROUP BY 1, 2),
         ip AS (SELECT ca.seed, SUM(ca.cnt * cb.cnt) AS ip
           FROM ca JOIN cb ON ca.seed = cb.seed AND ca.cell = cb.cell
           GROUP BY ca.seed),
         est AS (SELECT CAST(COALESCE(MIN(ip), 0) AS BIGINT) AS join_size_est FROM ip),
         x AS (SELECT COUNT(*) AS exact_join_size
           FROM (SELECT user_id FROM events WHERE event_type = 'click') a
             JOIN (SELECT user_id FROM events
               WHERE event_type = 'purchase') b
             ON a.user_id = b.user_id)
         SELECT est.join_size_est, x.exact_join_size,
           est.join_size_est - x.exact_join_size AS overestimate
         FROM est, x""" },

    "q168_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
             CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND CAST(l_discount AS DECIMAL(12,2)) BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",

    "q175_session_funnel" ->
      s"""WITH ${SessionSql.cte("se", Seq("event_type", "epoch_us(ts) AS us"))},
         v AS (SELECT user_id, session_idx, MIN(us) AS v_us FROM se
           WHERE event_type = 'view' GROUP BY 1, 2),
         c AS (SELECT se.user_id, se.session_idx, MIN(se.us) AS c_us
           FROM se JOIN v ON se.user_id = v.user_id
             AND se.session_idx = v.session_idx
           WHERE se.event_type = 'click' AND se.us > v.v_us
           GROUP BY 1, 2),
         p AS (SELECT se.user_id, se.session_idx
           FROM se JOIN c ON se.user_id = c.user_id
             AND se.session_idx = c.session_idx
           WHERE se.event_type = 'purchase' AND se.us > c.c_us
           GROUP BY 1, 2),
         t AS (SELECT COUNT(*) AS n_sessions FROM
           (SELECT DISTINCT user_id, session_idx FROM se) x)
         SELECT t.n_sessions,
           (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_full_funnel
         FROM t""",

    "q174_benford_audit" ->
      """WITH c AS (SELECT CAST(trunc(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders WHERE CAST(trunc(o_totalprice * 100) AS BIGINT) > 0),
         dg AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT)
             AS d, COUNT(*) AS n
           FROM c GROUP BY 1),
         t AS (SELECT COUNT(*) AS total FROM c)
         SELECT dg.d, dg.n,
           CAST(dg.n * 1000000 // t.total AS BIGINT) AS observed_ppm,
           CAST(CASE dg.d WHEN 1 THEN 301030 WHEN 2 THEN 176091
             WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
             WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
             WHEN 9 THEN 45757 ELSE 0 END AS BIGINT) AS expected_ppm,
           CAST(abs(dg.n * 1000000 // t.total - (CASE dg.d
             WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
             WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
             WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757
             ELSE 0 END)) AS BIGINT) AS dev_ppm
         FROM dg CROSS JOIN t ORDER BY dg.d""",

    "q173_length_percentile_rank" ->
      """WITH d AS (SELECT doc_id, source,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
         FROM documents),
         bv AS (SELECT source, n_tokens, COUNT(*) AS c FROM d
           GROUP BY source, n_tokens),
         r AS (SELECT source, n_tokens,
             SUM(c) OVER (PARTITION BY source ORDER BY n_tokens
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_le
           FROM bv),
         n AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
         j AS (SELECT d.source, d.doc_id, d.n_tokens,
             r.cum_le * 1000000 // n.n AS pct_rank_ppm
           FROM d JOIN r ON d.source = r.source
             AND d.n_tokens = r.n_tokens
           JOIN n ON d.source = n.source),
         top AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY pct_rank_ppm DESC, doc_id ASC) AS rk
           FROM j)
         SELECT source, doc_id, n_tokens,
           CAST(pct_rank_ppm AS BIGINT) AS pct_rank_ppm
         FROM top WHERE rk <= 5 ORDER BY source, doc_id""",

    "q172_source_weighted_lengths" ->
      """WITH v AS (SELECT source AS g,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS v
         FROM documents),
         n AS (SELECT g, SUM(v) AS n FROM v GROUP BY g),
         t AS (SELECT n.g, pv.p AS pct, (n.n * pv.p + 99) // 100 AS tr
           FROM n, (VALUES (50), (90)) pv(p)),
         gr AS (SELECT g, v, SUM(v) AS vw FROM v GROUP BY g, v),
         r AS (SELECT g, v, vw,
             SUM(vw) OVER (PARTITION BY g ORDER BY v) AS cw
           FROM gr)
         SELECT t.g AS source, t.pct, r.v AS value
         FROM t JOIN r ON t.g = r.g
           AND r.cw >= t.tr AND r.cw - r.vw < t.tr
         ORDER BY source, pct""",

    "q171_token_weighted_lengths" ->
      """WITH v AS (SELECT
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS v
         FROM documents),
         n AS (SELECT SUM(v) AS n FROM v),
         t AS (SELECT pv.p AS pct, (n.n * pv.p + 99) // 100 AS tr
           FROM n, (VALUES (50), (90), (99)) pv(p)),
         g AS (SELECT v, SUM(v) AS vw FROM v GROUP BY v),
         r AS (SELECT v, vw, SUM(vw) OVER (ORDER BY v) AS cw FROM g)
         SELECT t.pct, r.v AS value
         FROM t JOIN r ON r.cw >= t.tr AND r.cw - r.vw < t.tr
         ORDER BY pct""",

    "q170_centroid_drift" ->
      s"""WITH s AS (SELECT label, (vec_id % 2 = 0) AS snap_a,
           list_transform(embedding,
             x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
         FROM embeddings),
         dims AS (SELECT unnest(range(1, ${Dim + 1})) AS d),
         dv AS (SELECT label, snap_a, d.d, s.q[d.d] AS v
           FROM s CROSS JOIN dims d),
         ds AS (SELECT label, snap_a, d, SUM(v) AS s_d, COUNT(*) AS n
           FROM dv GROUP BY label, snap_a, d),
         m AS (SELECT label, snap_a, d, (s_d * 1000) // n AS m_d, n
           FROM ds),
         a AS (SELECT label, d, m_d AS ma, n AS na FROM m WHERE snap_a),
         b AS (SELECT label, d, m_d AS mb, n AS nb FROM m WHERE NOT snap_a)
         SELECT a.label, MAX(a.na) AS n_a, MAX(b.nb) AS n_b,
           CAST(SUM((a.ma - b.mb)::HUGEINT * (a.ma - b.mb)) AS BIGINT)
             AS drift_l2sq_e12
         FROM a JOIN b ON a.label = b.label AND a.d = b.d
         GROUP BY a.label ORDER BY a.label""",

    "q169_embedding_diversity" ->
      s"""WITH s AS (SELECT label,
           list_transform(embedding,
             x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
         FROM embeddings),
         pr AS (SELECT label, q,
             list_sum(list_transform(q, x -> x * x)) AS sq
           FROM s),
         dims AS (SELECT unnest(range(1, ${Dim + 1})) AS d),
         dv AS (SELECT label, d.d, pr.q[d.d] AS v
           FROM pr CROSS JOIN dims d),
         sd AS (SELECT label, d, SUM(v) AS s_d FROM dv GROUP BY label, d),
         s2 AS (SELECT label, SUM(s_d::HUGEINT * s_d) AS sum_sd2
           FROM sd GROUP BY label),
         tt AS (SELECT label, COUNT(*) AS n, SUM(sq) AS t FROM pr
           GROUP BY label)
         SELECT s2.label, tt.n,
           CAST((s2.sum_sd2 - tt.t) // (tt.n * (tt.n - 1)) AS BIGINT)
             AS mean_pair_dot_e6
         FROM s2 JOIN tt ON s2.label = tt.label
         WHERE tt.n > 1 ORDER BY s2.label""",

    "q139_countmin" -> {
      val seeds = (0 until CmsDepth).map(s => s"($s)").mkString(",")
      val probeVals = CmsProbeTokens.map(t => s"('$t')").mkString(",")
      s"""WITH occ AS (SELECT
             unnest(string_split_regex(trim(text), '\\s+')) AS tok
           FROM documents),
         cells AS (SELECT seed, cell, COUNT(*) AS cnt FROM (
             SELECT s.seed,
               substr(md5(CAST(s.seed AS VARCHAR) || '|' || occ.tok),
                 1, $CmsHexChars) AS cell
             FROM occ CROSS JOIN (VALUES $seeds) s(seed)) x
           GROUP BY seed, cell),
         probes(tok) AS (VALUES $probeVals),
         fan AS (SELECT p.tok, s.seed,
             substr(md5(CAST(s.seed AS VARCHAR) || '|' || p.tok),
               1, $CmsHexChars) AS cell
           FROM probes p CROSS JOIN (VALUES $seeds) s(seed)),
         est AS (SELECT f.tok,
             MIN(COALESCE(c.cnt, 0)) AS cms_estimate
           FROM fan f LEFT JOIN cells c USING (seed, cell)
           GROUP BY f.tok),
         tr AS (SELECT tok, COUNT(*) AS true_count FROM occ GROUP BY tok)
         SELECT e.tok, COALESCE(t.true_count, 0) AS true_count,
           CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
           CAST(e.cms_estimate - COALESCE(t.true_count, 0) AS BIGINT)
             AS overestimate
         FROM est e LEFT JOIN tr t USING (tok) ORDER BY e.tok""" },

    "q140_bloom_decontam" -> {
      val seeds = (0 until BloomDepth).map(s => s"($s)").mkString(",")
      s"""WITH $shingleCte,
         bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 100 = 0),
         bits AS (SELECT DISTINCT s.seed,
             substr(md5(CAST(s.seed AS VARCHAR) || '|' || b.shingle),
               1, $BloomHexChars) AS cell
           FROM bench b CROSS JOIN (VALUES $seeds) s(seed)),
         fan AS (SELECT sh.doc_id, sh.shingle, s.seed,
             substr(md5(CAST(s.seed AS VARCHAR) || '|' || sh.shingle),
               1, $BloomHexChars) AS cell
           FROM sh CROSS JOIN (VALUES $seeds) s(seed)),
         mb AS (SELECT f.doc_id, f.shingle,
             (SUM(CASE WHEN b.cell IS NOT NULL THEN 1 ELSE 0 END)
               = $BloomDepth) AS maybe
           FROM fan f LEFT JOIN bits b
             ON b.seed = f.seed AND b.cell = f.cell
           GROUP BY f.doc_id, f.shingle),
         pr AS (SELECT doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
               AS n_maybe
           FROM mb GROUP BY doc_id),
         tr AS (SELECT sh.doc_id, COUNT(*) AS n_true
           FROM sh JOIN bench USING (shingle) GROUP BY sh.doc_id)
         SELECT p.doc_id, p.n_shingles, p.n_maybe,
           COALESCE(t.n_true, 0) AS n_true,
           p.n_maybe - COALESCE(t.n_true, 0) AS n_false_pos
         FROM pr p LEFT JOIN tr t USING (doc_id)
         WHERE p.n_maybe > 0 ORDER BY p.doc_id""" },

    "q132_lsh_precision" -> {
      val agree = (0 until NumHashes)
        .map(i => s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $shingleCte, $minhashSigSql, $bandSql,
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         ag AS (SELECT pairs.id_a, pairs.id_b,
             CAST($agree AS BIGINT) AS n_match
           FROM pairs JOIN sig sa ON sa.doc_id = pairs.id_a
             JOIN sig sb ON sb.doc_id = pairs.id_b),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         icte AS (SELECT p.id_a, p.id_b, COUNT(*) AS icnt
           FROM pairs p JOIN sh a ON a.doc_id = p.id_a
             JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
           GROUP BY p.id_a, p.id_b),
         ov AS (SELECT g.n_match, COALESCE(i.icnt, 0) AS inter,
             za.sz AS size_a, zb.sz AS size_b
           FROM ag g
             LEFT JOIN icte i ON i.id_a = g.id_a AND i.id_b = g.id_b
             JOIN sizes za ON za.doc_id = g.id_a
             JOIN sizes zb ON zb.doc_id = g.id_b),
         bk AS (SELECT n_match, COUNT(*) AS n_pairs,
             CAST(SUM(CASE WHEN inter * 2 >= size_a + size_b - inter
               THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
             CAST(SUM(inter) AS BIGINT) AS inter_sum,
             CAST(SUM(size_a + size_b - inter) AS BIGINT) AS union_sum
           FROM ov GROUP BY n_match)
         SELECT n_match, n_pairs, n_true, inter_sum, union_sum,
           CAST(n_true AS DOUBLE) / CAST(n_pairs AS DOUBLE)
             AS bucket_precision
         FROM bk ORDER BY n_match""" },

    "q133_containment" ->
      s"""WITH $shingleCte, $minhashSigSql, $bandSql,
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         icte AS (SELECT p.id_a, p.id_b, COUNT(*) AS icnt
           FROM pairs p JOIN sh a ON a.doc_id = p.id_a
             JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
           GROUP BY p.id_a, p.id_b),
         ov AS (SELECT p.id_a, p.id_b, COALESCE(i.icnt, 0) AS inter,
             za.sz AS size_a, zb.sz AS size_b
           FROM pairs p
             LEFT JOIN icte i ON i.id_a = p.id_a AND i.id_b = p.id_b
             JOIN sizes za ON za.doc_id = p.id_a
             JOIN sizes zb ON zb.doc_id = p.id_b)
         SELECT id_a, id_b, inter, size_a, size_b,
           CAST(inter AS DOUBLE) / CAST(size_a AS DOUBLE) AS cont_a,
           CAST(inter AS DOUBLE) / CAST(size_b AS DOUBLE) AS cont_b,
           (inter = least(size_a, size_b)) AS is_subset
         FROM ov ORDER BY id_a, id_b""",

    "q134_length_histogram" ->
      """WITH d AS (SELECT source,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
           FROM documents),
         b AS (SELECT source,
             CAST(length(bin(n_tokens)) AS BIGINT) AS bucket, n_tokens
           FROM d)
         SELECT source, bucket, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
         FROM b GROUP BY source, bucket ORDER BY source, bucket""",

    "q135_card_drift" ->
      """WITH tok AS (SELECT doc_id, source, lang,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
           FROM documents),
         prev AS (SELECT source, lang, COUNT(*) AS docs_prev,
             CAST(SUM(n_tokens) AS BIGINT) AS toks_prev
           FROM tok WHERE doc_id % 10 <> 0 GROUP BY source, lang),
         curr AS (SELECT source, lang, COUNT(*) AS docs_curr,
             CAST(SUM(n_tokens) AS BIGINT) AS toks_curr
           FROM tok GROUP BY source, lang)
         SELECT source, lang,
           COALESCE(docs_prev, 0) AS docs_prev,
           COALESCE(toks_prev, 0) AS toks_prev,
           COALESCE(docs_curr, 0) AS docs_curr,
           COALESCE(toks_curr, 0) AS toks_curr,
           COALESCE(docs_curr, 0) - COALESCE(docs_prev, 0) AS docs_delta,
           COALESCE(toks_curr, 0) - COALESCE(toks_prev, 0) AS toks_delta
         FROM prev FULL OUTER JOIN curr USING (source, lang)
         ORDER BY source, lang""",

    "q131_cluster_sizes" ->
      s"""WITH RECURSIVE $shingleCte, $minhashSigSql, $bandSql,
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(id, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
         clusters AS (SELECT id AS doc_id, MIN(label) AS cluster_id
           FROM reach GROUP BY id),
         lab AS (SELECT d.doc_id,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN clusters c USING (doc_id)),
         cs AS (SELECT cluster_id, COUNT(*) AS cluster_size
           FROM lab GROUP BY cluster_id)
         SELECT cluster_size, COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
         FROM cs GROUP BY cluster_size ORDER BY cluster_size""",

    "q124_dup_rank" ->
      s"""WITH $shingleCte, $minhashSigSql, $bandSql,
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         ${prRoundCtes(PrRounds)}
         SELECT doc_id, rank FROM pr$PrRounds ORDER BY doc_id""",

    "q125_snapshot_diff" ->
      """WITH b AS (SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END
             AS text
           FROM documents WHERE doc_id % 17 <> 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents
           WHERE doc_id % 19 = 0),
         ha AS (SELECT doc_id, md5(text) AS h_old FROM documents),
         hb AS (SELECT doc_id, md5(text) AS h_new FROM b)
         SELECT COALESCE(ha.doc_id, hb.doc_id) AS doc_id,
           CASE WHEN ha.doc_id IS NULL THEN 'added'
             WHEN hb.doc_id IS NULL THEN 'removed'
             WHEN h_old = h_new THEN 'unchanged'
             ELSE 'changed' END AS status
         FROM ha FULL OUTER JOIN hb ON ha.doc_id = hb.doc_id
         ORDER BY doc_id""",

    "q120_temperature_mix" ->
      """WITH cnt AS (SELECT source, COUNT(*) AS grp_n
           FROM documents GROUP BY source),
         mn AS (SELECT MIN(grp_n) AS n_min FROM cnt),
         r AS (SELECT d.doc_id, d.source, cnt.grp_n,
             ROW_NUMBER() OVER (PARTITION BY d.source
               ORDER BY md5('temp|' || CAST(d.doc_id AS VARCHAR)), d.doc_id)
               AS rk
           FROM documents d JOIN cnt USING (source)),
         kept AS (SELECT r.doc_id, r.source FROM r, mn
           WHERE rk <= floor(sqrt(CAST(mn.n_min * r.grp_n AS DOUBLE))))
         SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS min_id,
           MAX(doc_id) AS max_id
         FROM kept GROUP BY source ORDER BY source""",

    "q111_lm_score" ->
      """WITH tr AS (SELECT unnest(string_split_regex(trim(text), '\s+'))
             AS tok
           FROM documents WHERE doc_id % 5 <> 0),
         lm AS (SELECT tok, COUNT(*) AS tf FROM tr GROUP BY tok),
         n AS (SELECT COUNT(*) AS n_lm FROM tr),
         occ AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents WHERE doc_id % 5 = 0)
         SELECT o.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN l.tf IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(length(bin(n.n_lm // COALESCE(l.tf, 1)))) AS BIGINT)
             AS total_bits,
           CAST(SUM(length(bin(n.n_lm // COALESCE(l.tf, 1)))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_bits
         FROM occ o LEFT JOIN lm l USING (tok) CROSS JOIN n
         GROUP BY o.doc_id ORDER BY o.doc_id""",

    "q109_bigram_surprisal" ->
      """WITH docs AS (SELECT doc_id,
           string_split_regex(trim(text), '\s+') AS toks FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(
           range(1, greatest(len(toks) - 1, 1) + 1),
           i -> array_to_string(toks[i:i+1], ' '))) AS gram FROM docs),
         gp AS (SELECT doc_id, gram, split_part(gram, ' ', 1) AS prev
           FROM g),
         cb AS (SELECT gram, COUNT(*) AS cb FROM gp GROUP BY gram),
         cu AS (SELECT prev, COUNT(*) AS cu_starts FROM gp GROUP BY prev)
         SELECT gp.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(length(bin(cu.cu_starts // cb.cb))) AS BIGINT)
             AS total_bits,
           CAST(SUM(length(bin(cu.cu_starts // cb.cb))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_bits
         FROM gp JOIN cb USING (gram) JOIN cu USING (prev)
         GROUP BY gp.doc_id ORDER BY gp.doc_id""",

    "q108_data_card" ->
      """WITH d AS (SELECT source, lang, doc_id, length(text) AS nch,
           len(string_split_regex(trim(text), '\s+')) AS ntok,
           md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS ekey
         FROM documents)
         SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS tok_sum,
           CAST(SUM(nch) AS BIGINT) AS chars_sum,
           COUNT(DISTINCT ekey) AS n_unique_texts,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         FROM d GROUP BY source, lang ORDER BY source, lang""",

    "q26_dedup_exact" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
           AS exact_key,
           MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
         FROM documents GROUP BY 1 ORDER BY exact_key""",

    "q27_dedup_jaccard" ->
      s"""WITH $shingleCte,
         sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
           FROM sh a JOIN sh b USING (shingle)
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT id_a, id_b, inter, sa.set_size AS size_a, sb.set_size AS size_b,
           CAST(inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - inter AS DOUBLE)
             AS jaccard
         FROM pairs
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - inter AS DOUBLE)
           >= $JaccardThreshold
         ORDER BY id_a, id_b""",

    "q28_dedup_minhash" ->
      s"""WITH $shingleCte, $minhashSigSql, $bandSql
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b USING (band, band_key)
         WHERE a.doc_id < b.doc_id
         ORDER BY id_a, id_b""",

    "q368_cross_source_dup_matrix" ->
      s"""WITH $shingleCte, $minhashSigSql, $bandSql,
         cp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         sp AS (SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             c.id_a, c.id_b
           FROM cp c JOIN documents da ON c.id_a = da.doc_id
                     JOIN documents db ON c.id_b = db.doc_id),
         m AS (SELECT source_a, source_b, COUNT(*) AS n_pairs
           FROM sp GROUP BY 1, 2),
         dd AS (SELECT source_a, source_b,
             COUNT(DISTINCT doc_id) AS n_docs
           FROM (SELECT source_a, source_b, id_a AS doc_id FROM sp
                 UNION ALL
                 SELECT source_a, source_b, id_b FROM sp)
           GROUP BY 1, 2)
         SELECT source_a, source_b,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_docs AS BIGINT) AS n_docs
         FROM m JOIN dd USING (source_a, source_b)
         ORDER BY source_a, source_b""",

    "q29_dedup_simhash" ->
      s"""WITH $toksCte, $simhash64SigSql,
         chunks AS (
           SELECT doc_id, sig, ck,
             (sig >> CAST(16 * ck AS INT)) & 65535 AS cv
           FROM sig, (SELECT unnest(range(0, 4)) AS ck) k)
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.sig AS sig_a, b.sig AS sig_b,
           bit_count(xor(a.sig, b.sig)) AS hamming
         FROM chunks a JOIN chunks b USING (ck, cv)
         WHERE a.doc_id < b.doc_id
           AND bit_count(xor(a.sig, b.sig)) <= 2
         ORDER BY id_a, id_b""",

    "q53_simhash_pigeonhole" ->
      s"""WITH $toksCte, $simhash64SigSql,
         chunks AS (
           SELECT doc_id, sig, ck,
             (sig >> CAST(16 * ck AS INT)) & 65535 AS cv
           FROM sig, (SELECT unnest(range(0, 4)) AS ck) k)
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.sig AS sig_a, b.sig AS sig_b,
           bit_count(xor(a.sig, b.sig)) AS hamming
         FROM chunks a JOIN chunks b USING (ck, cv)
         WHERE a.doc_id < b.doc_id
           AND bit_count(xor(a.sig, b.sig)) <= 3
         ORDER BY id_a, id_b""",

    "q37_offload_e2e" ->
      """SELECT * FROM (VALUES
           (0, 'analyze_plan', true),
           (1, 'stage_and_load', true),
           (2, 'verify_counts', true),
           (3, 'save_metadata', true),
           (4, 'task_metrics', true))
         AS t(step_order, step, ok)
         ORDER BY step_order""",

    "q66_multimodal_meta" ->
      """WITH m AS (SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           octet_length(encode(text)) AS n_bytes,
           CAST(doc_id % 640 + 1 AS INT) AS w,
           CAST((doc_id * 7) % 480 + 1 AS INT) AS h
           FROM documents),
         t AS (SELECT *,
           CASE WHEN w >= h THEN 64
                ELSE greatest(1, CAST(round(64.0 * w / h) AS INT)) END AS tw,
           CASE WHEN w >= h
                THEN greatest(1, CAST(round(64.0 * h / w) AS INT))
                ELSE 64 END AS th
           FROM m)
         SELECT kind, COUNT(*) AS n_media,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           MAX(tw) AS max_thumb_w, MAX(th) AS max_thumb_h
         FROM t GROUP BY kind ORDER BY kind""",

    "q65_dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCte, $minhashSigSql, $bandSql,
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(id, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
         SELECT id AS doc_id, MIN(label) AS cluster_id
         FROM reach GROUP BY id ORDER BY doc_id""",

    "q67_dedup_canonical" ->
      s"""WITH RECURSIVE $shingleCte, $minhashSigSql, $bandSql,
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(id, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
         clusters AS (SELECT id AS doc_id, MIN(label) AS cluster_id
           FROM reach GROUP BY id),
         scored AS (SELECT d.doc_id,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
             CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
               AS keep_score
           FROM documents d LEFT JOIN clusters c USING (doc_id)),
         ranked AS (SELECT *,
             FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
               ORDER BY keep_score DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS canonical_id
           FROM scored)
         SELECT doc_id, cluster_id, keep_score, canonical_id,
           (doc_id = canonical_id) AS is_canonical
         FROM ranked ORDER BY doc_id""",

    "q64_balanced_sample" ->
      """WITH d AS (SELECT lang, doc_id,
           md5('balance|' || CAST(doc_id AS VARCHAR)) AS draw
           FROM documents),
         r AS (SELECT lang, doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY draw, doc_id)
             AS sample_rank FROM d)
         SELECT lang, COUNT(*) AS n, MIN(doc_id) AS min_id,
           MAX(doc_id) AS max_id
         FROM r WHERE sample_rank <= 40
         GROUP BY lang ORDER BY lang""",

    "q62_hash_split" -> {
      // same thresholds as DatasetOps.hashSplit's defaults
      val th1 = f"${math.floor(0.9 * (1L << 32)).toLong}%08x"
      val th2 = f"${math.floor(0.95 * (1L << 32)).toLong}%08x"
      s"""WITH d AS (SELECT doc_id,
           substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8) AS draw
           FROM documents),
         s AS (SELECT doc_id,
           CASE WHEN draw < '$th1' THEN 'train'
                WHEN draw < '$th2' THEN 'val'
                ELSE 'test' END AS split FROM d)
         SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id
         FROM s GROUP BY split ORDER BY split"""
    },

    "q81_deterministic_shuffle" ->
      """WITH d AS (SELECT doc_id,
           md5('epoch0|' || CAST(doc_id AS VARCHAR)) AS draw
           FROM documents),
         r AS (SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY draw, doc_id) AS shuffle_rank
           FROM d)
         SELECT CAST(FLOOR((shuffle_rank - 1) / 64.0) AS BIGINT)
             AS epoch_batch,
           COUNT(*) AS n, MIN(shuffle_rank) AS min_rank,
           MAX(shuffle_rank) AS max_rank,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM r GROUP BY 1 ORDER BY epoch_batch""",

    "q84_line_dedup" ->
      """WITH split AS (SELECT doc_id, string_split(text, ' ') AS ts
           FROM documents),
         toks AS (SELECT doc_id, ts[CAST(i AS INT)] AS tok, CAST(i AS INT) AS i
           FROM split, LATERAL unnest(range(1, len(ts)+1)) AS t(i)),
         lines0 AS (SELECT doc_id, (i-1)//3 AS lineno,
             string_agg(tok, ' ' ORDER BY i) AS line
           FROM toks GROUP BY doc_id, (i-1)//3),
         hot AS (SELECT line FROM lines0 GROUP BY line
           HAVING COUNT(DISTINCT doc_id) >= 2),
         kept AS (SELECT l.* FROM lines0 l ANTI JOIN hot h USING (line)),
         totals AS (SELECT doc_id, COUNT(*) AS n_lines
           FROM lines0 GROUP BY doc_id),
         rebuilt AS (SELECT doc_id,
             string_agg(line, chr(10) ORDER BY lineno) AS text_clean,
             COUNT(*) AS n_kept
           FROM kept GROUP BY doc_id)
         SELECT t.doc_id, coalesce(r.text_clean, '') AS text_clean,
           t.n_lines, coalesce(r.n_kept, 0) AS n_kept
         FROM totals t LEFT JOIN rebuilt r USING (doc_id)
         ORDER BY t.doc_id""",

    "q85_quantized_ann" -> {
      import graft.operators.Quantize.{Sql => QS}
      s"""WITH q0 AS (SELECT vec_id, embedding,
           ${QS.maxAbs("embedding")} AS max_abs FROM embeddings),
         qv AS (SELECT vec_id, ${QS.qvec("embedding", "max_abs")} AS qvec
           FROM q0),
         qq AS (SELECT qvec AS q_vec FROM qv WHERE vec_id = 0)
         SELECT e.vec_id,
           CAST(${QS.intDot("e.qvec", "qq.q_vec", Dim)} AS BIGINT) AS qdot,
           CAST(${QS.intDot("e.qvec", "qq.q_vec", Dim)} AS DOUBLE)
             / (sqrt(CAST(${QS.intDot("e.qvec", "e.qvec", Dim)} AS DOUBLE))
                * sqrt(CAST(${QS.intDot("qq.q_vec", "qq.q_vec", Dim)} AS DOUBLE)))
             AS score
         FROM qv e, qq
         WHERE e.vec_id <> 0
           AND ${QS.intDot("e.qvec", "e.qvec", Dim)} > 0
         ORDER BY score DESC, e.vec_id LIMIT 10"""
    },

    "q63_sequence_packing" ->
      """WITH t AS (SELECT lang, doc_id,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens
           FROM documents),
         c AS (SELECT lang, doc_id, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) AS cum FROM t),
         b AS (SELECT lang, doc_id, n_tokens,
           CAST(FLOOR((cum - n_tokens) / 500.0) AS BIGINT) AS bin FROM c)
         SELECT lang, bin, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
         FROM b GROUP BY 1, 2 ORDER BY lang, bin""",

    "q61_corpus_curation" ->
      s"""WITH $toksCte, $qualityComponentsSql,
         q AS (SELECT doc_id,
             greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                 - (stopword_ratio * 0.5) - (punct_ratio * 2.0)) AS quality
           FROM comp),
         ek AS (SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
               AS exact_key
           FROM documents),
         keepers AS (SELECT doc_id, exact_key,
             MIN(doc_id) OVER (PARTITION BY exact_key) AS keep_id FROM ek),
         g AS (SELECT doc_id, unnest(list_transform(
             range(1, greatest(len(toks) - 1, 1) + 1),
             i -> array_to_string(toks[i:i+1], ' '))) AS gram FROM docs),
         c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
         rep AS (SELECT doc_id,
             1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
               AS dup_frac
           FROM c GROUP BY doc_id),
         ver AS (SELECT q.doc_id, q.quality, rep.dup_frac, k.keep_id,
             CASE WHEN q.quality < 0.3 THEN 'low_quality'
                  WHEN rep.dup_frac > 0.5 THEN 'repetitive'
                  WHEN q.doc_id <> k.keep_id THEN 'duplicate'
                  ELSE NULL END AS drop_reason
           FROM q JOIN rep USING (doc_id) JOIN keepers k USING (doc_id))
         SELECT doc_id, quality, dup_frac, keep_id,
           drop_reason IS NULL AS keep, drop_reason
         FROM ver ORDER BY doc_id""",

    "q58_contamination" ->
      s"""WITH $shingleCte,
         bench AS (SELECT doc_id AS bench_id, shingle FROM sh
                   WHERE doc_id % 100 = 0),
         bsize AS (SELECT bench_id, COUNT(*) AS bench_size FROM bench
                   GROUP BY bench_id),
         ov AS (SELECT c.doc_id AS corpus_id, b.bench_id, COUNT(*) AS overlap
                FROM sh c JOIN bench b USING (shingle)
                GROUP BY 1, 2)
         SELECT corpus_id, bench_id, overlap, bench_size,
           CAST(overlap AS DOUBLE) / CAST(bench_size AS DOUBLE)
             AS overlap_frac
         FROM ov JOIN bsize USING (bench_id)
         WHERE CAST(overlap AS DOUBLE) / CAST(bench_size AS DOUBLE) >= 0.5
         ORDER BY corpus_id, bench_id""",

    "q56_repetition_metrics" ->
      """WITH docs AS (SELECT doc_id,
           string_split_regex(trim(text), '\s+') AS toks FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(
           range(1, greatest(len(toks) - 1, 1) + 1),
           i -> array_to_string(toks[i:i+1], ' '))) AS gram FROM docs),
         c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
         m AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
           COUNT(*) AS n_distinct, MAX(c) AS max_2gram_count
           FROM c GROUP BY doc_id)
         SELECT doc_id, n_2grams, n_distinct, max_2gram_count,
           1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_2grams AS DOUBLE)
             AS dup_frac,
           CAST(max_2gram_count AS DOUBLE) / CAST(n_2grams AS DOUBLE)
             AS top_frac
         FROM m ORDER BY doc_id""",

    "q57_pii_scrub" ->
      """WITH aug AS (SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@example.com or '
             || CASE WHEN doc_id % 3 = 0
                  THEN 'https://ex.org/d/' || CAST(doc_id AS VARCHAR)
                  ELSE 'nothing' END AS text
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INT)
             AS n_urls,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
             AS n_emails,
           md5(regexp_replace(regexp_replace(text,
             'https?://[^ ]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
             'g')) AS masked_key
         FROM aug ORDER BY doc_id""",

    "q70_token_vocab" ->
      """SELECT tok, COUNT(*) AS n
         FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
                 AS tok
               FROM documents) t
         GROUP BY tok ORDER BY n DESC, tok LIMIT 50""",

    "q350_term_burstiness" ->
      """WITH td AS (SELECT tok, doc_id, COUNT(*) AS c
         FROM (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+'))
               AS tok
           FROM documents) t
         GROUP BY 1, 2),
         ag AS (SELECT tok, SUM(c) AS cf, COUNT(*) AS df,
             MAX(c) AS max_tf
           FROM td GROUP BY 1)
         SELECT tok, CAST(cf AS BIGINT) AS cf,
           CAST(df AS BIGINT) AS df,
           CAST(max_tf AS BIGINT) AS max_tf,
           CAST(cf * 1000000 // df AS BIGINT) AS burst_ppm
         FROM ag ORDER BY cf DESC, tok LIMIT 50""",

    "q358_bigram_collocations" ->
      """WITH lt AS (SELECT doc_id,
           string_split_regex(trim(lower(text)), '\s+') AS ts
         FROM documents),
         pos AS (SELECT doc_id, unnest(ts) AS tok,
           unnest(range(1, len(ts) + 1)) AS p FROM lt),
         big AS (SELECT tok, LEAD(tok) OVER (PARTITION BY doc_id
             ORDER BY p) AS nxt
           FROM pos),
         cxy AS (SELECT tok AS x, nxt AS y, COUNT(*) AS c_xy
           FROM big WHERE nxt IS NOT NULL
           GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         cx AS (SELECT tok, COUNT(*) AS c FROM pos GROUP BY 1),
         nt AS (SELECT COUNT(*) AS n_toks FROM pos)
         SELECT p.x || ' ' || p.y AS bigram,
           CAST(p.c_xy AS BIGINT) AS c_xy,
           CAST(a.c AS BIGINT) AS c_x, CAST(b.c AS BIGINT) AS c_y,
           CAST(length(bin(nt.n_toks * p.c_xy))
             - length(bin(a.c * b.c)) AS BIGINT) AS pmi_bits
         FROM cxy p
         JOIN cx a ON p.x = a.tok
         JOIN cx b ON p.y = b.tok
         CROSS JOIN nt
         ORDER BY pmi_bits DESC, c_xy DESC, bigram LIMIT 20""",

    "q359_dedup_yield_curve" ->
      s"""WITH $shingleCte,
         sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh
           GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
           FROM sh a JOIN sh b USING (shingle)
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         bands AS (SELECT
             inter * 10 // (sa.set_size + sb.set_size - inter) AS band,
             COUNT(*) AS n_pairs
           FROM pairs
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           GROUP BY 1)
         SELECT CAST(band AS BIGINT) AS band,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY band DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS pairs_at_or_above
         FROM bands ORDER BY band""",

    "q75_minhash_estimate" -> {
      val agree = (0 until NumHashes)
        .map(i => s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $shingleCte, $minhashSigSql, $bandSql,
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         est AS (SELECT id_a, id_b,
             CAST($agree AS DOUBLE) / ${NumHashes}.0 AS est_jaccard
           FROM pairs JOIN sig sa ON sa.doc_id = pairs.id_a
             JOIN sig sb ON sb.doc_id = pairs.id_b),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*) AS icnt
           FROM sh a JOIN sh b USING (shingle)
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT e.id_a, e.id_b, e.est_jaccard,
           CAST(icnt AS DOUBLE) / CAST(za.sz + zb.sz - icnt AS DOUBLE)
             AS jaccard
         FROM est e
           JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
           JOIN sizes za ON za.doc_id = e.id_a
           JOIN sizes zb ON zb.doc_id = e.id_b
         ORDER BY e.id_a, e.id_b""" },

    "q72_vocab_by_lang" ->
      """SELECT lang, tok, n, rk FROM (
           SELECT lang, tok, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY COUNT(*) DESC, tok) AS rk
           FROM (SELECT lang,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             FROM documents) t
           GROUP BY lang, tok) x
         WHERE rk <= 10 ORDER BY lang, rk""",

    "q54_winnow_fingerprint" ->
      s"""WITH nd AS (SELECT doc_id,
           regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
           FROM documents),
         ok AS (SELECT * FROM nd WHERE length(norm) >= $WinnowK + $WinnowW - 1),
         pos AS (SELECT doc_id, norm, length(norm) - $WinnowK + 1 AS ng,
           unnest(range(1, length(norm) - $WinnowK + 2)) AS i FROM ok),
         grams AS (SELECT doc_id, ng, i,
           md5(substr(norm, CAST(i AS INT), $WinnowK)) AS h FROM pos),
         wins AS (SELECT doc_id, ng, i,
           min(h) OVER (PARTITION BY doc_id ORDER BY i
             ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp
           FROM grams)
         SELECT doc_id, COUNT(DISTINCT fp) AS n_fp, MIN(fp) AS fp_min
         FROM wins WHERE i <= ng - $WinnowW + 1
         GROUP BY doc_id ORDER BY doc_id""",

    "q30_text_quality" ->
      s"""WITH $toksCte, $qualityComponentsSql
         SELECT doc_id, lang, n_tokens, n_subwords, stopword_ratio,
           punct_ratio, mean_token_len,
           greatest(0.0,
             least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
               - (stopword_ratio * 0.5) - (punct_ratio * 2.0)) AS quality
         FROM comp ORDER BY doc_id""",

    "q31_langid" ->
      s"""WITH $toksCte, $langIdSql
         SELECT lang, lang_pred, COUNT(*) AS n FROM pred
         GROUP BY lang, lang_pred ORDER BY lang, lang_pred""",

    "q32_fingerprint" ->
      s"""WITH $toksCte
         SELECT md5(array_to_string(list_sort(list_distinct(toks)), ' '))
           AS fingerprint,
           COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
         FROM docs GROUP BY 1 ORDER BY fingerprint""",

    // Norms are precomputed per vector (like the Spark side); score =
    // dot / (nrm_a * nrm_b) is bitwise-equal to dot/(sqrt(na)*sqrt(nb)).
    "q33_cosine_topk" ->
      s"""WITH n AS (SELECT vec_id, embedding,
           sqrt(${Similarity.Sql.normSq("embedding", Dim)}) AS nrm
           FROM embeddings),
         q AS (SELECT embedding AS q_vec, nrm AS q_nrm FROM n WHERE vec_id = 0)
         SELECT e.vec_id,
           (${Similarity.Sql.dot("e.embedding", "q.q_vec", Dim)})
             / (e.nrm * q.q_nrm) AS score
         FROM n e, q
         WHERE e.vec_id <> 0
         ORDER BY score DESC, e.vec_id LIMIT 10""",

    "q34_ann_lsh_topk" ->
      s"""WITH b AS (SELECT vec_id, embedding,
           ${bucketSql("embedding")} AS bucket,
           sqrt(${Similarity.Sql.normSq("embedding", Dim)}) AS nrm
           FROM embeddings),
         q AS (SELECT bucket, embedding AS q_vec, nrm AS q_nrm
               FROM b WHERE vec_id = 0)
         SELECT e.vec_id, e.bucket,
           (${Similarity.Sql.dot("e.embedding", "q.q_vec", Dim)})
             / (e.nrm * q.q_nrm) AS score
         FROM b e JOIN q USING (bucket)
         WHERE e.vec_id <> 0
         ORDER BY score DESC, e.vec_id LIMIT 10""",

    "q48_jaccard_capped" ->
      s"""WITH $shingleCte,
         sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
         hot AS (SELECT shingle FROM sh GROUP BY shingle
                 HAVING COUNT(*) > $ShingleDocFreqCap),
         cut AS (SELECT s.* FROM sh s ANTI JOIN hot h USING (shingle)),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
           FROM cut a JOIN cut b USING (shingle)
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT id_a, id_b, inter, sa.set_size AS size_a, sb.set_size AS size_b,
           CAST(inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - inter AS DOUBLE)
             AS jaccard
         FROM pairs
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - inter AS DOUBLE)
           >= $JaccardThreshold
         ORDER BY id_a, id_b""",

    // Mirrors q49's fixed-centroid IVF: centroids are vectors 1..4
    // normalised IN SQL with the same operation order as the Scala driver
    // (sqrt of the left-assoc Σx² chain, then elementwise divide), cell
    // assignment is argmax of dot/||c|| (ROW_NUMBER, first cell wins ties),
    // probe keeps the $IvfNprobe best cells for the query vector.
    "q49_ivf_probe" -> {
      val ctrNormSq = Similarity.Sql.normSq("embedding", Dim)
      val cvecNormSq = Similarity.Sql.normSq("c.cvec", Dim)
      s"""WITH ctr AS (
           SELECT CAST(vec_id - 1 AS INT) AS cell,
             list_transform(embedding,
               x -> CAST(x AS DOUBLE) / sqrt($ctrNormSq)) AS cvec
           FROM embeddings
           WHERE vec_id IN (${IvfSeedIds.mkString(", ")})),
         assigned AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY (${Similarity.Sql.dot("e.embedding", "c.cvec", Dim)})
                 / sqrt($cvecNormSq) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN ctr c),
         cells AS (SELECT vec_id, cell FROM assigned WHERE rk = 1),
         q AS (SELECT embedding AS q_vec,
                 sqrt(${Similarity.Sql.normSq("embedding", Dim)}) AS q_nrm
               FROM embeddings WHERE vec_id = 0),
         qcell AS (SELECT c.cell FROM ctr c, q
           ORDER BY (${Similarity.Sql.dot("q.q_vec", "c.cvec", Dim)})
             / sqrt($cvecNormSq) DESC, c.cell
           LIMIT $IvfNprobe)
         SELECT e.vec_id, cl.cell AS ivf_cell,
           (${Similarity.Sql.dot("e.embedding", "q.q_vec", Dim)})
             / (sqrt(${Similarity.Sql.normSq("e.embedding", Dim)}) * q.q_nrm)
             AS score
         FROM embeddings e
         JOIN cells cl USING (vec_id)
         JOIN qcell USING (cell), q
         WHERE e.vec_id <> 0
         ORDER BY score DESC, e.vec_id LIMIT $IvfK"""
    },

    // q49's cell scheme swept over nprobe ∈ {1,2,4}: per-width top-10 vs
    // the brute-force top-10, one recall row per width.
    "q104_ivf_recall_sweep" -> {
      val ctrNormSq = Similarity.Sql.normSq("embedding", Dim)
      val cvecNormSq = Similarity.Sql.normSq("c.cvec", Dim)
      s"""WITH ctr AS (
           SELECT CAST(vec_id - 1 AS INT) AS cell,
             list_transform(embedding,
               x -> CAST(x AS DOUBLE) / sqrt($ctrNormSq)) AS cvec
           FROM embeddings
           WHERE vec_id IN (${IvfSeedIds.mkString(", ")})),
         assigned AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY (${Similarity.Sql.dot("e.embedding", "c.cvec", Dim)})
                 / sqrt($cvecNormSq) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN ctr c),
         cells AS (SELECT vec_id, cell FROM assigned WHERE rk = 1),
         q AS (SELECT embedding AS q_vec,
                 sqrt(${Similarity.Sql.normSq("embedding", Dim)}) AS q_nrm
               FROM embeddings WHERE vec_id = 0),
         brute AS (SELECT e.vec_id FROM embeddings e, q
           WHERE e.vec_id <> 0
           ORDER BY (${Similarity.Sql.dot("e.embedding", "q.q_vec", Dim)})
             / (sqrt(${Similarity.Sql.normSq("e.embedding", Dim)}) * q.q_nrm)
             DESC, e.vec_id
           LIMIT $IvfK),
         qrank AS (SELECT c.cell,
             ROW_NUMBER() OVER (
               ORDER BY (${Similarity.Sql.dot("q.q_vec", "c.cvec", Dim)})
                 / sqrt($cvecNormSq) DESC, c.cell) AS rk
           FROM ctr c, q),
         np AS (SELECT CAST(unnest([${IvfSweepNprobes.mkString(", ")}]) AS INT)
             AS nprobe),
         ranked AS (
           SELECT np.nprobe, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY np.nprobe
               ORDER BY (${Similarity.Sql.dot("e.embedding", "q.q_vec", Dim)})
                 / (sqrt(${Similarity.Sql.normSq("e.embedding", Dim)})
                    * q.q_nrm) DESC, e.vec_id) AS prk
           FROM np
           CROSS JOIN embeddings e
           JOIN cells cl USING (vec_id)
           JOIN qrank qr ON qr.cell = cl.cell AND qr.rk <= np.nprobe
           CROSS JOIN q
           WHERE e.vec_id <> 0),
         overlap AS (SELECT r.nprobe, COUNT(*) AS n
           FROM ranked r JOIN brute USING (vec_id)
           WHERE r.prk <= $IvfK
           GROUP BY r.nprobe)
         SELECT np.nprobe, CAST($IvfK AS INT) AS k,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(o.n, 0) AS DOUBLE) / $IvfK.0 AS recall
         FROM np LEFT JOIN overlap o USING (nprobe)
         ORDER BY np.nprobe"""
    },

    // IVF × int8: q49's cell scheme + q85's quantization, scored in BIGINT.
    "q86_ivf_quantized" -> {
      import graft.operators.Quantize.{Sql => QS}
      val ctrNormSq = Similarity.Sql.normSq("embedding", Dim)
      val cvecNormSq = Similarity.Sql.normSq("c.cvec", Dim)
      s"""WITH ctr AS (
           SELECT CAST(vec_id - 1 AS INT) AS cell,
             list_transform(embedding,
               x -> CAST(x AS DOUBLE) / sqrt($ctrNormSq)) AS cvec
           FROM embeddings
           WHERE vec_id IN (${IvfSeedIds.mkString(", ")})),
         assigned AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY (${Similarity.Sql.dot("e.embedding", "c.cvec", Dim)})
                 / sqrt($cvecNormSq) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN ctr c),
         cells AS (SELECT vec_id, cell FROM assigned WHERE rk = 1),
         q0 AS (SELECT vec_id, embedding,
             ${QS.maxAbs("embedding")} AS max_abs FROM embeddings),
         qv AS (SELECT vec_id, ${QS.qvec("embedding", "max_abs")} AS qvec
           FROM q0),
         q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
         qq AS (SELECT qvec AS q_qvec FROM qv WHERE vec_id = 0),
         qcell AS (SELECT c.cell FROM ctr c, q
           ORDER BY (${Similarity.Sql.dot("q.q_vec", "c.cvec", Dim)})
             / sqrt($cvecNormSq) DESC, c.cell
           LIMIT $IvfNprobe)
         SELECT e.vec_id, cl.cell AS ivf_cell,
           CAST(${QS.intDot("e.qvec", "qq.q_qvec", Dim)} AS BIGINT) AS qdot,
           CAST(${QS.intDot("e.qvec", "qq.q_qvec", Dim)} AS DOUBLE)
             / (sqrt(CAST(${QS.intDot("e.qvec", "e.qvec", Dim)} AS DOUBLE))
                * sqrt(CAST(${QS.intDot("qq.q_qvec", "qq.q_qvec", Dim)} AS DOUBLE)))
             AS score
         FROM qv e
         JOIN cells cl USING (vec_id)
         JOIN qcell USING (cell), qq
         WHERE e.vec_id <> 0
           AND ${QS.intDot("e.qvec", "e.qvec", Dim)} > 0
         ORDER BY score DESC, e.vec_id LIMIT $IvfK"""
    },

    "q91_ivfpq_ann" -> {
      import graft.operators.ProductQuantizer.{Sql => PQ}
      val subDim = Dim / PqM
      val ctrNormSq = Similarity.Sql.normSq("embedding", Dim)
      val cvecNormSq = Similarity.Sql.normSq("c.cvec", Dim)
      s"""WITH ctr AS (
           SELECT CAST(vec_id - 1 AS INT) AS cell,
             list_transform(embedding,
               x -> CAST(x AS DOUBLE) / sqrt($ctrNormSq)) AS cvec
           FROM embeddings
           WHERE vec_id IN (${IvfSeedIds.mkString(", ")})),
         iassigned AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY (${Similarity.Sql.dot("e.embedding", "c.cvec", Dim)})
                 / sqrt($cvecNormSq) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN ctr c),
         icells AS (SELECT vec_id, cell FROM iassigned WHERE rk = 1),
         qcell AS (SELECT c.cell FROM ctr c,
             (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0) q
           ORDER BY (${Similarity.Sql.dot("q.q_vec", "c.cvec", Dim)})
             / sqrt($cvecNormSq) DESC, c.cell
           LIMIT $IvfNprobe),
         $pqCbCte,
         passigned AS (
           SELECT e.vec_id, cb.j, cb.c,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j
               ORDER BY ${PQ.subDistChain("e.embedding", "cb.j", "cb.cw", subDim)} ASC,
                 cb.c) AS rk
           FROM embeddings e, cb),
         codes AS (SELECT vec_id, j, c FROM passigned WHERE rk = 1),
         recon AS (
           SELECT codes.vec_id,
             flatten(list(cb.cw ORDER BY codes.j)) AS r,
             array_to_string(list(codes.c ORDER BY codes.j), ',') AS pq_codes
           FROM codes JOIN cb ON cb.j = codes.j AND cb.c = codes.c
           GROUP BY codes.vec_id),
         q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0)
         SELECT r.vec_id, r.pq_codes,
           ${PQ.adcScoreChain("q.q_vec", "r.r", PqM, subDim)} AS pq_score
         FROM recon r
         JOIN icells ic USING (vec_id)
         JOIN qcell USING (cell), q
         WHERE r.vec_id <> 0
         ORDER BY pq_score DESC, r.vec_id
         LIMIT $IvfK"""
    },

    "q90_pq_ann" -> {
      import graft.operators.ProductQuantizer.{Sql => PQ}
      val subDim = Dim / PqM
      s"""WITH $pqCbCte,
         assigned AS (
           SELECT e.vec_id, cb.j, cb.c,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j
               ORDER BY ${PQ.subDistChain("e.embedding", "cb.j", "cb.cw", subDim)} ASC,
                 cb.c) AS rk
           FROM embeddings e, cb),
         codes AS (SELECT vec_id, j, c FROM assigned WHERE rk = 1),
         recon AS (
           SELECT codes.vec_id,
             flatten(list(cb.cw ORDER BY codes.j)) AS r,
             array_to_string(list(codes.c ORDER BY codes.j), ',') AS pq_codes
           FROM codes JOIN cb ON cb.j = codes.j AND cb.c = codes.c
           GROUP BY codes.vec_id),
         q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0)
         SELECT r.vec_id, r.pq_codes,
           ${PQ.adcScoreChain("q.q_vec", "r.r", PqM, subDim)} AS pq_score
         FROM recon r, q
         WHERE r.vec_id <> 0
         ORDER BY pq_score DESC, r.vec_id
         LIMIT $IvfK"""
    },

    // q90's ADC chain produces the shortlist; the survivors re-rank by
    // the exact cosine chain (q33's arithmetic, bit-stable).
    "q110_pq_rerank" -> {
      import graft.operators.ProductQuantizer.{Sql => PQ}
      val subDim = Dim / PqM
      s"""WITH $pqCbCte,
         assigned AS (
           SELECT e.vec_id, cb.j, cb.c,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j
               ORDER BY ${PQ.subDistChain("e.embedding", "cb.j", "cb.cw", subDim)} ASC,
                 cb.c) AS rk
           FROM embeddings e, cb),
         codes AS (SELECT vec_id, j, c FROM assigned WHERE rk = 1),
         recon AS (
           SELECT codes.vec_id,
             flatten(list(cb.cw ORDER BY codes.j)) AS r
           FROM codes JOIN cb ON cb.j = codes.j AND cb.c = codes.c
           GROUP BY codes.vec_id),
         q AS (SELECT embedding AS q_vec,
                 sqrt(${Similarity.Sql.normSq("embedding", Dim)}) AS q_nrm
               FROM embeddings WHERE vec_id = 0),
         short AS (
           SELECT r.vec_id,
             ${PQ.adcScoreChain("q.q_vec", "r.r", PqM, subDim)} AS pq_score
           FROM recon r, q
           WHERE r.vec_id <> 0
           ORDER BY pq_score DESC, r.vec_id
           LIMIT $PqRerankShortlist)
         SELECT e.vec_id,
           (${Similarity.Sql.dot("e.embedding", "q.q_vec", Dim)})
             / (sqrt(${Similarity.Sql.normSq("e.embedding", Dim)}) * q.q_nrm)
             AS score
         FROM embeddings e JOIN short USING (vec_id), q
         ORDER BY score DESC, e.vec_id
         LIMIT $IvfK"""
    },

    "q87_mixture_sample" ->
      """WITH d AS (SELECT doc_id, lang,
           COUNT(*) OVER (PARTITION BY lang) AS grp_n,
           ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY md5('mix|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum, MIN(doc_id) AS min_id
         FROM d
         WHERE rk <= CEIL(grp_n * CASE WHEN lang = 'en' THEN 0.6
                                       WHEN lang = 'de' THEN 0.3
                                       ELSE 0.15 END)
         GROUP BY lang ORDER BY lang""",

    "q88_html_clean" ->
      """WITH h AS (SELECT doc_id,
           '<html><body><h1>' || source ||
           '</h1><script type="text/javascript">var x = ' ||
           CAST(doc_id AS VARCHAR) || ';</script><p class="main">' || text ||
           ' &amp; &lt;tail&gt; &quot;q&#39;s&quot;&nbsp;end</p>' ||
           '<style>p { color: red; }</style></body></html>' AS html
           FROM documents),
         c1 AS (SELECT doc_id, regexp_replace(html,
           '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
         c2 AS (SELECT doc_id, regexp_replace(t,
           '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM c1),
         c3 AS (SELECT doc_id, regexp_replace(t,
           '<[^>]+>', ' ', 'g') AS t FROM c2),
         c4 AS (SELECT doc_id,
           replace(replace(replace(replace(replace(replace(t,
             '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&#39;', ''''), '&amp;', '&') AS t FROM c3),
         c5 AS (SELECT doc_id,
           trim(regexp_replace(t, '\s+', ' ', 'g')) AS text_clean FROM c4)
         SELECT doc_id, text_clean, length(text_clean) AS n_chars_clean
         FROM c5 ORDER BY doc_id""",

    "q99_nfc_normalize" -> {
      val suffix = " café naïve ﬁn façade"
      s"""SELECT doc_id,
           length(text || '$suffix') AS n_chars_raw,
           length(nfc_normalize(text || '$suffix')) AS n_chars_norm,
           md5(nfc_normalize(text || '$suffix')) AS norm_key
         FROM documents ORDER BY doc_id"""
    },

    "q103_video_decode" ->
      """SELECT doc_id,
           CAST(2 + doc_id % 7 AS INT) AS width,
           CAST(2 + doc_id % 5 AS INT) AS height,
           CAST(3 + doc_id % 5 AS INT) AS n_frames,
           CAST(20000 + (doc_id % 10) * 1000 AS INT) AS us_per_frame,
           CAST((3 + doc_id % 5) * (20000 + (doc_id % 10) * 1000) // 1000
             AS BIGINT) AS duration_ms
         FROM documents ORDER BY doc_id""",

    "q102_ann_recall" -> {
      import graft.operators.ProductQuantizer.{Sql => PQ}
      val subDim = Dim / PqM
      s"""WITH n AS (SELECT vec_id, embedding,
           sqrt(${Similarity.Sql.normSq("embedding", Dim)}) AS nrm
           FROM embeddings),
         qn AS (SELECT embedding AS q_vec, nrm AS q_nrm FROM n
           WHERE vec_id = 0),
         brute AS (SELECT e.vec_id
           FROM n e, qn q
           WHERE e.vec_id <> 0
           ORDER BY (${Similarity.Sql.dot("e.embedding", "q.q_vec", Dim)})
             / (e.nrm * q.q_nrm) DESC, e.vec_id
           LIMIT $IvfK),
         $pqCbCte,
         passigned AS (
           SELECT e.vec_id, cb.j, cb.c,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j
               ORDER BY ${PQ.subDistChain("e.embedding", "cb.j", "cb.cw", subDim)} ASC,
                 cb.c) AS rk
           FROM embeddings e, cb),
         codes AS (SELECT vec_id, j, c FROM passigned WHERE rk = 1),
         recon AS (
           SELECT codes.vec_id, flatten(list(cb.cw ORDER BY codes.j)) AS r
           FROM codes JOIN cb ON cb.j = codes.j AND cb.c = codes.c
           GROUP BY codes.vec_id),
         q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
         pqtop AS (SELECT r.vec_id
           FROM recon r, q
           WHERE r.vec_id <> 0
           ORDER BY ${PQ.adcScoreChain("q.q_vec", "r.r", PqM, subDim)} DESC,
             r.vec_id
           LIMIT $IvfK)
         SELECT $IvfK AS k, COUNT(*) AS n_overlap,
           CAST(COUNT(*) AS DOUBLE) / $IvfK.0 AS recall
         FROM pqtop JOIN brute USING (vec_id)"""
    },

    "q101_doc_chunks" ->
      s"""WITH $toksCte,
         c AS (SELECT doc_id, toks, len(toks) AS n,
             unnest(range(0, (greatest(len(toks) - 8, 1) + 31) // 32))
               AS chunk_id
           FROM docs)
         SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(least(n - chunk_id * 32, 40) AS INT) AS n_chunk_tokens,
           md5(array_to_string(toks[CAST(chunk_id * 32 + 1 AS INT)
             : CAST(chunk_id * 32 + 40 AS INT)], ' ')) AS chunk_key
         FROM c ORDER BY doc_id, chunk_id""",

    // Every document gets the DECOMPOSED Q100Suffix appended, so
    // nfc_normalize does real composition work inside the pipeline on
    // both engines — the composition contract (quality floor over the
    // normalized column, dedup survivorship, per-lang stats) is pinned on
    // genuinely non-ASCII input; q99 pins the NFC kernel itself.
    "q100_corpus_pipeline" ->
      s"""WITH docs AS (SELECT doc_id, lang,
           nfc_normalize(text || '$Q100Suffix') AS text,
           string_split_regex(trim(nfc_normalize(text || '$Q100Suffix')),
             '\\s+') AS toks
         FROM documents),
         $qualityComponentsSql,
         q AS (SELECT doc_id, lang, text,
             greatest(0.0, least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
               - (stopword_ratio * 0.5) - (punct_ratio * 2.0)) AS quality
           FROM comp),
         f AS (SELECT doc_id, lang, text,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS ek
           FROM q WHERE quality >= 0.3),
         k AS (SELECT ek, MIN(doc_id) AS doc_id FROM f GROUP BY ek)
         SELECT f.lang, COUNT(*) AS n_docs,
           CAST(SUM(f.doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(length(f.text)) AS BIGINT) AS chars_sum
         FROM f JOIN k ON k.ek = f.ek AND k.doc_id = f.doc_id
         GROUP BY f.lang ORDER BY f.lang""",

    "q97_incremental_dedup" ->
      s"""WITH $shingleCte, $minhashSigSql, $bandSql
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b USING (band, band_key)
         WHERE a.doc_id < b.doc_id
           AND (a.doc_id >= 400 OR b.doc_id >= 400)
         ORDER BY id_a, id_b""",

    "q98_split_leakage" -> {
      val th1 = f"${math.floor(0.9 * (1L << 32)).toLong}%08x"
      val th2 = f"${math.floor(0.95 * (1L << 32)).toLong}%08x"
      s"""WITH $shingleCte, $minhashSigSql, $bandSql,
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         sp AS (SELECT doc_id,
             CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8)
                    < '$th1' THEN 'train'
                  WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8)
                    < '$th2' THEN 'val'
                  ELSE 'test' END AS split
           FROM documents)
         SELECT sa.split AS split_a, sb.split AS split_b,
           COUNT(*) AS n_pairs, MIN(p.id_a) AS min_id_a
         FROM pairs p
         JOIN sp sa ON sa.doc_id = p.id_a
         JOIN sp sb ON sb.doc_id = p.id_b
         WHERE sa.split <> sb.split
         GROUP BY 1, 2 ORDER BY split_a, split_b"""
    },

    "q95_lexical_surprisal" ->
      s"""WITH $toksCte,
         occ AS (SELECT doc_id, unnest(toks) AS tok FROM docs),
         tf AS (SELECT tok, COUNT(*) AS tf FROM occ GROUP BY tok)
         SELECT o.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(length(bin(t.tf))) AS BIGINT) AS total_bits,
           CAST(SUM(length(bin(t.tf))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_bits
         FROM occ o JOIN tf t USING (tok)
         GROUP BY o.doc_id ORDER BY o.doc_id""",

    "q96_jsonl_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(length(text)) AS BIGINT) AS chars_sum
         FROM documents GROUP BY lang ORDER BY lang""",

    "q94_token_budget" ->
      s"""WITH $toksCte, $qualityComponentsSql,
         scored AS (SELECT doc_id, lang,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             LEAST(CAST(floor(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                 - (stopword_ratio * 0.5) - (punct_ratio * 2.0)) * 1024.0)
               AS INT), 1023) AS q_bucket
           FROM comp),
         bsum AS (SELECT q_bucket, SUM(n_tokens) AS btoks FROM scored
           GROUP BY q_bucket),
         brun AS (SELECT q_bucket,
             SUM(btoks) OVER (ORDER BY q_bucket DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - btoks
               AS before_toks
           FROM bsum),
         ranked AS (SELECT s.doc_id, s.lang, s.n_tokens, b.before_toks,
             SUM(s.n_tokens) OVER (PARTITION BY s.q_bucket
               ORDER BY md5('sel|' || CAST(s.doc_id AS VARCHAR)), s.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS bucket_cum
           FROM scored s JOIN brun b USING (q_bucket))
         SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_tokens) AS BIGINT) AS tok_sum
         FROM ranked WHERE before_toks + bucket_cum <= 12000
         GROUP BY lang ORDER BY lang""",

    "q92_quality_sample" ->
      s"""WITH $toksCte, $qualityComponentsSql,
         q AS (SELECT doc_id, lang,
             greatest(0.0, least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
               - (stopword_ratio * 0.5) - (punct_ratio * 2.0)) AS quality
           FROM comp),
         s AS (SELECT doc_id, lang,
             substr(md5('qw|' || CAST(doc_id AS VARCHAR)), 1, 8) AS draw,
             lower(lpad(to_hex(CAST(floor((0.05 + quality * 0.9)
               * 4294967296.0) AS BIGINT)), 8, '0')) AS th
           FROM q)
         SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum, MIN(doc_id) AS min_id
         FROM s WHERE draw < th
         GROUP BY lang ORDER BY lang""",

    "q93_contamination_span" ->
      s"""WITH $shingleCte,
         bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 100 = 0)
         SELECT s.doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_tainted,
           CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS taint_ratio
         FROM sh s LEFT JOIN bench b USING (shingle)
         GROUP BY s.doc_id ORDER BY s.doc_id""",

    "q89_dup_span_coverage" ->
      s"""WITH $shingleCte,
         df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
         SELECT s.doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
         FROM sh s JOIN df d USING (shingle)
         GROUP BY s.doc_id ORDER BY s.doc_id""",

    // Batch IVF probe: q49's fixed-centroid scheme, every query ranked and
    // scored in one SQL pass — same operation order, bitwise-stable.
    "q55_ivf_batch_probe" -> {
      val ctrNormSq = Similarity.Sql.normSq("embedding", Dim)
      val cvecNormSq = Similarity.Sql.normSq("c.cvec", Dim)
      s"""WITH ctr AS (
           SELECT CAST(vec_id - 1 AS INT) AS cell,
             list_transform(embedding,
               x -> CAST(x AS DOUBLE) / sqrt($ctrNormSq)) AS cvec
           FROM embeddings
           WHERE vec_id IN (${IvfSeedIds.mkString(", ")})),
         assigned AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY (${Similarity.Sql.dot("e.embedding", "c.cvec", Dim)})
                 / sqrt($cvecNormSq) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN ctr c),
         cells AS (SELECT vec_id, cell FROM assigned WHERE rk = 1),
         q AS (SELECT vec_id AS q_id, embedding AS q_vec,
                 sqrt(${Similarity.Sql.normSq("embedding", Dim)}) AS q_nrm
               FROM embeddings
               WHERE vec_id IN (${BatchQueryIds.mkString(", ")})),
         qcells AS (SELECT q_id, cell FROM (
           SELECT q.q_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY (${Similarity.Sql.dot("q.q_vec", "c.cvec", Dim)})
                 / sqrt($cvecNormSq) DESC, c.cell) AS crk
           FROM q CROSS JOIN ctr c) x WHERE crk <= $IvfNprobe),
         cand AS (
           SELECT qq.q_id, e.vec_id, cl.cell AS ivf_cell,
             (${Similarity.Sql.dot("e.embedding", "qq.q_vec", Dim)})
               / (sqrt(${Similarity.Sql.normSq("e.embedding", Dim)})
                  * qq.q_nrm) AS score
           FROM embeddings e
           JOIN cells cl USING (vec_id)
           JOIN qcells qc ON qc.cell = cl.cell
           JOIN q qq ON qq.q_id = qc.q_id
           WHERE e.vec_id <> qq.q_id),
         ranked AS (SELECT q_id, vec_id, ivf_cell, score,
           ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY score DESC, vec_id) AS rk FROM cand)
         SELECT q_id, vec_id, ivf_cell, score FROM ranked WHERE rk <= $IvfK
         ORDER BY q_id, score DESC, vec_id"""
    },

    "q35_embed_neardup" ->
      s"""WITH $autoBitsCte,
         b AS (SELECT vec_id, embedding,
           ${bucketSqlAuto("embedding")} AS bucket,
           sqrt(${Similarity.Sql.normSq("embedding", Dim)}) AS nrm
           FROM embeddings CROSS JOIN pb),
         scored AS (
           SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             (${Similarity.Sql.dot("a.embedding", "c.embedding", Dim)})
               / (a.nrm * c.nrm) AS score
           FROM b a JOIN b c USING (bucket)
           WHERE a.vec_id < c.vec_id)
         SELECT id_a, id_b, score FROM scored
         WHERE score >= $CosineThreshold
         ORDER BY id_a, id_b""",

    "q80_multimodal_decode" ->
      """SELECT doc_id,
           CAST(2 AS INTEGER) AS img_width,
           CAST(2 AS INTEGER) AS img_height,
           CAST(4 * ((doc_id % 256) + ((doc_id * 7) % 256)
                     + ((doc_id * 13) % 256)) AS DOUBLE) / 12.0
             AS pixel_mean,
           CAST(64 AS INTEGER) AS thumb_width,
           CAST(64 AS INTEGER) AS thumb_height
         FROM documents ORDER BY doc_id""",

    "q82_audio_decode" ->
      """SELECT doc_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels,
           CAST(160 + (doc_id % 16) * 10 AS BIGINT) AS frames,
           CAST((160 + (doc_id % 16) * 10) * 125 AS BIGINT) AS duration_us,
           CAST((doc_id % 1000) + 100 AS BIGINT) AS rms
         FROM documents ORDER BY doc_id""",

    "q79_embed_dedup_clusters" ->
      s"""WITH RECURSIVE $autoBitsCte,
         b AS (SELECT vec_id, embedding,
           ${bucketSqlAuto("embedding")} AS bucket,
           sqrt(${Similarity.Sql.normSq("embedding", Dim)}) AS nrm
           FROM embeddings CROSS JOIN pb),
         scored AS (
           SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             (${Similarity.Sql.dot("a.embedding", "c.embedding", Dim)})
               / (a.nrm * c.nrm) AS score
           FROM b a JOIN b c USING (bucket)
           WHERE a.vec_id < c.vec_id),
         pairs AS (SELECT id_a, id_b FROM scored
           WHERE score >= $CosineThreshold),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(id, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
         SELECT id AS vec_id, MIN(label) AS cluster_id
         FROM reach GROUP BY id ORDER BY vec_id""",

    "q315_knn_label_agreement" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec,
           label AS q_label
         FROM embeddings WHERE vec_id % 50 = 0),
         scored AS (SELECT q.q_id, q.q_label,
             e.label AS nn_label, e.vec_id,
             (${Similarity.Sql.dot("e.embedding", "q.q_vec", Dim)})
               AS score
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id <> q.q_id),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY score DESC, vec_id) AS rk
           FROM scored)
         SELECT CAST(q_label AS BIGINT) AS q_label,
           CAST(nn_label AS BIGINT) AS nn_label,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM r WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""",

    "q327_centroid_purity" ->
      s"""WITH $QuantCentsSql,
         dots AS (SELECT q.vec_id, q.label, c.label AS c_label,
             SUM(q.qv * c.cv) AS dot
           FROM q JOIN cents c USING (d) GROUP BY 1, 2, 3),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY dot DESC, c_label) AS rk
           FROM dots)
         SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END)
             AS BIGINT) AS n_pure,
           CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT) AS purity_ppm
         FROM r WHERE rk = 1 GROUP BY 1 ORDER BY label""",

    "q355_label_scatter" ->
      s"""WITH $QuantCentsSql,
         wv AS (SELECT q.label, q.vec_id,
             SUM((q.qv - c.cv) * (q.qv - c.cv)) AS d2
           FROM q JOIN cents c ON q.label = c.label AND q.d = c.d
           GROUP BY 1, 2),
         within AS (SELECT label, COUNT(*) AS n_vecs,
             CAST(SUM(d2) // COUNT(*) AS BIGINT) AS within_e8
           FROM wv GROUP BY 1),
         grid AS (SELECT a.label AS la, b.label AS lb,
             SUM((a.cv - b.cv) * (a.cv - b.cv)) AS m2
           FROM cents a JOIN cents b
             ON a.d = b.d AND a.label <> b.label
           GROUP BY 1, 2),
         ratios AS (SELECT g.la, g.lb, g.m2,
             CAST((wa.within_e8 + wb.within_e8) * 1000000
               // GREATEST(g.m2, 1) AS BIGINT) AS db_ppm
           FROM grid g
           JOIN within wa ON g.la = wa.label
           JOIN within wb ON g.lb = wb.label),
         r AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY la ORDER BY m2, lb)
               AS rk_near,
             ROW_NUMBER() OVER (PARTITION BY la
               ORDER BY db_ppm DESC, lb) AS rk_db
           FROM ratios),
         ag AS (SELECT la,
             MAX(CASE WHEN rk_near = 1 THEN lb END) AS nearest_label,
             MAX(CASE WHEN rk_near = 1 THEN m2 END)
               AS nearest_dist_e8,
             MAX(CASE WHEN rk_db = 1 THEN db_ppm END) AS db_worst_ppm
           FROM r GROUP BY 1)
         SELECT a.la AS label, CAST(w.n_vecs AS BIGINT) AS n_vecs,
           w.within_e8,
           CAST(a.nearest_label AS BIGINT) AS nearest_label,
           CAST(a.nearest_dist_e8 AS BIGINT) AS nearest_dist_e8,
           a.db_worst_ppm
         FROM ag a JOIN within w ON a.la = w.label
         ORDER BY label""",

    "q376_shuffle_dispersion" ->
      """WITH d AS (SELECT doc_id,
           md5('epoch0|' || CAST(doc_id AS VARCHAR)) AS draw
           FROM documents),
         r AS (SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY draw, doc_id) AS rk FROM d),
         j AS (SELECT r.rk, dd.source FROM r
           JOIN documents dd USING (doc_id)),
         n AS (SELECT COUNT(*) AS n_total FROM j),
         p AS (SELECT source, rk, (rk - 1) * 10 // n_total AS decile
           FROM j, n),
         cnt AS (SELECT source, decile, COUNT(*) AS c
           FROM p GROUP BY 1, 2),
         grid AS (SELECT s.source, g.decile
           FROM (SELECT DISTINCT source FROM documents) s
           CROSS JOIN (SELECT UNNEST(range(0, 10)) AS decile) g),
         filled AS (SELECT grid.source, grid.decile,
             COALESCE(cnt.c, 0) AS c
           FROM grid LEFT JOIN cnt
             ON grid.source = cnt.source AND grid.decile = cnt.decile),
         hs AS (SELECT source, MAX(c) AS hot_c, MIN(c) AS cold_c
           FROM filled GROUP BY 1),
         src AS (SELECT source, COUNT(*) AS n_docs, SUM(rk) AS rk_sum
           FROM p GROUP BY 1)
         SELECT src.source, n_docs,
           CAST(rk_sum * 1000000
             // (n_docs * (SELECT n_total FROM n)) AS BIGINT)
             AS mean_pos_ppm,
           CAST(hot_c * 1000000 // n_docs AS BIGINT) AS hot_decile_ppm,
           CAST(cold_c * 1000000 // n_docs AS BIGINT)
             AS cold_decile_ppm
         FROM src JOIN hs USING (source) ORDER BY source""",

    "q378_matryoshka_recall" -> {
      def level(d: Int, name: String): String =
        s"""$name AS (SELECT q_id, vec_id FROM (
             SELECT q.vec_id AS q_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 (${Similarity.Sql.dot("e.embedding", "q.embedding", d)})
                   / (sqrt(${Similarity.Sql.normSq("e.embedding", d)})
                      * sqrt(${Similarity.Sql.normSq("q.embedding", d)}))
                 DESC, e.vec_id) AS rk
             FROM embeddings e
             CROSS JOIN (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id < 16) q
             WHERE e.vec_id <> q.vec_id) WHERE rk <= 10)"""
      def recall(d: Int, topName: String): String =
        s"""SELECT CAST($d AS BIGINT) AS trunc_dim,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(hits) * 1000000 // (COUNT(*) * 10) AS BIGINT)
             AS mean_recall_ppm,
           CAST(MIN(hits) * 100000 AS BIGINT) AS min_recall_ppm
         FROM (SELECT t.q_id, COUNT(tr.vec_id) AS hits
           FROM $topName t LEFT JOIN t64 tr
             ON t.q_id = tr.q_id AND t.vec_id = tr.vec_id
           GROUP BY 1)"""
      s"""WITH ${level(Dim, "t64")},
         ${level(32, "t32")},
         ${level(16, "t16")}
         SELECT * FROM (${recall(32, "t32")}
         UNION ALL ${recall(16, "t16")})
         ORDER BY trunc_dim DESC"""
    },

    "q380_ivf_rebalance" -> {
      val ctrNormSq = Similarity.Sql.normSq("embedding", Dim)
      val cvecNormSq = Similarity.Sql.normSq("c.cvec", Dim)
      val nlist = IvfSeedIds.size
      s"""WITH ctr AS (
           SELECT CAST(vec_id - 1 AS INT) AS cell,
             list_transform(embedding,
               x -> CAST(x AS DOUBLE) / sqrt($ctrNormSq)) AS cvec
           FROM embeddings
           WHERE vec_id IN (${IvfSeedIds.mkString(", ")})),
         assigned AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY (${Similarity.Sql.dot("e.embedding", "c.cvec", Dim)})
                 / sqrt($cvecNormSq) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN ctr c),
         cells AS (SELECT vec_id, cell FROM assigned WHERE rk = 1),
         cnt AS (SELECT CAST(cell AS BIGINT) AS cell,
             COUNT(*) AS n_vecs FROM cells GROUP BY 1),
         grid AS (SELECT CAST(UNNEST(range(0, $nlist)) AS BIGINT)
           AS cell),
         tot AS (SELECT COUNT(*) AS n_total FROM embeddings),
         f AS (SELECT g.cell, COALESCE(cnt.n_vecs, 0) AS n_vecs
           FROM grid g LEFT JOIN cnt USING (cell))
         SELECT f.cell, CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(n_vecs * 1000000 // n_total AS BIGINT) AS share_ppm,
           CAST(n_total // $nlist AS BIGINT) AS target,
           CASE WHEN n_vecs > (n_total // $nlist) * 2 THEN 'split'
                WHEN n_vecs * 2 < (n_total // $nlist) THEN 'merge'
                ELSE 'keep' END AS action
         FROM f, tot ORDER BY cell"""
    },

    "q381_lsh_band_sweep" -> {
      def candCtes(b: Int): String = {
        val rows = NumHashes / b
        val branches = (0 until b).map { j =>
          val slice = (j * rows until (j + 1) * rows).map(i => s"sig_$i")
          s"SELECT doc_id, $j AS band, " +
            s"md5(${slice.mkString(" || '|' || ")}) AS band_key FROM sig"
        }.mkString(" UNION ALL ")
        s"""bands$b AS ($branches),
           cand$b AS (SELECT DISTINCT a.doc_id AS id_a,
             b.doc_id AS id_b
           FROM bands$b a JOIN bands$b b USING (band, band_key)
           WHERE a.doc_id < b.doc_id)"""
      }
      def hitRow(b: Int): String =
        s"""SELECT $b AS bands, COUNT(*) AS n_hit FROM
           (SELECT * FROM cand$b c SEMI JOIN truth t
            USING (id_a, id_b)) x$b"""
      s"""WITH $shingleCte, $minhashSigSql,
         ${candCtes(2)}, ${candCtes(4)}, ${candCtes(8)},
         sizes AS (SELECT doc_id, COUNT(*) AS set_size
           FROM sh GROUP BY doc_id),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*) AS inter
           FROM sh a JOIN sh b USING (shingle)
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         truth AS (SELECT id_a, id_b FROM p
           JOIN sizes sa ON sa.doc_id = p.id_a
           JOIN sizes sb ON sb.doc_id = p.id_b
           WHERE CAST(inter AS DOUBLE)
             / CAST(sa.set_size + sb.set_size - inter AS DOUBLE)
             >= $JaccardThreshold),
         nt AS (SELECT COUNT(*) AS n_truth FROM truth),
         hits AS (${hitRow(2)} UNION ALL ${hitRow(4)}
           UNION ALL ${hitRow(8)})
         SELECT CAST(bands AS BIGINT) AS bands,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_hit * 1000000 // n_truth AS BIGINT) AS recall_ppm
         FROM hits, nt ORDER BY bands"""
    },

    "q382_dominant_direction" -> {
      def iter(k: Int): String =
        s"""y$k AS (SELECT m.i, SUM(m.v * x.xv) AS y
             FROM m JOIN x${k - 1} x ON m.j = x.i GROUP BY 1),
           s$k AS (SELECT MAX(ABS(y)) AS s FROM y$k),
           x$k AS (SELECT i,
             CASE WHEN y < 0 THEN -((-y) * 1000000 // s)
               ELSE y * 1000000 // s END AS xv
             FROM y$k, s$k)"""
      s"""WITH q AS (SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS d,
           CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000)
             AS BIGINT) AS qv
           FROM embeddings),
         m AS (SELECT a.d AS i, b.d AS j,
             SUM(CAST(a.qv AS HUGEINT) * b.qv) AS v
           FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2),
         x0 AS (SELECT UNNEST(range(0, $Dim)) AS i,
           CAST(1000000 AS HUGEINT) AS xv),
         ${iter(1)}, ${iter(2)}, ${iter(3)},
         y4 AS (SELECT m.i, SUM(m.v * x.xv) AS y
           FROM m JOIN x3 x ON m.j = x.i GROUP BY 1),
         num AS (SELECT SUM(y4.y * x3.xv) AS num
           FROM y4 JOIN x3 USING (i)),
         den AS (SELECT SUM(CAST(xv AS HUGEINT) * xv) AS den FROM x3),
         tr AS (SELECT SUM(v) AS trace FROM m WHERE i = j),
         nv AS (SELECT COUNT(DISTINCT vec_id) AS n_vecs
           FROM embeddings),
         top AS (SELECT i AS top_dim, CAST(xv AS BIGINT)
             AS top_loading_e6
           FROM x3 ORDER BY ABS(xv) DESC, i LIMIT 1)
         SELECT CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST((num // den) * 1000000 // trace AS BIGINT)
             AS share_ppm,
           CAST(trace // n_vecs AS BIGINT) AS mean_trace,
           CAST((num // den) // n_vecs AS BIGINT) AS mean_lambda,
           CAST(top_dim AS BIGINT) AS top_dim, top_loading_e6
         FROM num, den, tr, nv, top"""
    },

    "q384_dedup_chain_depth" ->
      s"""WITH RECURSIVE $shingleCte, $minhashSigSql, $bandSql,
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(id, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, r.label FROM reach r JOIN edges e
             ON e.src = r.id),
         clusters AS (SELECT id AS doc_id, MIN(label) AS cluster_id
           FROM reach GROUP BY id),
         seeds AS (SELECT DISTINCT cluster_id AS id FROM clusters),
         walk(id, d) AS (
           SELECT id, 0 FROM seeds
           UNION
           SELECT e.dst, w.d + 1 FROM walk w JOIN edges e
             ON e.src = w.id WHERE w.d < 8),
         depth AS (SELECT id AS doc_id, MIN(d) AS hops
           FROM walk GROUP BY id),
         pc AS (SELECT c.cluster_id, COUNT(*) AS cluster_size,
             MAX(d.hops) AS chain_depth
           FROM clusters c JOIN depth d USING (doc_id) GROUP BY 1)
         SELECT CAST(chain_depth AS BIGINT) AS chain_depth,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           CAST(MAX(cluster_size) AS BIGINT) AS max_cluster_size
         FROM pc GROUP BY 1 ORDER BY chain_depth""",

    "q386_shingle_df_tail" ->
      s"""WITH $shingleCte,
         dfr AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
         b AS (SELECT CAST(length(bin(df)) AS BIGINT) AS df_band,
             COUNT(*) AS n_shingles,
             SUM(CAST(df AS HUGEINT) * (df - 1) // 2) AS pair_budget
           FROM dfr GROUP BY 1),
         tot AS (SELECT SUM(pair_budget) AS total_budget FROM b)
         SELECT df_band, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(pair_budget AS BIGINT) AS pair_budget,
           CAST(pair_budget * 1000000
             // greatest(total_budget, 1) AS BIGINT)
             AS budget_share_ppm
         FROM b, tot ORDER BY df_band""",

    "q387_dup_quality" ->
      s"""WITH RECURSIVE $shingleCte, $minhashSigSql, $bandSql,
         $qualityComponentsSql,
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING (band, band_key)
           WHERE a.doc_id < b.doc_id),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(id, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, r.label FROM reach r JOIN edges e
             ON e.src = r.id),
         clusters AS (SELECT id AS doc_id, MIN(label) AS cluster_id
           FROM reach GROUP BY id),
         csz AS (SELECT cluster_id, COUNT(*) AS csize
           FROM clusters GROUP BY 1),
         dsz AS (SELECT c.doc_id, s.csize FROM clusters c
           JOIN csz s USING (cluster_id)),
         qb AS (SELECT doc_id,
             LEAST(CAST(floor(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                 - (stopword_ratio * 0.5) - (punct_ratio * 2.0))
               * 1024.0) AS BIGINT), 1023) AS q_bucket
           FROM comp),
         j AS (SELECT d.doc_id, COALESCE(z.csize, 1) AS csize,
             q.q_bucket, d.n_chars
           FROM documents d LEFT JOIN dsz z USING (doc_id)
           JOIN qb q USING (doc_id))
         SELECT LEAST(csize, 5) AS band, COUNT(*) AS n_docs,
           CAST(SUM(q_bucket) * 1000 // COUNT(*) AS BIGINT)
             AS mean_q_bucket_e3,
           CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS mean_chars
         FROM j GROUP BY 1 ORDER BY band""",

    "q388_budget_sweep" -> {
      def arm(b: Long): String =
        s"""r$b AS (SELECT CAST($b AS BIGINT) AS budget,
           COUNT(*) AS n_kept,
           COALESCE(SUM(n_tokens), 0) AS tok_sum,
           COALESCE(SUM(doc_id), 0) AS id_sum
           FROM ranked WHERE before_toks + bucket_cum <= $b)"""
      s"""WITH $toksCte, $qualityComponentsSql,
         scored AS (SELECT doc_id, lang,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             LEAST(CAST(floor(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                 - (stopword_ratio * 0.5) - (punct_ratio * 2.0)) * 1024.0)
               AS INT), 1023) AS q_bucket
           FROM comp),
         bsum AS (SELECT q_bucket, SUM(n_tokens) AS btoks FROM scored
           GROUP BY q_bucket),
         brun AS (SELECT q_bucket,
             SUM(btoks) OVER (ORDER BY q_bucket DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - btoks
               AS before_toks
           FROM bsum),
         ranked AS (SELECT s.doc_id, s.n_tokens, b.before_toks,
             SUM(s.n_tokens) OVER (PARTITION BY s.q_bucket
               ORDER BY md5('sel|' || CAST(s.doc_id AS VARCHAR)), s.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS bucket_cum
           FROM scored s JOIN brun b USING (q_bucket)),
         tot AS (SELECT SUM(n_tokens) AS total_toks FROM scored),
         ${arm(6000L)}, ${arm(12000L)}, ${arm(24000L)}
         SELECT budget, CAST(n_kept AS BIGINT) AS n_kept,
           CAST(tok_sum AS BIGINT) AS tok_sum,
           CAST(tok_sum * 1000000 // total_toks AS BIGINT)
             AS token_share_ppm,
           CAST(id_sum AS BIGINT) AS id_sum
         FROM (SELECT * FROM r6000 UNION ALL SELECT * FROM r12000
           UNION ALL SELECT * FROM r24000) u, tot
         ORDER BY budget"""
    },

    "q390_pq_subspace_distortion" -> {
      import graft.operators.ProductQuantizer.{Sql => PQ}
      val subDim = Dim / PqM
      s"""WITH $pqCbCte,
         assigned AS (
           SELECT e.vec_id, cb.j, cb.c,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j
               ORDER BY ${PQ.subDistChain("e.embedding", "cb.j", "cb.cw",
                 subDim)} ASC, cb.c) AS rk
           FROM embeddings e, cb),
         codes AS (SELECT vec_id, j, c FROM assigned WHERE rk = 1),
         dist AS (SELECT codes.vec_id, codes.j,
             CAST(floor((${PQ.subDistChain("e.embedding", "codes.j",
               "cb.cw", subDim)}) * 1000000000.0) AS BIGINT) AS qd
           FROM codes
           JOIN cb ON cb.j = codes.j AND cb.c = codes.c
           JOIN embeddings e ON e.vec_id = codes.vec_id),
         agg AS (SELECT j AS subspace, COUNT(*) AS n, SUM(qd) AS sq
           FROM dist GROUP BY 1),
         tot AS (SELECT SUM(sq) AS t FROM agg)
         SELECT CAST(subspace AS BIGINT) AS subspace,
           CAST(sq // n AS BIGINT) AS mean_dist_e9,
           CAST(sq * 1000000 // greatest(t, 1) AS BIGINT) AS share_ppm
         FROM agg, tot ORDER BY subspace"""
    },

    "q393_ivf_cost_curve" -> {
      val ctrNormSq = Similarity.Sql.normSq("embedding", Dim)
      val cvecNormSq = Similarity.Sql.normSq("c.cvec", Dim)
      def arm(np: Int): String =
        s"""a$np AS (SELECT CAST($np AS BIGINT) AS nprobe,
           COUNT(cnt.cell) AS n_cells_hit,
           COALESCE(SUM(cnt.n_rows), 0) AS rows_scanned
           FROM rc LEFT JOIN cnt ON rc.cell = cnt.cell
           WHERE rc.crk <= $np)"""
      s"""WITH ctr AS (
           SELECT CAST(vec_id - 1 AS INT) AS cell,
             list_transform(embedding,
               x -> CAST(x AS DOUBLE) / sqrt($ctrNormSq)) AS cvec
           FROM embeddings
           WHERE vec_id IN (${IvfSeedIds.mkString(", ")})),
         assigned AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY (${Similarity.Sql.dot("e.embedding", "c.cvec", Dim)})
                 / sqrt($cvecNormSq) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN ctr c
           WHERE e.vec_id <> 0),
         cells AS (SELECT vec_id, cell FROM assigned WHERE rk = 1),
         cnt AS (SELECT cell, COUNT(*) AS n_rows FROM cells
           GROUP BY 1),
         q AS (SELECT embedding AS q_vec FROM embeddings
           WHERE vec_id = 0),
         rc AS (SELECT c.cell, ROW_NUMBER() OVER (ORDER BY
             (${Similarity.Sql.dot("q.q_vec", "c.cvec", Dim)})
               / sqrt($cvecNormSq) DESC, c.cell) AS crk
           FROM ctr c, q),
         tot AS (SELECT COUNT(*) AS n_total FROM embeddings
           WHERE vec_id <> 0),
         ${arm(1)}, ${arm(2)}, ${arm(4)}
         SELECT nprobe, CAST(n_cells_hit AS BIGINT) AS n_cells_hit,
           CAST(rows_scanned AS BIGINT) AS rows_scanned,
           CAST(rows_scanned * 1000000 // n_total AS BIGINT)
             AS scan_share_ppm
         FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2
           UNION ALL SELECT * FROM a4) u, tot
         ORDER BY nprobe"""
    })
}
