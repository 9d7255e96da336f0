package graft.operators

import graft.Cut.CutOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * North-star extensions (no analogue in the reference). Design constraints:
  *
  *  - Everything is shuffle-on-key relational algebra — no driver loops, no
  *    pairwise O(n²) over the full corpus. The only pair-producing joins are
  *    key-equality joins on shingle / band / simhash-prefix keys, which at
  *    100 TB shuffle-partition cleanly by key and are robust to skew via AQE.
  *  - Hashes are md5-based (not Spark's xxhash) so an independent engine
  *    (the DuckDB verification oracle) can reproduce every signature bit —
  *    the same cross-engine determinism GOE's validation layer depends on.
  *  - MinHash signatures use the *lexicographic min of md5 hex strings* per
  *    seeded hash family: string-min is order- and engine-independent, no
  *    64-bit integer conversion needed.
  */
object Dedup {
  import TextAnalysis.tokens

  /** Word n-gram shingles (default 3): DISTINCT shingle set via the native
    * kernel ([[graft.functions.WordShingles]] — one flat eval per row). */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.TextFunctions.wordShingles(text, n)

  /** Composed higher-order-function formulation — kept to spec-check the
    * native kernel's equivalence. */
  def shinglesHof(text: Column, n: Int = 3): Column = {
    val ts = tokens(text)
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(ts) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(ts, i, lit(n)))))
  }

  /** Exact dedup: group on the normalised-text key, keep the lowest id.
    * Pure hash aggregation — one shuffle on the key. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs
      .withColumn("exact_key", TextAnalysis.exactKey(col(textCol)))
      .groupBy(col("exact_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exploded (id, shingle) relation — the building block for Jaccard and
    * MinHash. Distinct per doc. */
  def shingleRelation(docs: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    docs.select(col(idCol).as("sid"),
                explode(shingles(col(textCol), n)).as("shingle"))

  /** N-gram Jaccard near-dup pairs: inverted-index self-join on shingle,
    * |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|.
    *
    * Scale shape: the join key is the shingle (high cardinality ⇒ good
    * partitioning); only docs sharing ≥1 shingle ever meet, so the pair space
    * is corpus-driven, not n². Common-shingle skew is the known hazard —
    * callers should drop ultra-frequent shingles (stopword shingles) before
    * joining at real scale; AQE skew-join handles the remainder. */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   idCol: String = "doc_id", textCol: String = "text",
                   n: Int = 3,
                   maxShingleDocFreq: Option[Long] = None): DataFrame = {
    // The shingle index is consumed three times (sizes + both join sides);
    // checkpoint it so the tokenise/shingle expressions (interpreted HOFs,
    // not codegen'd) run once. At warehouse scale this is the materialised
    // inverted index every dedup pass reuses. LAZY localCheckpoint (not
    // persist) everywhere an intermediate escapes in the returned plan:
    // same one-shot materialisation on first action, but the blocks are
    // GC-reclaimed when the plan is dropped — a query builder can never
    // pair an unpersist, so persist entries would pin the cache manager
    // for the life of the session. Trade-off: no lineage recompute on
    // executor loss; the relation is re-derivable by re-running the
    // operator.
    val rel = shingleRelation(docs, idCol, textCol, n)
      .cut(false)
    // set sizes BEFORE any frequency pruning: |A| and |B| must stay exact
    val sizes = rel.groupBy(col("sid")).agg(count(lit(1)).as("set_size"))
    // Hot-shingle cut: a shingle present in k docs contributes k·(k−1)/2
    // pairs; stopword-like shingles dominate the join at corpus scale.
    // Dropping them bounds the per-key pair fan-out (the intersection
    // count becomes a lower bound ⇒ recall-safe thresholds only).
    val joinRel = maxShingleDocFreq match {
      case None => rel
      case Some(cap) =>
        val hot = rel.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > cap)
          .select(col("shingle"))
        rel.join(broadcast(hot), Seq("shingle"), "left_anti")
    }
    val a = joinRel.select(col("sid").as("id_a"), col("shingle"))
    val b = joinRel.select(col("sid").as("id_b"), col("shingle"))
    val inter = a.join(b, "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("sid", "id_a")
                 .withColumnRenamed("set_size", "size_a"), "id_a")
      .join(sizes.withColumnRenamed("sid", "id_b")
                 .withColumnRenamed("set_size", "size_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"),
              col("size_b"), col("jaccard"))
  }

  /** Duplicate-span coverage: for each document, the fraction of its
    * distinct word n-grams that occur in at least `minDocs` corpus
    * documents INCLUDING this one (document frequency ≥ minDocs, i.e. at
    * least minDocs−1 others) — the n-gram-granularity answer to "how much
    * of this doc is
    * copied text?" (cf. Lee et al., "Deduplicating Training Data Makes
    * Language Models Better": heavily-covered docs are boilerplate /
    * near-dups that pair-level Jaccard only catches against one partner at
    * a time). A doc can be 90% duplicated SPANS while no single pair
    * crosses a Jaccard threshold — this metric catches exactly that.
    *
    * Scale shape: document frequency is one partial-agg shuffle on the
    * shingle key (an aggregation, NOT a pair join — hot shingles cost one
    * combiner row, never k² pairs), one equi-join of the shingle relation
    * back to the df table, one groupBy doc. O(total shingles), no pair
    * space at all — this is the dedup metric that stays cheap at 100 TB. */
  def duplicateSpanCoverage(docs: DataFrame, n: Int = 3, minDocs: Long = 2,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would count a doc's own occurrence")
    val rel = shingleRelation(docs, idCol, textCol, n)
      .cut(false)
    val df_ = rel.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    rel.join(df_, "shingle")
      .groupBy(col("sid"))
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("df") >= minDocs, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio",
        col("n_dup").cast("double") / col("n_shingles").cast("double"))
      .select(col("sid").as(idCol), col("n_shingles"), col("n_dup"),
              col("dup_ratio"))
  }

  /** Duplicated-span REMOVAL plan (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better" — the ExactSubstr policy,
    * re-expressed at word-n-gram granularity): every positional n-gram
    * whose shingle also occurs in another document is a duplicate
    * occurrence UNLESS this doc is the shingle's first owner (global min
    * doc id) — first occurrence stays in the corpus, every later copy is
    * marked for removal. Overlapping and adjacent marked intervals merge
    * into maximal spans, so the output is the edit list a removal pass
    * applies: one row per (doc, span) with token boundaries.
    * [[duplicateSpanCoverage]] measures how duplicated a doc is; this
    * emits WHICH tokens to cut and keeps one canonical copy of every
    * span, the part a measurement can't do.
    *
    * Scale shape: ownership is one partial-agg shuffle on the shingle key
    * (min doc id — never a pair join); the join back is a shingle
    * equi-join; the interval merge is a per-doc window (state bounded by
    * doc length). O(total shingles) end to end — no pair space.
    */
  def duplicateSpans(docs: DataFrame, n: Int = 3,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // positional (not distinct) shingles: pos is the 0-based token index
    // of the n-gram's first token
    val rel = docs.select(col(idCol).as("sid"),
        posexplode(graft.functions.TextFunctions.wordShinglesAll(
          col(textCol), n)).as(Seq("pos", "shingle")))
      .cut(false)
    val owner = rel.groupBy(col("shingle"))
      .agg(min(col("sid")).as("first_sid"))
    val dup = rel.join(owner, "shingle")
      .filter(col("sid") =!= col("first_sid"))
      .select(col("sid"), col("pos"),
        (col("pos") + lit(n - 1)).cast("long").as("endp"))
    // merge overlapping/adjacent intervals: a row starts a new island iff
    // its start is beyond (running max end) + 1
    val byDoc = Window.partitionBy(col("sid")).orderBy(col("pos"))
    val prevMax = max(col("endp")).over(
      byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val isNew = when(col("pos") > coalesce(prevMax, lit(-1L)) + 1, 1L)
      .otherwise(0L)
    dup
      .withColumn("island", sum(isNew).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("sid"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
           max(col("endp")).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .select(col("sid").as(idCol), col("span_start"), col("span_end"),
              col("span_tokens"))
  }

  /** N-gram novelty: the fraction of a document's DISTINCT n-grams whose
    * first corpus occurrence (min doc id) is this document — "how much
    * text does this doc contribute that the corpus (in id order) hasn't
    * already seen?" The complement of [[duplicateSpanCoverage]]'s
    * duplication view, and the deduplicated-token accounting a data-mix
    * report quotes (novel tokens per source, not raw tokens).
    *
    * Scale shape: identical to coverage — one partial-agg shuffle on the
    * shingle key for ownership, one equi-join back, one groupBy doc.
    * No pair space. */
  def noveltyScores(docs: DataFrame, n: Int = 3,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val rel = shingleRelation(docs, idCol, textCol, n)
      .cut(false)
    val owner = rel.groupBy(col("shingle"))
      .agg(min(col("sid")).as("first_sid"))
    rel.join(owner, "shingle")
      .groupBy(col("sid"))
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("first_sid") === col("sid"), 1L).otherwise(0L))
             .as("n_novel"))
      .withColumn("novelty_ratio",
        col("n_novel").cast("double") / col("n_shingles").cast("double"))
      .select(col("sid").as(idCol), col("n_shingles"), col("n_novel"),
              col("novelty_ratio"))
  }

  /** Duplication centrality: integer PageRank over the near-duplicate
    * candidate graph — which documents are duplication HUBS (templates,
    * boilerplate, mirror pages). [[connectedComponents]] says which docs
    * are transitively related; this ranks how central each one is, the
    * signal a curation pass uses to pick what to inspect or drop first.
    *
    * Fixed-point arithmetic throughout: ranks are BIGINTs scaled by 10¹²,
    * each round is `rank' = 0.15·SCALE + Σ_in (85·(rank div deg)) div 100`
    * with INTEGER division — no float sum whose accumulation order could
    * differ between engines or runs, so results are bit-reproducible and
    * the DuckDB oracle hash-matches. Damping 0.85 is the exact rational
    * 85/100.
    *
    * Scale shape: each round is one equi-join of the edge relation to the
    * rank relation on the source key plus one partial-agg shuffle on the
    * destination key — shuffle-on-key only, no driver-side graph, state
    * per round is one row per node. Rounds are fixed (not run to
    * convergence): the use case is a centrality ORDERING, which
    * stabilises in a few rounds on shallow dedup graphs. */
  def duplicationRank(pairs: DataFrame, rounds: Int = 3,
                      aCol: String = "id_a", bCol: String = "id_b")
      : DataFrame = {
    require(rounds >= 1)
    val Scale = 1000000000000L
    val Base = Scale * 15L / 100L
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .cut(false)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = edges.select(col("src").as("doc_id")).distinct()
    var rank = nodes.withColumn("rank", lit(Scale))
    // localCheckpoint per round (same precedent as connectedComponents):
    // without it the rank lineage nests one join-agg layer per round and
    // re-executes from the source at every action — fine at 3 rounds,
    // quadratic re-work when a caller raises `rounds`. Superseded round
    // snapshots are released at once (the Graph.iterate lifetime rule);
    // the seed rank is a projection over `nodes` and is never released.
    var superseded: Option[DataFrame] = None
    (1 to rounds).foreach { _ =>
      val contrib = edges
        .join(outdeg, "src")
        .join(rank.select(col("doc_id").as("src"), col("rank")), "src")
        .select(col("dst").as("doc_id"),
          expr("(85 * (rank div deg)) div 100").as("c"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("in_sum"))
      val next = nodes.join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(Base) + coalesce(col("in_sum"), lit(0L))).as("rank"))
        .cut(true)
      superseded.foreach(graft.operators.Graph.release)
      superseded = Some(next)
      rank = next
    }
    rank
  }

  /** Broder similarity estimate for candidate pairs: the fraction of
    * agreeing MinHash slots is an unbiased estimator of J(A,B) — the number
    * a production dedup uses to rank candidates WITHOUT touching the raw
    * text again. Joining the exact Jaccard back (as q75 does) quantifies
    * the sketch error. Pure projections over the signature table; the
    * estimate is k small-int comparisons / k — bitwise deterministic. */
  def minhashEstimate(signatures: DataFrame, pairs: DataFrame,
                      numHashes: Int): DataFrame = {
    val sa = signatures.select(col("sid").as("id_a") +:
      (0 until numHashes).map(i => col(s"sig_$i").as(s"a_$i")): _*)
    val sb = signatures.select(col("sid").as("id_b") +:
      (0 until numHashes).map(i => col(s"sig_$i").as(s"b_$i")): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a_$i") === col(s"b_$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("est_jaccard",
        agree.cast("double") / lit(numHashes.toDouble))
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Exact shingle overlap for a CANDIDATE pair relation: `(id_a, id_b,
    * inter, size_a, size_b)` with `inter = 0` kept for candidates sharing
    * no shingle at all (an LSH collision) — the ground-truth side of any
    * LSH quality audit, and the input to containment analysis (a pair
    * with `inter = size_a` means A's shingle set is a subset of B's: a
    * quote / template / mirror, invisible to symmetric Jaccard when B is
    * much larger).
    *
    * Scale shape: cost is bounded by the CANDIDATE relation, never the
    * corpus pair space — shingles of A reach the join keyed on id_a, B's
    * side is an (id_b, shingle) equi-join; set sizes are one partial-agg
    * shuffle. No all-pairs formulation anywhere. */
  def candidateOverlap(docs: DataFrame, pairs: DataFrame, n: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val rel = shingleRelation(docs, idCol, textCol, n)
      .cut(false)
    val sizes = rel.groupBy(col("sid")).agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(rel.select(col("sid").as("id_a"), col("shingle")), "id_a")
      .join(rel.select(col("sid").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .join(sizes.withColumnRenamed("sid", "id_a")
                 .withColumnRenamed("sz", "size_a"), "id_a")
      .join(sizes.withColumnRenamed("sid", "id_b")
                 .withColumnRenamed("sz", "size_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"),
              col("size_b"))
  }

  /** Seeded hash of a shingle: md5 over "seed|shingle". The per-seed MinHash
    * is the lexicographic MIN of these hex strings. */
  def seededHash(seed: Int, shingle: Column): Column =
    md5(concat(lit(s"$seed|"), shingle))

  /** MinHash signatures: one row per doc, `sig_0..sig_{k-1}` columns.
    * k seeds ⇒ k independent min-hash functions; agreement probability per
    * seed equals the Jaccard similarity (Broder's estimator).
    *
    * Computed as per-doc `array_min` over the MATERIALISED shingle array —
    * a projection with no explode/shuffle/groupBy (the exploded formulation
    * shuffles |docs|·|shingles| rows to re-group what was already grouped).
    * The persist is load-bearing, not a cache nicety: projection collapse
    * would otherwise inline the shingle-construction subtree into all k
    * signature expressions, and higher-order functions are interpreted with
    * no common-subexpression elimination — measured 6× slower. */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 16,
                        idCol: String = "doc_id", textCol: String = "text",
                        n: Int = 3): DataFrame = {
    // All k slots in ONE kernel pass over the shingle array (the composed
    // array_min(transform(...)) × k form runs k interpreted folds per row).
    // The checkpoint is load-bearing: the banded index downstream
    // extracts k elements — projection collapse would otherwise inline the
    // kernel (and the shingle construction feeding it) into every
    // extraction; the RDD-scan barrier blocks the collapse like a persist
    // would, without pinning the cache manager (see shingleOverlap).
    val withSigs = docs.select(col(idCol).as("sid"),
        graft.functions.TextFunctions.minhashSigs(
          shingles(col(textCol), n), numHashes).as("sigs"))
      .cut(false)
    val slots = (0 until numHashes).map(s =>
      col("sigs").getItem(s).as(s"sig_$s"))
    withSigs.select((col("sid") +: slots): _*)
  }

  /** Composed HOF formulation — kept to spec-check the kernel's equality
    * (also the formulation the DuckDB oracle mirrors). */
  def minhashSignaturesHof(docs: DataFrame, numHashes: Int = 16,
                           idCol: String = "doc_id", textCol: String = "text",
                           n: Int = 3): DataFrame = {
    val withSh = docs.select(col(idCol).as("sid"),
        shingles(col(textCol), n).as("sh"))
      .cut(false)
    val sigs = (0 until numHashes).map(s =>
      array_min(transform(col("sh"), x => seededHash(s, x))).as(s"sig_$s"))
    withSh.select((col("sid") +: sigs): _*)
  }

  /** LSH banding: group the k signature slots into `bands` bands of
    * k/bands rows each; band key = md5 of the concatenated slice. Docs
    * sharing any band key are candidate pairs. One shuffle on band key;
    * bucket sizes are the skew knob (more bands ⇒ higher recall, bigger
    * buckets). */
  /** Banded (sid, band, band_key) relation — one pass over the signature
    * table via explode (a union of per-band selects would recompute the
    * upstream signature aggregation once per band). This IS the persisted
    * LSH index: at scale it lives as a parquet table keyed by
    * (band, band_key) and new batches probe it ([[lshCandidatesIncremental]]). */
  def bandRelation(signatures: DataFrame, numHashes: Int = 16,
                   bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val slice = (b * rows until (b + 1) * rows).map(i => col(s"sig_$i"))
      struct(lit(b).as("band"), md5(concat_ws("|", slice: _*)).as("band_key"))
    }
    signatures
      .select(col("sid"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("sid"), col("bk.band").as("band"),
              col("bk.band_key").as("band_key"))
  }

  def lshCandidates(signatures: DataFrame, numHashes: Int = 16,
                    bands: Int = 4): DataFrame = {
    // checkpoint — the banded index feeds both sides of the self-join
    val banded = bandRelation(signatures, numHashes, bands)
      .cut(false)
    val l = banded.select(col("band"), col("band_key"), col("sid").as("id_a"))
    val r = banded.select(col("band"), col("band_key"), col("sid").as("id_b"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Incremental LSH: candidate pairs for a NEW batch against an EXISTING
    * corpus index, plus within-batch pairs — the operational dedup shape:
    * arriving data probes the stored band index and the existing corpus is
    * NEVER re-paired with itself (at 100 TB that self-join dwarfs the
    * batch probe by the corpus/batch ratio, and it was already done).
    * Signatures are per-doc (independent of the rest of the corpus), so
    * batch signatures computed in isolation equal a full recompute.
    * Output (id_a, id_b), a < b, distinct; every pair has ≥1 batch doc. */
  def lshCandidatesIncremental(existingSigs: DataFrame, freshSigs: DataFrame,
                               numHashes: Int = 16,
                               bands: Int = 4): DataFrame = {
    val eb = bandRelation(existingSigs, numHashes, bands)
    val fb = bandRelation(freshSigs, numHashes, bands)
      .cut(false)
    val cross = fb.select(col("band"), col("band_key"), col("sid").as("id_f"))
      .join(eb.select(col("band"), col("band_key"), col("sid").as("id_e")),
        Seq("band", "band_key"))
      .select(least(col("id_f"), col("id_e")).as("id_a"),
              greatest(col("id_f"), col("id_e")).as("id_b"))
    val within = fb.select(col("band"), col("band_key"), col("sid").as("id_a"))
      .join(fb.select(col("band"), col("band_key"), col("sid").as("id_b")),
        Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    cross.union(within).distinct()
  }

  /** SimHash (32-bit, md5-nibble variant): for bit j, take the j-th hex
    * nibble of md5(token); its high bit votes +1/−1 weighted by presence of
    * the DISTINCT token; bit j of the signature is the sign of the vote sum.
    * Evaluated by the native [[graft.functions.SimHashSignature]] kernel —
    * one flat Java pass per row. */
  def simhash(text: Column): Column =
    graft.functions.TextFunctions.simhash32(text)

  /** Composed higher-order-function formulation — kept to spec-check the
    * native kernel's bit equality (this is also the formulation the DuckDB
    * oracle mirrors). */
  def simhashHof(text: Column, bits: Int = 32): Column = {
    require(bits <= 32, "md5 has 32 hex nibbles")
    // Single pass: md5 each distinct token ONCE, fold the per-nibble ±1
    // votes into an array accumulator (the per-bit-folds formulation
    // duplicates the hashing subtree into every bit's expression — higher-
    // order functions are interpreted, so no CSE rescues that).
    val hashes = transform(array_distinct(tokens(text)), t => md5(t))
    val nibbleVotes: Column => Column = h =>
      transform(sequence(lit(1), lit(bits)), j =>
        when(instr(lit("0123456789abcdef"),
                   substring(h, j, lit(1))) >= 9, lit(1)).otherwise(lit(-1)))
    val votes = aggregate(hashes,
      array_repeat(lit(0), bits),
      (acc, h) => zip_with(acc, nibbleVotes(h), (a, b) => a + b))
    val powers = array((0 until bits).map(j => lit(1L << j)): _*)
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Connected components over a near-dup pair list: transitive closure of
    * the pairwise matches into cluster ids (cluster id = smallest doc id in
    * the component) — the step that turns pair output (minhash/simhash/
    * jaccard) into actual dedup GROUPS.
    *
    * Iterative min-label propagation: each round every node takes the min
    * label among itself and its neighbours; rounds ≤ component diameter
    * (near-dup clusters are shallow), each round is one equi-join + one
    * aggregation — all shuffle-on-key, no driver-side graph. The
    * convergence check is a metadata-scale count per round. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 25)
      : DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint (not persist): each round's plan would otherwise
    // embed the whole previous round's tree — lineage and plan-string size
    // grow exponentially with iterations. Checkpointing materializes the
    // round AND truncates the plan, keeping every round's query constant
    // size — mandatory for any iterative DataFrame algorithm.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .cut(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighbourLabels = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("label"))
      val next = labels.unionByName(neighbourLabels)
        .groupBy("id").agg(min("label").as("label"))
        .cut(true)
      val changed = next.withColumnRenamed("label", "new_label")
        .join(labels, Seq("id"))
        .filter(col("new_label") =!= col("label")).count()
      // the changed-count above was the old snapshot's LAST read —
      // release it so the loop holds two node-scale relations, not one
      // per round (the Graph.iterate lifetime rule)
      graft.operators.Graph.release(labels)
      labels = next
      converged = changed == 0
      i += 1
    }
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Survivorship: turn near-dup clusters into a KEEP decision — one
    * canonical document per cluster (highest `keepScore`, ties to the
    * smallest id), everything else marked duplicate. This is the step a
    * training-data run actually executes after pair generation + connected
    * components: dedup means "keep the best copy", not "drop everything".
    *
    * Docs absent from `clusters` (never matched any pair) are singleton
    * clusters of themselves. One shuffle on cluster_id; the per-cluster
    * window is bounded by cluster size (near-dup clusters are small —
    * the giant-component case is a salting problem upstream in pair
    * generation, not here). */
  def canonicalize(docs: DataFrame, clusters: DataFrame, keepScore: Column,
                   idCol: String = "doc_id"): DataFrame = {
    val scored = docs.select(col(idCol), keepScore.as("keep_score"))
      .join(clusters.select(col(idCol), col("cluster_id")), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("keep_score").desc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    scored.withColumn("canonical_id", first(col(idCol)).over(w))
      .withColumn("is_canonical", col("canonical_id") === col(idCol))
      .select(col(idCol), col("cluster_id"), col("keep_score"),
        col("canonical_id"), col("is_canonical"))
  }

  /** Benchmark contamination check (decontamination pass): for every
    * (corpus doc, benchmark doc) pair sharing shingles, the fraction of the
    * BENCHMARK doc's shingle set present in the corpus doc. Corpus docs
    * covering ≥ `threshold` of an eval item are contamination — they leak
    * the benchmark into training data.
    *
    * Scale shape: the benchmark is small by nature (eval suites are 10³-10⁵
    * items vs 10⁹+ corpus docs), so its whole shingle index BROADCASTS —
    * the corpus side streams map-only through the hash join, aggregates on
    * (corpus_id, bench_id), and never shuffles the corpus by shingle. */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    threshold: Double, n: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val c = shingleRelation(corpus, idCol, textCol, n)
      .select(col("sid").as("corpus_id"), col("shingle"))
    val b = shingleRelation(benchmark, idCol, textCol, n)
      .select(col("sid").as("bench_id"), col("shingle"))
      .cut(false)
    val bSizes = b.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("bench_size"))
    c.join(broadcast(b), Seq("shingle"))
      .groupBy(col("corpus_id"), col("bench_id"))
      .agg(count(lit(1)).as("overlap"))
      .join(broadcast(bSizes), Seq("bench_id"))
      .withColumn("overlap_frac",
        col("overlap").cast("double") / col("bench_size").cast("double"))
      .filter(col("overlap_frac") >= threshold)
      .select(col("corpus_id"), col("bench_id"), col("overlap"),
        col("bench_size"), col("overlap_frac"))
  }

  /** Corpus-side span contamination: for each CORPUS doc, the fraction of
    * its distinct n-grams that appear anywhere in the benchmark — the
    * removal criterion of a decontamination pass ([[contamination]] is the
    * complementary bench-side view: how much of each BENCHMARK doc leaked).
    * A doc quoting one benchmark item heavily and another doc spreading
    * thin quotes across many items score the same here — that is the
    * point; eval-taint is about the corpus doc's content, not the pairing.
    *
    * Scale shape: the benchmark shingle set is eval-suite-sized and
    * broadcasts; the corpus side is a map-side left join + one groupBy
    * doc. O(corpus shingles), zero pair space. */
  def contaminationCoverage(corpus: DataFrame, benchmark: DataFrame,
                            n: Int = 3, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val c = shingleRelation(corpus, idCol, textCol, n)
    val bench = shingleRelation(benchmark, idCol, textCol, n)
      .select(col("shingle")).distinct()
      .withColumn("tainted", lit(1L))
    c.join(broadcast(bench), Seq("shingle"), "left")
      .groupBy(col("sid"))
      .agg(count(lit(1)).as("n_shingles"),
           sum(coalesce(col("tainted"), lit(0L))).as("n_tainted"))
      .withColumn("taint_ratio",
        col("n_tainted").cast("double") / col("n_shingles").cast("double"))
      .select(col("sid").as(idCol), col("n_shingles"), col("n_tainted"),
              col("taint_ratio"))
  }

  /** 64-bit SimHash: bits 0-31 vote on the nibbles of `md5(token)`, bits
    * 32-63 on the nibbles of `md5('2#' || token)` — the salted second hash
    * is an independent family, same cross-engine md5 determinism. Native
    * kernel; [[simhash64Hof]] is the spec-checked composed equivalent. */
  def simhash64(text: Column): Column =
    graft.functions.TextFunctions.simhash64(text)

  /** Composed HOF formulation of [[simhash64]] (bit-equality oracle). */
  def simhash64Hof(text: Column): Column = {
    val bits = 32
    val nibbleVotes: Column => Column = h =>
      transform(sequence(lit(1), lit(bits)), j =>
        when(instr(lit("0123456789abcdef"),
                   substring(h, j, lit(1))) >= 9, lit(1)).otherwise(lit(-1)))
    def votes(salt: String): Column = {
      val hashes = transform(array_distinct(tokens(text)),
        t => md5(if (salt.isEmpty) t else concat(lit(salt), t)))
      aggregate(hashes, array_repeat(lit(0), bits),
        (acc, h) => zip_with(acc, nibbleVotes(h), (a, b) => a + b))
    }
    val allVotes = concat(votes(""), votes("2#"))
    val powers = array((0 until 64).map(j => lit(1L << j)): _*)
    aggregate(
      zip_with(allVotes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** SimHash near-dup pairs at 100 TB: pigeonhole blocking over the 64-bit
    * signature. The signature splits into 4 disjoint 16-bit chunks; a pair
    * within Hamming distance ≤ 3 differs in at most 3 chunks, so it agrees
    * EXACTLY on at least one — the union of 4 equi-joins on
    * (chunk_index, chunk_value) has perfect recall for maxDist ≤ 3 with
    * 65,536 keys per chunk. Per-key fan-out is bounded by how many docs
    * share a 16-bit chunk value (corpus-driven: measured, the pair bound
    * dropped 2-8× vs the byte block on 500 docs), never n/256 as with
    * single-byte blocking — that is the difference between a shuffleable
    * join and a quadratic blow-up at 1B docs. */
  def simhashPairs64(docs: DataFrame, maxDist: Int = 3,
                     idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      "4-chunk pigeonhole guarantees recall only for Hamming <= 3")
    val sigs = docs.select(col(idCol).as("sid"),
                           simhash64(col(textCol)).as("sig"))
      // two interpreted 32-fold passes per row: must run once, not per side
      .cut(false)
    val chunks = (0 until 4).map { j =>
      struct(lit(j).as("ck"),
        shiftright(col("sig"), 16 * j).bitwiseAND(lit(65535L)).as("cv"))
    }
    val blocked = sigs
      .select(col("sid"), col("sig"), explode(array(chunks: _*)).as("c"))
      .select(col("sid"), col("sig"),
              col("c.ck").as("ck"), col("c.cv").as("cv"))
    val l = blocked.select(col("ck"), col("cv"), col("sid").as("id_a"),
                           col("sig").as("sig_a"))
    val r = blocked.select(col("ck"), col("cv"), col("sid").as("id_b"),
                           col("sig").as("sig_b"))
    l.join(r, Seq("ck", "cv"))
      .filter(col("id_a") < col("id_b"))
      // a pair agreeing on k chunks appears k times — dedupe BEFORE scoring
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b")).distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDist)
  }

  /** SMALL-CORPUS SimHash near-dup pairs (32-bit signature, single-byte
    * block). NOT the default — use [[simhashPairs64]] for anything that
    * might grow: the 256-key block space here caps the blocking keys, so
    * per-key fan-out grows as (n/256)² and the join goes quadratic beyond
    * ~10M docs. This variant stays for corpora known to be small (≤1M docs)
    * where the cheaper 32-bit signature wins; candidate generation is still
    * an equi-join, never all-pairs. */
  def simhashPairsSmallCorpus(docs: DataFrame, maxDist: Int = 3,
                              idCol: String = "doc_id",
                              textCol: String = "text")
      : DataFrame = {
    val sigs = docs.select(col(idCol).as("sid"),
                           simhash(col(textCol)).as("sig"))
      .withColumn("block", col("sig").bitwiseAND(lit(255L)))
      // signature computation (32 interpreted folds) must run once, not
      // once per join side
      .cut(false)
    val l = sigs.select(col("block"), col("sid").as("id_a"),
                        col("sig").as("sig_a"))
    val r = sigs.select(col("block"), col("sid").as("id_b"),
                        col("sig").as("sig_b"))
    l.join(r, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"),
              col("hamming"))
  }

  /** C4-style line-level dedup: drop every line that occurs in at least
    * `minDocFreq` distinct documents (boilerplate headers, navigation,
    * cookie banners), keeping each document's surviving lines in order.
    *
    * The C4 pipeline removed 3-sentence-boilerplate this way; the operator
    * takes the corpus-wide view (a line is judged by its global document
    * frequency, not within-document repetition — that is
    * `TextAnalysis.repetitionMetrics`).
    *
    * 100 TB shape: one shuffle keyed on the line text for the frequency
    * count, a shuffle equi-join (left_anti) to drop hot lines — never a
    * broadcast, the hot-line set is unbounded — and one shuffle on the doc
    * id to reassemble. Per-doc state is bounded by document size
    * (collect_list of that doc's lines only).
    *
    * Output: `idCol`, `text_clean` (empty string when every line was
    * boilerplate), `n_lines` (before), `n_kept` (after).
    */
  def lineDedup(docs: DataFrame, minDocFreq: Int = 2,
                idCol: String = "doc_id", textCol: String = "text",
                sep: String = "\n"): DataFrame = {
    val sepLit = java.util.regex.Pattern.quote(sep)
    // lazy checkpoint: the hot-line aggregate AND the anti-join both
    // read the exploded relation — without it the split/posexplode (and
    // any caller-side lineification expression, q84's nested HOFs) runs
    // twice per invocation
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), sepLit)).as(Seq("pos", "line")))
      .cut(false)
    val hot = lines.groupBy("line")
      .agg(countDistinct(col(idCol)).as("ndocs"))
      .filter(col("ndocs") >= minDocFreq)
      .select("line")
    val kept = lines.join(hot, Seq("line"), "left_anti")
    val rebuilt = kept.groupBy(idCol).agg(
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")),
        sep).as("text_clean"),
      count(lit(1)).as("n_kept"))
    docs.select(col(idCol),
        size(split(col(textCol), sepLit)).cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_lines"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
