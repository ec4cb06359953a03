package graft.operators

import graft.functions.{SimHash, Text, TextExpressions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication family for the training-data pipeline: exact,
  * MinHash-LSH, SimHash, and n-gram Jaccard near-dup detection.
  *
  * Scale design: nothing here is O(n²). Signatures (MinHash, SimHash,
  * shingle sets) are computed row-local with zero shuffle — the only
  * shuffles are the equality joins on band/chunk/gram keys, each linear
  * in data size. Hot keys are bounded by construction (bands are
  * hashes; n-gram join applies a document-frequency cap, the standard
  * prefix-filter trick) so no LSH bucket degenerates into a quadratic
  * blowup at 100 TB.
  */
object Dedup {

  /** Runaway-bucket guard for banded candidate generation: a bucket of
    * n members yields n²/2 candidate pairs, so one degenerate bucket
    * (a mass of exact duplicates that should have been removed by
    * [[exact]] dedup first, or an adversarial cluster) can dwarf the
    * rest of the job. Buckets above `cap` are DROPPED — a documented
    * recall trade, window-counted on the same partitioning the join
    * shuffle needs anyway. Caps default high enough to be inert at
    * test scale.
    */
  private def capBuckets(entries: DataFrame, keys: Seq[String],
                         cap: Int): DataFrame =
    if (cap <= 0) entries
    else {
      // hot-bucket keys from a NARROW aggregation (map-side combined,
      // only the key columns shuffle), then a broadcast anti-join: the
      // hot set is tiny by definition (every member holds > cap
      // entries), and the entries side keeps its partitioning — unlike
      // a window count, which re-shuffled the full-width entries twice.
      val hot = entries.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__bsz")).filter(col("__bsz") > cap)
        .select(keys.map(col): _*)
      entries.join(broadcast(hot), keys, "left_anti")
    }

  /** Exact dedup by content hash: canonical id + multiplicity per
    * distinct text. Map-side partial agg makes the shuffle O(distinct).
    */
  def exact(docs: DataFrame, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** MinHash + LSH banding (Broder; see MMDS ch.3).
    *
    * k minhashes over word-`shingleSize`-gram sets, computed per-row as
    * `array_min(transform(shingles, xxhash64(seed_i, _)))` — no
    * explode/groupBy, so signature generation is shuffle-free. The k
    * signature slots are split into `bands`; documents agreeing on any
    * band hash become candidate pairs via a self-equi-join on
    * (band_idx, band_hash). Pair similarity is then estimated from
    * full-signature agreement.
    *
    * @param threshold minimum estimated Jaccard to report
    */
  def minHashPairs(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", k: Int = 32, bands: Int = 8,
                   shingleSize: Int = 3, threshold: Double = 0.1,
                   maxBucket: Int = 100000): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val r = k / bands
    val withSig = docs.select(col(idCol).as("id"),
      TextExpressions.minhashSig(col(textCol), k, shingleSize).as("sig"))
    val bandCols = (0 until bands).map(b => xxhash64(slice(col("sig"), b * r + 1, r)))
    val entries = capBuckets(withSig
      .select(col("id"), col("sig"), posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash"),
      Seq("band_idx", "band_hash"), maxBucket)
    val a = entries.select(col("band_idx"), col("band_hash"),
      col("id").as("doc_a"), col("sig").as("sig_a"))
    val b = entries.select(col("band_idx"), col("band_hash"),
      col("id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / k).as("est_jaccard"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(round(max(col("est_jaccard")), 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** SimHash near-dup pairs: 64-bit simhash (custom Catalyst expression,
    * see [[graft.functions.SimHash64]]), banded into `maxHamming + 1`
    * equal-width chunks. Two docs within hamming distance `maxHamming`
    * must agree on at least one chunk (pigeonhole over maxHamming+1
    * chunks), so the chunk equi-join finds ALL such pairs without a
    * quadratic scan; bit_count(xor) then verifies exactly. Recall is
    * complete — unlike banding with fewer chunks than maxHamming+1,
    * which silently drops pairs whose differing bits span every chunk.
    *
    * Scale note: chunk width is 64/(maxHamming+1) bits, so the bucket
    * space shrinks as maxHamming grows (maxHamming=7 → 8-bit chunks →
    * 256 buckets per band). Keep maxHamming small (<= 7) on large
    * corpora or the band join fans out.
    */
  def simHashPairs(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", maxHamming: Int = 3,
                   maxBucket: Int = 100000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    val chunks = maxHamming + 1
    val width = 64 / chunks                // first `chunks-1` chunks this wide
    val sim = SimHash.simhash64(Text.tokens(col(textCol)))
    val withSim = docs.select(col(idCol).as("id"), sim.as("sim"))
    val chunkCols = (0 until chunks).map { c =>
      val lo = c * width
      val w = if (c == chunks - 1) 64 - lo else width  // last chunk takes the remainder
      val shifted = shiftrightunsigned(col("sim"), lo)
      if (w >= 64) shifted else shifted.bitwiseAND(lit((1L << w) - 1L))
    }
    val entries = capBuckets(withSim
      .select(col("id"), col("sim"), posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk_val"),
      Seq("chunk_idx", "chunk_val"), maxBucket)
    val a = entries.select(col("chunk_idx"), col("chunk_val"),
      col("id").as("doc_a"), col("sim").as("sim_a"))
    val b = entries.select(col("chunk_idx"), col("chunk_val"),
      col("id").as("doc_b"), col("sim").as("sim_b"))
    // Pair dedup is a FILTER, not a distinct: a pair agreeing on
    // several chunks is emitted only from its first agreeing chunk,
    // computed from the two simhashes in place. The distinct()
    // formulation shuffled every candidate pair (millions on a
    // near-dup-dense corpus); this emits each survivor exactly once
    // with zero extra exchanges.
    def chunkOf(sim: org.apache.spark.sql.Column, c: Int) = {
      val lo = c * width
      val w = if (c == chunks - 1) 64 - lo else width
      val shifted = shiftrightunsigned(sim, lo)
      if (w >= 64) shifted else shifted.bitwiseAND(lit((1L << w) - 1L))
    }
    val firstMatch = (chunks - 1 to 0 by -1).foldLeft(lit(chunks)) {
      case (acc, c) =>
        when(chunkOf(col("sim_a"), c) === chunkOf(col("sim_b"), c), lit(c))
          .otherwise(acc)
    }
    a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming && col("chunk_idx") === firstMatch)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Connected components over a near-dup pair set: the step that turns
    * pairwise candidates into dedup CLUSTERS (label = smallest doc id
    * in the component, the canonical survivor).
    *
    * Min-label propagation, driver-coordinated like every Pregel-style
    * loop: each iteration is one join + one map-side-combinable min-agg
    * (both shuffling only (node, label) longs, never documents), with
    * `localCheckpoint` truncating lineage so plan depth stays constant.
    * Iterations needed = component diameter — for near-dup clusters
    * that is 2–4, and `maxIter` hard-bounds pathological chains.
    */
  def clusters(pairs: DataFrame, aCol: String = "doc_a",
               bCol: String = "doc_b", maxIter: Int = 10): DataFrame = {
    val half = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    // Callers emit each undirected pair once (a < b), so symmetrizing
    // needs no distinct(): a duplicate edge would only feed an identical
    // (node, label) candidate into the min-agg — results unchanged, and
    // the full-edge-set shuffle a distinct() costs is saved.
    val edges = half
      .unionByName(half.select(col("dst").as("src"), col("src").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Initial labels fold the would-be first iteration into node
    // discovery: the same groupBy that dedupes src nodes also takes the
    // 1-hop min — one pass instead of distinct + join + re-agg.
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("src").as("node"),
        least(col("src"), col("__mn")).as("label"))
      .localCheckpoint(true)
    // Convergence via the monotone invariant: every per-node label only
    // ever decreases, so the label SUM strictly decreases until the
    // fixpoint — one narrow agg job over the just-checkpointed frame,
    // instead of the shuffle-join-and-count of consecutive label frames
    // a changed-row check costs. Decimal(38,0) keeps the sum exact (a
    // long sum could wrap at corpus scale and alias two distinct states).
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val row = df.agg(sum(col("label")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).first()
      if (row.isNullAt(0)) java.math.BigDecimal.ZERO else row.getDecimal(0)
    }
    // priming the sum lets a diameter-2 component (the common near-dup
    // case) converge after ONE loop iteration instead of two
    var prevSum: java.math.BigDecimal = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrLabels = edges
        .join(labels, edges("dst") === labels("node"))
        .select(edges("src").as("node"), col("label"))
      val next = labels.unionByName(nbrLabels)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    edges.unpersist()
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Corpus compaction — the APPLY step of near-dup dedup: drop every
    * document that belongs to a cluster but is not its canonical
    * (minimum-id) member. Left-anti join on the (tiny) non-canonical
    * id set; documents never shuffle.
    */
  def dedupCorpus(docs: DataFrame, pairs: DataFrame,
                  idCol: String = "doc_id"): DataFrame = {
    val dropIds = clusters(pairs)
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("__drop_id"))
    docs.join(broadcast(dropIds), col(idCol) === col("__drop_id"), "left_anti")
  }

  /** Exact n-gram Jaccard similarity over candidate pairs from a
    * shared-gram inverted index. Grams with document frequency above
    * `maxDf` are dropped before the self-join (prefix filtering): at
    * scale a stop-gram shared by 10% of the corpus would otherwise
    * produce a quadratic candidate set while contributing nothing to
    * near-dup discrimination.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", n: Int = 2,
                        maxDf: Int = 50, threshold: Double = 0.2): DataFrame =
    ngramJaccardImpl(docs, textCol, idCol, n, maxDf, threshold, None)

  /** Incremental near-dup maintenance: same inverted-index plan as
    * [[ngramJaccardPairs]], but the candidate stream is pruned to pairs
    * touching the delta batch (`isDelta` rows) BEFORE the shared-gram
    * aggregation — delta×base and delta×delta pairs are scored,
    * base×base is never re-paired. At 100 TB this is the difference
    * between re-deduping the corpus per ingest batch (quadratic over
    * time) and paying only |delta|·avg-postings per batch. Document
    * frequencies still come from the full corpus, so scores are
    * identical to what a full run would produce for the same pairs.
    */
  def ngramJaccardPairsIncremental(docs: DataFrame,
                                   isDelta: org.apache.spark.sql.Column,
                                   textCol: String = "text",
                                   idCol: String = "doc_id", n: Int = 2,
                                   maxDf: Int = 50,
                                   threshold: Double = 0.2): DataFrame =
    ngramJaccardImpl(docs, textCol, idCol, n, maxDf, threshold, Some(isDelta))

  /** Exact Jaccard similarity over ARBITRARY item sets — the same
    * df-capped inverted-index plan as [[ngramJaccardPairs]] applied to
    * any (id, array-of-items) frame: order baskets, tag sets, entity
    * feature sets. Items shared by more than `maxDf` rows are pruned
    * before the self-join (prefix filter); output columns stay
    * doc_a/doc_b/jaccard.
    */
  /** @param prefixFilter use the PPJoin-style prefix-indexed plan
    *                      instead of the all-pairs postings join. Same
    *                      result by construction (differential-tested);
    *                      wins when sets are LARGE and the threshold
    *                      HIGH (candidate generation dominates), loses
    *                      on small sets where the carried verify arrays
    *                      outweigh the candidate savings.
    */
  def setJaccardPairs(rows: DataFrame, idCol: String, setCol: String,
                      maxDf: Int = 50, threshold: Double = 0.2,
                      isDelta: Option[org.apache.spark.sql.Column] = None,
                      prefixFilter: Boolean = false): DataFrame = {
    val prepared = rows.select(col(idCol).as("id"),
      isDelta.getOrElse(lit(true)).as("is_delta"), col(setCol).as("grams"))
    if (prefixFilter)
      jaccardPrefixImpl(prepared, maxDf, threshold, isDelta.isDefined)
    else jaccardImpl(prepared, maxDf, threshold, isDelta.isDefined)
  }

  /** Exact Jaccard CONTAINMENT pairs over word-shingle sets:
    * shared / min(|A|, |B|) — the asymmetric near-dup measure that
    * catches a short document embedded inside a longer one, which
    * symmetric Jaccard dilutes away (a 50-gram doc fully contained in
    * a 500-gram doc scores 1.0 here but only ~0.1 on Jaccard). Same
    * one-scan df-capped postings self-join as [[ngramJaccardPairs]];
    * the size-ratio length prefilter does NOT apply (any size pair can
    * reach containment 1.0), so the df cap is the only candidate
    * bound — which is exactly why `maxDf` matters more here.
    */
  def containmentPairs(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id", n: Int = 2,
                       maxDf: Int = 50, threshold: Double = 0.6): DataFrame = {
    val prepared = docs.select(col(idCol).as("id"),
      TextExpressions.shingleSet(col(textCol), n).as("grams"))
    val exploded = prepared
      .select(col("id"), size(col("grams")).as("n_grams"),
        explode(col("grams")).as("gram"))
    val rare = exploded
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))))
      .filter(col("df").between(2, maxDf))
    val posted = rare
      .repartition(rare.sparkSession.sessionState.conf.numShufflePartitions,
        col("gram"))
      .select(col("gram"), col("id"), col("n_grams"))
    val a = posted.select(col("gram"), col("id").as("doc_a"),
      col("n_grams").as("n_a"))
    val b = posted.select(col("gram"), col("id").as("doc_b"),
      col("n_grams").as("n_b"))
    a.join(b, Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("__ratio", col("shared").cast("double") /
        least(col("n_a"), col("n_b")))
      // same margin-then-exact-decimal two-step as the jaccard path:
      // cheap codegen prefilter, BigDecimal round only on survivors
      .filter(col("__ratio") >= threshold - 1e-3)
      .select(col("doc_a"), col("doc_b"),
        round(col("__ratio")
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 4)
          .cast("double").as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Dup-saturation fallback tier for the df-capped similarity family.
    *
    * The df cap is the right candidate bound on a deduplicated corpus,
    * but on a VERBATIM-DUPLICATE-saturated one (the normal regime for
    * raw web crawls) it inverts: every shingle's raw df is inflated by
    * the duplicate mass, the whole vocabulary crosses `maxDf`, and the
    * capped tiers emit ZERO pairs exactly where near-dup pressure is
    * highest (measured at the ×30 sf3.0 stress in round 7).
    *
    * Fix: collapse verbatim duplicates FIRST (md5 identity, the
    * [[exact]] convention), run the shingle tier over the distinct
    * survivors — so df means "distinct texts containing the gram",
    * which duplicate mass can no longer inflate — then re-expand:
    * members of one collapse group pair at similarity 1.0, and each
    * surviving representative pair expands to its groups' member
    * bipartite. The collapse is one O(distinct) map-side-combined
    * shuffle; the expansion joins are equi-joins on the representative
    * id. The expansion output is quadratic per duplicate group — that
    * is TRUE-PAIR output (every emitted pair really is a duplicate),
    * irreducible for all-pairs semantics; cluster/compaction consumers
    * (q61/q68 shapes) should consume the (rep, member) star instead,
    * which yields identical connected components without the clique.
    */
  /** Shared collapse/expand scaffold for the saturation tier, batch AND
    * incremental: with `isDelta` set, rep pairs re-score only for text
    * groups that GAINED a delta member (`__repd` on the reps frame, for
    * the scorer's incremental prune) and both the cross expansion and
    * the intra-group clique keep only pairs with a delta side — each
    * pair emits exactly once, in the batch where its later doc arrives.
    * Without `isDelta` every row counts as delta and the filters
    * constant-fold away, leaving the plain batch tier.
    */
  private def collapseExpand(docs: DataFrame, textCol: String,
                             idCol: String,
                             isDelta: Option[Column] = None)
                            (repPairs: DataFrame => DataFrame): DataFrame = {
    val keyed = docs.select(md5(col(textCol)).as("__h"),
      col(idCol).as("__id"), col(textCol).as("__text"),
      isDelta.getOrElse(lit(true)).as("__isd"))
    // min(text) not first(): values are identical within an md5 group,
    // min keeps the agg deterministic for the planner
    val groups = keyed.groupBy(col("__h"))
      .agg(min(col("__id")).as("__rep"), min(col("__text")).as("__rtext"),
        max(col("__isd")).as("__gd"))
    val members = keyed.select(col("__h"), col("__id"), col("__isd"))
      .join(groups.select(col("__h"), col("__rep")), Seq("__h"))
      .select(col("__rep"), col("__id"), col("__isd"))
    val reps = groups.select(col("__rep").as(idCol),
      col("__rtext").as(textCol), col("__gd").as("__repd"))
    val cross = repPairs(reps)
      .join(members.select(col("__rep").as("doc_a"), col("__id").as("__ia"),
        col("__isd").as("__da")), Seq("doc_a"))
      .join(members.select(col("__rep").as("doc_b"), col("__id").as("__ib"),
        col("__isd").as("__db")), Seq("doc_b"))
      .filter(col("__da") || col("__db"))
      .select(least(col("__ia"), col("__ib")).as("doc_a"),
        greatest(col("__ia"), col("__ib")).as("doc_b"), col("jaccard"))
    val intra = members.as("x")
      .join(members.as("y"), col("x.__rep") === col("y.__rep") &&
        col("x.__id") < col("y.__id") &&
        (col("x.__isd") || col("y.__isd")))
      .select(col("x.__id").as("doc_a"), col("y.__id").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** [[ngramJaccardPairs]] behind the exact-hash pre-collapse — the
    * plan for corpora where verbatim duplication would saturate the df
    * cap. df counts DISTINCT texts; verbatim duplicates always pair at
    * 1.0 regardless of df saturation.
    */
  def ngramJaccardPairsSaturated(docs: DataFrame, textCol: String = "text",
                                 idCol: String = "doc_id", n: Int = 2,
                                 maxDf: Int = 50,
                                 threshold: Double = 0.2): DataFrame =
    collapseExpand(docs, textCol, idCol)(reps =>
      ngramJaccardPairs(reps, textCol, idCol, n, maxDf, threshold))

  /** Incremental variant of the saturation tier, for streaming ingest
    * ([[graft.streaming.Streams.dedupIngestSaturatedSink]]): the
    * exact-hash collapse runs over base+delta, rep pairs are re-scored
    * only where a text group GAINED a delta member (the rep-level
    * incremental prune — untouched×untouched groups never re-pair), and
    * both the member expansion and the intra-group clique keep only
    * pairs with a delta side. Across an ingest stream every pair is
    * therefore emitted exactly once — in the micro-batch where its
    * later document arrives — and verbatim-duplicate mass cannot
    * saturate the df cap, because dfs count distinct texts exactly as
    * in the batch tier.
    */
  def ngramJaccardPairsSaturatedIncremental(docs: DataFrame,
      isDelta: org.apache.spark.sql.Column, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 2, maxDf: Int = 50,
      threshold: Double = 0.2): DataFrame =
    collapseExpand(docs, textCol, idCol, Some(isDelta))(reps =>
      ngramJaccardPairsIncremental(reps, col("__repd"), textCol, idCol,
        n, maxDf, threshold))

  private def ngramJaccardImpl(docs: DataFrame, textCol: String,
                               idCol: String, n: Int, maxDf: Int,
                               threshold: Double,
                               isDelta: Option[org.apache.spark.sql.Column]): DataFrame =
    jaccardImpl(docs.select(col(idCol).as("id"),
      isDelta.getOrElse(lit(true)).as("is_delta"),
      TextExpressions.shingleSet(col(textCol), n).as("grams")),
      maxDf, threshold, incremental = isDelta.isDefined)

  /** Shared pair machinery over a prepared (id, is_delta, grams) frame.
    *
    * One scan + one shuffle on gram: document frequency comes from a
    * window over the gram partition (sort-based, no giant buffers), so
    * stop-grams are dropped BEFORE any postings list is materialized.
    * (The round-1 formulation scanned the corpus twice and self-joined
    * the full exploded postings — 14 s at sf0.1 vs ~2 s for this plan.)
    * Two-step select below: the gram array must be materialized as a
    * column BEFORE size()/explode() reference it — selecting
    * `size(grams), explode(grams)` in one step plans the size() into
    * the post-Generate projection, re-evaluating the set expression
    * once per exploded row (256k evaluations instead of 5k at sf0.1).
    */
  private def jaccardImpl(prepared: DataFrame, maxDf: Int,
                          threshold: Double,
                          incremental: Boolean): DataFrame =
    jaccardAllPairsImpl(prepared, maxDf, threshold, incremental)

  /** [[ngramJaccardPairsIncremental]] over PRE-SHINGLED postings — the
    * ingest-state entry ([[graft.streaming.Streams.dedupIngestPostingsSink]],
    * s30): callers that persist `(id, grams)` per batch score later
    * batches without re-tokenizing the corpus; only the arriving docs
    * are ever shingled. Scores are identical to the text-input path —
    * the shingle step is deterministic, so stored grams ≡ recomputed
    * grams. */
  def jaccardPairsFromPostings(postings: DataFrame, isDelta: Column,
                               maxDf: Int = 50,
                               threshold: Double = 0.2): DataFrame =
    jaccardAllPairsImpl(
      postings.select(col("id"), isDelta.as("is_delta"), col("grams")),
      maxDf, threshold, incremental = true)

  /** PROBE-BOUNDED incremental scoring over a persisted gram index —
    * the ingest-state shape one step beyond [[jaccardPairsFromPostings]]
    * (which still re-explodes and re-shuffles the whole stored corpus
    * per batch). Inputs are already-exploded posting rows
    * `(gram, id, n_grams)`:
    *
    *  - `delta` — postings of the arriving batch;
    *  - `base`  — the stored index (every prior batch);
    *  - `keptGrams` — the delta's distinct grams whose FULL-corpus
    *    document frequency lies in [2, maxDf] (the caller owns the df
    *    state and the cap; see the s32 sink).
    *
    * The kept-gram set is delta-bounded, so it broadcasts (stats-
    * guarded like the other small-side joins): the base index is
    * consumed by one columnar SCAN filtered through the broadcast —
    * no corpus-sized shuffle, no corpus-sized CPU. Only rows whose
    * gram the delta actually touches ever leave the scan, so per-batch
    * cost is |delta postings| + |candidate postings|, the production
    * ingest shape. Scores are identical to [[ngramJaccardPairsIncremental]]
    * for the same visible corpus: every shared gram of a delta-touching
    * pair is by definition one of the delta's grams, so restricting df
    * lookup and probing to delta grams loses nothing.
    */
  def jaccardPairsProbed(delta: DataFrame, base: DataFrame,
                         keptGrams: DataFrame,
                         threshold: Double = 0.2): DataFrame = {
    val kept =
      if (keptGrams.queryExecution.optimizedPlan.stats.sizeInBytes
            <= BigInt(512L * 1024 * 1024)) broadcast(keptGrams)
      else keptGrams
    val deltaKept = delta.join(kept, Seq("gram"))
    val a = deltaKept.select(col("gram"), col("id").as("doc_a"),
      col("n_grams").as("n_a"))
    val b = base.join(kept, Seq("gram"))
      .select(col("gram"), col("id").as("doc_b"),
        col("n_grams").as("n_b"), lit(false).as("d_b"))
      .unionByName(deltaKept.select(col("gram"), col("id").as("doc_b"),
        col("n_grams").as("n_b"), lit(true).as("d_b")))
    a.join(b, Seq("gram"))
      // delta×base pairs generate once (delta probes, base streams);
      // delta×delta would generate from both orientations — keep one
      .filter(!col("d_b") || col("doc_a") < col("doc_b"))
      // exact length prefilter, same margin discipline as the batch plan
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        greatest(col("n_a"), col("n_b")) * (threshold - 1e-3))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("__ratio", col("shared").cast("double") /
        (col("n_a") + col("n_b") - col("shared")))
      .filter(col("__ratio") >= threshold - 1e-3)
      .select(
        // delta×base orientation is arrival-order, not id-order —
        // canonicalize on output (jaccard is symmetric)
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        round(col("__ratio")
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 4)
          .cast("double").as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** High-threshold path: PPJoin-style PREFIX filtering (Chaudhuri et
    * al. primitive / Xiao et al. PPJoin). Tokens get a global canonical
    * order (ascending document frequency — rarest first); a pair with
    * jaccard >= t must share >= ceil(t'·max(n_a,n_b)) rare grams, so it
    * must collide within the first |rare| - ceil(t'·n) + 1 grams of
    * EACH side's canonical order. Only those prefixes are indexed for
    * the candidate join — at t=0.5 that generates ~4× fewer candidates
    * than full postings (order baskets, sf0.1) — and each surviving
    * pair is verified ROW-LOCALLY via array_intersect on the rare-gram
    * arrays riding along, replacing the 9M-row shared-gram aggregation
    * shuffle with a dropDuplicates over the (small) candidate set.
    * Sets whose rare band is smaller than t'·n can't qualify with ANY
    * partner and are pruned before indexing.
    *
    * Low thresholds make prefixes approach full postings (no win, extra
    * array payload), and on SMALL sets (e.g. order baskets, ≤7 items)
    * the carried verify arrays cost as much as the candidates saved —
    * measured 2.2s vs 1.9s against the all-pairs plan at sf0.1 — so
    * this path is opt-in via `prefixFilter`, not the default.
    */
  private[graft] def jaccardPrefixImpl(prepared: DataFrame, maxDf: Int,
                                threshold: Double,
                                incremental: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = threshold - 1e-3 // same safety margin as the decimal round
    val exploded = prepared
      .select(col("id"), col("is_delta"), size(col("grams")).as("n_grams"),
        explode(col("grams")).as("gram"))
    val rare = exploded
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .filter(col("df").between(2, maxDf))
    // rare-gram array per id in canonical (df, gram) ascending order;
    // struct sort gives rarest-first deterministically.
    val packed = rare
      .groupBy(col("id"), col("is_delta"), col("n_grams"))
      .agg(sort_array(collect_list(struct(col("df"), col("gram")))).as("sg"))
      .select(col("id"), col("is_delta"), col("n_grams"),
        transform(col("sg"), _.getField("gram")).as("rg"))
      // minimum-overlap prune: even a full rare-band match can't reach
      // t when the rare band itself is smaller than t'·n
      .filter(size(col("rg")).cast("double") >= ceil(lit(t) * col("n_grams")))
      .withColumn("prefix",
        slice(col("rg"), lit(1),
          size(col("rg")) - ceil(lit(t) * col("n_grams")).cast("int") + 1))
    // both join sides derive from ONE pinned-count repartition so the
    // scan→df-window→pack chain is computed once and the exchange
    // reused (same trick as the all-pairs path; the explicit
    // numPartitions also exempts the kilobyte-small prefix postings
    // from AQE coalescing before the inflating self-join).
    val p = packed.select(col("id"), col("is_delta"), col("n_grams"),
        col("rg"), explode(col("prefix")).as("gram"))
      .repartition(packed.sparkSession.sessionState.conf.numShufflePartitions,
        col("gram"))
    val a = p.select(col("gram"), col("id").as("doc_a"),
      col("n_grams").as("n_a"), col("rg").as("g_a"), col("is_delta").as("d_a"))
    val b = p.select(col("gram"), col("id").as("doc_b"),
      col("n_grams").as("n_b"), col("rg").as("g_b"), col("is_delta").as("d_b"))
    a.join(b, Seq("gram"))
      .filter(col("doc_a") < col("doc_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          greatest(col("n_a"), col("n_b")) * t)
      .filter(if (incremental) col("d_a") || col("d_b") else lit(true))
      // a pair may collide on several prefix grams; the verification is
      // deterministic per pair, so dedupe BEFORE scoring shuffles less
      // than aggregating shared counts ever could
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("g_a"), col("g_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("shared", size(array_intersect(col("g_a"), col("g_b"))))
      .withColumn("__ratio", col("shared").cast("double") /
        (col("n_a") + col("n_b") - col("shared")))
      .filter(col("__ratio") >= threshold - 1e-3)
      .select(col("doc_a"), col("doc_b"),
        round(col("__ratio")
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 4)
          .cast("double").as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  private[graft] def jaccardAllPairsImpl(prepared: DataFrame, maxDf: Int,
                                  threshold: Double,
                                  incremental: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exploded = prepared
      .select(col("id"), col("is_delta"), size(col("grams")).as("n_grams"),
        explode(col("grams")).as("gram"))
    val rare = exploded
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .filter(col("df").between(2, maxDf))
    // Candidate pairs via a gram-keyed SELF-JOIN of the postings, both
    // sides derived from ONE pinned-count repartition: Spark reuses the
    // exchange (postings computed once), the explicit numPartitions
    // exempts it from AQE coalescing (the postings are kilobyte-small
    // but the join inflates them ~df× — the small-input/huge-output
    // trap, see q70NameMatch), and the codegen'd join beats the
    // earlier double-explode-of-collect_list formulation ~1.5× at the
    // same 9M-candidate volume (order baskets, sf0.1).
    val posted = rare
      .repartition(rare.sparkSession.sessionState.conf.numShufflePartitions,
        col("gram"))
      .select(col("gram"), col("id"), col("n_grams"), col("is_delta"))
    val a = posted.select(col("gram"), col("id").as("doc_a"),
      col("n_grams").as("n_a"), col("is_delta").as("d_a"))
    val b = posted.select(col("gram"), col("id").as("doc_b"),
      col("n_grams").as("n_b"), col("is_delta").as("d_b"))
    a.join(b, Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      // LENGTH prefilter (exact, the set-similarity-join classic):
      // shared <= min(n_a,n_b) and the denominator >= max(n_a,n_b), so
      // jaccard <= min/max — a pair can only reach the threshold when
      // min >= t*max. Evaluated inside the join, it drops mismatched-
      // size pairs BEFORE the 9M-candidate aggregation shuffle. The
      // 1e-3 margin matches the decimal-round margin below, so no pair
      // the final 4-digit round could still lift is lost.
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        greatest(col("n_a"), col("n_b")) * (threshold - 1e-3))
      // incremental mode: base×base pairs never reach the shared-gram
      // aggregation (row-local filter, before any pair shuffles)
      .filter(if (incremental) col("d_a") || col("d_b") else lit(true))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("__ratio", col("shared").cast("double") /
        (col("n_a") + col("n_b") - col("shared")))
      // cheap codegen'd prefilter: the BigDecimal round below is the
      // ONE non-codegen op in this pipeline, and evaluating it on every
      // candidate pair (9M at sf0.1 baskets) dominated the query. The
      // 1e-3 margin over-keeps every row the 4-digit half-up round
      // could still lift to the threshold; the exact decimal filter
      // then decides on the (tiny) survivor set.
      .filter(col("__ratio") >= threshold - 1e-3)
      .select(col("doc_a"), col("doc_b"),
        // decimal-space round: small-integer ratios land exactly on
        // half boundaries where double-rounding rules diverge across
        // engines; decimal(28,12) pins half-up everywhere
        round(col("__ratio")
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 4)
          .cast("double").as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Maximal duplicated-substring spans: for every document, the
    * maximal character runs in which each character lies inside at
    * least one `k`-char window shared verbatim with a DIFFERENT
    * document. This is the exact-substring dedup of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"
    * (ACL 2022), re-expressed for a cluster: their suffix array is a
    * single-machine construction, but the same "duplicated span ≥ k"
    * semantics falls out of a k-gram inverted index — a shape that
    * distributes.
    *
    * Plan: (1) slide a k-char window over each doc (row-local
    * explode, ~len rows per doc — the tokenize-order blowup every
    * text op here already pays); (2) shuffle the 16-byte md5 gram
    * identity (never the gram text) to count DISTINCT source docs per
    * gram — map-side combined, linear, and crucially NEVER expanded
    * into pairs, so a gram shared by a million docs costs one counter,
    * not 10¹² candidates (the q34-family df-cap exists because those
    * tiers need the pairs; this one only needs membership); (3) join
    * position rows back to the shared-gram set on the hash (equi-join;
    * AQE broadcasts it when the dup set is small); (4) one window pass
    * per doc merges overlapping duplicated windows into maximal spans:
    * positions p, p' of k-windows overlap as character intervals iff
    * p' − p ≤ k, so a span breaks where the position gap exceeds k.
    * Per-doc state is bounded by doc length — the partition key is
    * doc_id, so skew is bounded by the longest document, not the
    * hottest gram.
    *
    * Returns one row per (doc, span): doc_id, span_start (1-based),
    * span_end (inclusive), span_chars.
    */
  def duplicateSpans(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id", k: Int = 32): DataFrame =
    duplicateSpansImpl(docs, textCol, idCol, k, only = None)

  /** Ingest-time variant of [[duplicateSpans]]: spans are emitted for
    * DELTA documents only, with gram sharing counted against the full
    * base+delta corpus — "which regions of the arriving documents are
    * already boilerplate" at arrival time. Exactly equal to
    * [[duplicateSpans]] over the same corpus restricted to the delta
    * ids (the restriction happens on the position rows BEFORE the span
    * window, so base documents never pay the merge pass). Used by
    * [[graft.streaming.Streams.spansIngestSink]] (s29), where each doc
    * is scored once, in the micro-batch where it arrives.
    */
  def duplicateSpansIncremental(docs: DataFrame, isDelta: Column,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 32): DataFrame =
    duplicateSpansImpl(docs, textCol, idCol, k,
      only = Some(docs.filter(isDelta).select(col(idCol).as("doc_id"))))

  private def duplicateSpansImpl(docs: DataFrame, textCol: String,
                                 idCol: String, k: Int,
                                 only: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One explicit hash-exchange on the gram identity, consumed by BOTH
    // the distinct-doc count and the position join-back: with identical
    // child plans the physical planner emits a ReusedExchange, so the
    // explode+md5 pass over the full corpus runs ONCE and the second
    // consumer replays shuffle files — spill-safe reuse with no cache
    // pin, which is the 100 TB-friendly version of `.persist()`.
    // unhex(md5): the gram identity shuffles as BINARY(16), not the
    // 32-char hex string — same 128-bit identity (hex↔bytes is a
    // bijection, so groups/joins are EXACTLY the md5 groups the oracle
    // computes), at half the exchange bytes per position row on the
    // dominant corpus-sized shuffle (guide §2.3: narrower keys).
    // spread-for-compute (the q233-family single-split fix): the doc
    // corpus reads as ONE parquet split at bench scale, so the whole
    // explode+md5 gram pass — the query's dominant compute — ran as a
    // single task feeding the gram exchange while 31 cores idled.
    // Round-robin-spreading the doc rows first costs one doc-sized
    // exchange (~1.5 MB here vs the 39 MB gram exchange) and buys
    // full-width gram hashing; a corpus with a split per core is left
    // untouched (the repartition is conditional on the plan arriving
    // with fewer splits than the session has cores).
    val grams = Ann.spreadForCompute(docs
      .filter(length(col(textCol)) >= k)
      .select(col(idCol).as("doc_id"), col(textCol).as("__t")))
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("__t")) - lit(k - 1)))
          .as("pos"), col("__t"))
      .select(col("doc_id"), col("pos"),
        unhex(md5(col("__t").substr(col("pos"), lit(k)))).as("__gh"))
      .repartition(col("__gh"))
    // max(pos) (always ≥ 1, so the extra predicate is a no-op) keeps this
    // branch's column set identical to the join branch's — otherwise
    // column pruning narrows one side of the exchange and the planner
    // could no longer reuse it
    val shared = grams.groupBy(col("__gh"))
      .agg(count_distinct(col("doc_id")).as("__nd"),
        max(col("pos")).as("__maxpos"))
      .filter(col("__nd") >= 2 && col("__maxpos") >= 1)
      .select(col("__gh"))
    val markedAll = grams.join(shared, Seq("__gh"))
      .select(col("doc_id"), col("pos"))
    // incremental restriction: keep only delta-doc position rows (the
    // id set is doc-level and small relative to positions — semi-join
    // prunes before the per-doc span window)
    val marked = only.fold(markedAll)(ids =>
      // no broadcast hint: the delta id set is usually tiny (AQE
      // converts to broadcast at runtime) but is not provably bounded
      markedAll.join(ids.distinct(), Seq("doc_id"), "left_semi"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(wDoc) > k, 1L)
          .otherwise(0L))
      .withColumn("__span", sum(col("__brk"))
        .over(wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__span"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + lit(1)).as("span_chars"))
  }
}
