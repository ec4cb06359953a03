package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded-edit-distance self-join (all pairs with lev <= k within a
  * blocking column), with a statistics-chosen physical plan:
  *
  *  - `blockedPairs` — block on the equality column, broadcast the dim
  *    side, prune per-pair with a length band and a character-set
  *    bitmask before the banded Levenshtein. The right plan while the
  *    BLOCK GROUPS stay small: pair volume is Σ|block|²/2, so it is
  *    quadratic in rows at fixed block cardinality (q70's sf1.0 ratio
  *    of 26.6× decomposes into ~100× true-pair output on the
  *    dup-dense derived data — largely irreducible — on top of the
  *    quadratic candidate term this plan carries).
  *
  *  - `segmentPairs` — PassJoin-style segment inverted index (Li,
  *    Deng, Feng: "PassJoin: A Partition-based Method for Similarity
  *    Joins", PVLDB 5(3), 2011 — public algorithm). Pigeonhole: split
  *    a string into k+1 segments; any string within edit distance k
  *    must contain at least one segment EXACTLY, starting within ±k of
  *    its source position (each edit perturbs at most one segment and
  *    shifts later positions by at most one). So the left side emits
  *    its k+1 segments keyed by (block, length, slot, substring) and
  *    the right side emits every substring a compatible partner could
  *    have to match — lengths within ±k, start within ±k — and the
  *    candidate set is an EQUI-JOIN on that key: recall-complete by
  *    the lemma, linear-ish in rows (bounded per-row emission of
  *    (2k+1)²·(k+1) keys), with all of blockedPairs' cheap guards
  *    applied before the exact verify. This is the 100-TB plan: key
  *    cardinality GROWS with the data, so buckets stay small where the
  *    block join's groups grow linearly (pairs quadratically).
  *
  * Auto mode picks by estimated input size, same convention as
  * [[Rank]]: small inputs take the blocked plan (lowest constant
  * factor, broadcast-sized dim), large inputs the segment plan. The
  * bench forces the segment path to price it honestly.
  *
  * Contract: names must be non-null with length >= k+1 (the segment
  * split needs k+1 non-empty segments; shorter strings would emit
  * empty segments whose buckets are unbounded). Both paths return
  * exactly the pairs (key_a < key_b) with lev <= maxDist — bit-equal
  * outputs, spec-proven.
  */
object EditDistance {

  /** Inputs at or below this ESTIMATED on-disk size take the blocked
    * plan with no further inspection — at dim scale either plan is
    * sub-second and blocked has the lower constant factor.
    */
  val BlockedByteLimit: Long = 64L * 1024 * 1024

  /** Above the byte limit, the choice keys on the statistic that
    * actually blows up: the LARGEST BLOCK GROUP. Blocked work is
    * Σ|block|²/2 pair evaluations — fixed-cardinality blocks (25
    * brands) mean linear data growth is quadratic work growth — but it
    * is embarrassingly parallel and output-bound on dense near-dup
    * data (the round-7 sf1.0 measurement: 51M true pairs, blocked
    * 11.7s vs segment 172s — when the OUTPUT is quadratic, no
    * candidate scheme can be sub-quadratic and the index's constant
    * factor just loses). The segment index wins when one block's pair
    * count alone is a straggler: at 256k rows a single block is ~34G
    * guard evaluations — minutes in one task-set — while segment
    * candidates stay bounded by key sharing. Measured, not asserted:
    * the bench forces the segment path every round.
    */
  val BlockRowLimit: Long = 256L * 1024

  /** Even with every block under [[BlockRowLimit]], the blocked plan's
    * BROADCAST is only legal while the whole dim side fits an
    * executor: a large input of many small blocks passes the max-block
    * gate yet would broadcast the full dataset into Spark's 8 GB hard
    * limit. Above this estimated size the blocked plan keeps its
    * per-block join but runs it as a co-partitioned SHUFFLE join on
    * the block key instead of a broadcast — same pair volume, no
    * single-node materialization.
    */
  val BroadcastSafeByteLimit: Long = 512L * 1024 * 1024

  /** Character-set bitmask, computed ONCE per row before any join: one
    * edit changes the char set by at most 2 membership bits, so
    * lev(a,b) <= k ⇒ bit_count(mask_a XOR mask_b) <= 2k. Codegen'd;
    * mod-64 collisions only weaken the filter, never the recall.
    */
  def charMask(c: Column): Column =
    aggregate(transform(split(c, ""),
        ch => call_function("shiftleft", lit(1L), ascii(ch) % 64)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))

  /** All (key_a < key_b, lev) pairs with lev <= maxDist sharing
    * `blockCol`. `df` columns: keyCol (unique id), nameCol, blockCol.
    */
  def pairs(df: DataFrame, keyCol: String, nameCol: String,
            blockCol: String, maxDist: Int = 3,
            segment: Option[Boolean] = None): DataFrame =
    segment match {
      case Some(true) => segmentPairs(df, keyCol, nameCol, blockCol, maxDist)
      case Some(false) => blockedPairs(df, keyCol, nameCol, blockCol, maxDist)
      case None =>
        val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
        if (est <= BlockedByteLimit)
          blockedPairs(df, keyCol, nameCol, blockCol, maxDist)
        else {
          // light stats job: one column, parquet-pruned, map-side agg
          val maxBlock = df.groupBy(col(blockCol)).count()
            .agg(max(col("count"))).collect()(0).getLong(0)
          if (maxBlock > BlockRowLimit)
            segmentPairs(df, keyCol, nameCol, blockCol, maxDist)
          else blockedPairs(df, keyCol, nameCol, blockCol, maxDist,
            broadcastDim = est <= BroadcastSafeByteLimit)
        }
    }

  private def sides(df: DataFrame, keyCol: String, nameCol: String,
                    blockCol: String): (DataFrame, DataFrame) = {
    val p = df.select(col(blockCol).as("__blk"), col(keyCol).as("__key"),
      col(nameCol).as("__name"), charMask(col(nameCol)).as("__mask"))
    (p.select(col("__blk"), col("__key").as("key_a"),
        col("__name").as("name_a"), col("__mask").as("mask_a")),
      p.select(col("__blk"), col("__key").as("key_b"),
        col("__name").as("name_b"), col("__mask").as("mask_b")))
  }

  private def guards(maxDist: Int): Column =
    col("key_a") < col("key_b") &&
      abs(length(col("name_a")) - length(col("name_b"))) <= maxDist &&
      bit_count(col("mask_a").bitwiseXOR(col("mask_b"))) <= 2 * maxDist

  private def verified(cand: DataFrame, maxDist: Int): DataFrame =
    cand
      // banded O(k·n) DP, bails out (-1) once the distance provably
      // exceeds k; its own Project above the guard Filter so it only
      // evaluates on guard survivors
      .withColumn("lev", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("lev") >= 0)
      .select(col("key_a"), col("key_b"), col("lev"))

  def blockedPairs(df: DataFrame, keyCol: String, nameCol: String,
                   blockCol: String, maxDist: Int = 3,
                   broadcastDim: Boolean = true): DataFrame = {
    val (a, b) = sides(df, keyCol, nameCol, blockCol)
    // The block self-join expands quadratically per block before
    // filtering: the probe side must be spread across the cluster
    // FIRST or the expansion (and every per-pair predicate) funnels
    // through however few partitions the scan produced. The partition
    // count is pinned (AQE would coalesce a kilobyte-sized shuffle
    // back to one partition, re-serializing the expansion — the
    // classic small-input/huge-output trap).
    val spread = a.sparkSession.sessionState.conf.numShufflePartitions
    val joined =
      if (broadcastDim)
        a.repartition(spread, col("key_a")).join(broadcast(b), Seq("__blk"))
      else
        // over BroadcastSafeByteLimit: co-partition both sides on the
        // block key — per-partition pair work is bounded by the
        // max-block gate that admitted this plan, and nothing
        // materializes on one node
        a.repartition(spread, col("__blk"))
          .join(b.repartition(spread, col("__blk")), Seq("__blk"))
    verified(joined.filter(guards(maxDist)), maxDist)
  }

  def segmentPairs(df: DataFrame, keyCol: String, nameCol: String,
                   blockCol: String, maxDist: Int = 3): DataFrame =
    segmentImpl(df, keyCol, nameCol, blockCol, maxDist, probeDelta = None)

  /** Incremental segment join for ingest: emit exactly the pairs with
    * lev <= maxDist that TOUCH the delta rows (`isDelta`) — delta×base
    * and delta×delta — never re-pairing base×base. The segment index
    * is built over the WHOLE frame but only delta rows probe it, so
    * per-batch candidate volume is |delta|·(bounded emission), not
    * corpus². Because the probe side is no longer the symmetric self-
    * join, partner lengths enumerate BOTH directions (l ∈ [lb−k,
    * lb+k]) — the one-directional halving in [[segmentPairs]] relies
    * on every row probing, which is exactly what incremental mode
    * gives up. Pair (base, delta) generates once (base indexed, delta
    * probes); (delta, delta') generates from both probes and the
    * canonical distinct collapses it. Used by the s31 ingest sink;
    * per-batch union differential vs [[pairs]] proven in StreamingSpec.
    */
  def segmentPairsIncremental(df: DataFrame, isDelta: Column,
                              keyCol: String, nameCol: String,
                              blockCol: String, maxDist: Int = 3): DataFrame =
    segmentImpl(df, keyCol, nameCol, blockCol, maxDist,
      probeDelta = Some(isDelta))

  private def segmentImpl(df: DataFrame, keyCol: String, nameCol: String,
                          blockCol: String, maxDist: Int,
                          probeDelta: Option[Column]): DataFrame = {
    val k = maxDist
    val s = k + 1
    // Both exploded sides are NARROW — (block, length, slot, substring,
    // key) only. Shuffling the full name string and mask with every
    // exploded row measured ~35% of the path's wall-clock at sf0.1;
    // names are re-attached by key AFTER the candidate pairs are
    // deduplicated, so each string crosses the wire once per final
    // pair, not once per (slot, length, window) emission.
    val p = df.select(col(blockCol).as("__blk"), col(keyCol).as("__key"),
      col(nameCol).as("__name"),
      probeDelta.getOrElse(lit(true)).as("__probe"))
    val a = p.select(col("__blk"), col("__key").as("key_a"),
      col("__name").as("name_a"))
    val b = p.filter(col("__probe")).select(col("__blk"),
      col("__key").as("key_b"), col("__name").as("name_b"))
    // symmetric self-join: one-directional lengths (see the lemma note
    // below); incremental: only delta probes, so enumerate both ways
    val lUpper = if (probeDelta.isDefined) s"lb + $k" else "lb"
    // slot i of a length-l split: len_i = l div s + (i < l % s),
    // start_i (0-based) = i*(l div s) + least(i, l % s).
    // The length >= k+1 contract is enforced here rather than assumed:
    // a shorter name would split into empty segments (unbounded join
    // buckets) and, on the probe side, make the one-directional length
    // sequence run DESCENDING into bogus partner lengths — out-of-
    // contract rows now simply emit no pairs, matching the documented
    // behavior instead of corrupting the index.
    val aSeg = a
      .filter(length(col("name_a")) >= s)
      .withColumn("la", length(col("name_a")))
      .withColumn("__seg", explode(expr(
        s"""transform(sequence(0, ${s - 1}), i -> named_struct(
           |  'slot', i,
           |  'sub', substring(name_a,
           |    i * (la div $s) + least(i, la % $s) + 1,
           |    (la div $s) + if(i < la % $s, 1, 0))))""".stripMargin)))
      .select(col("__blk"), col("la"), col("__seg.slot").as("slot"),
        col("__seg.sub").as("sub"), col("key_a"))
    // right side: every substring a compatible partner could need.
    // Partner lengths are enumerated ONE-DIRECTIONALLY, l ∈ [lb−k, lb]:
    // the segment lemma (≥1 of the k+1 segments of x survives k edits
    // and appears in y) holds for whichever side is indexed, so probing
    // only shorter-or-equal partners still generates every unordered
    // pair exactly once where la < lb — halving the candidate volume the
    // two-directional ±k enumeration paid — and twice where la = lb
    // (both directions), which the key canonicalization + pre-verify
    // candidate distinct below collapse. For slot i the MULTI-MATCH-AWARE
    // position window (PassJoin §4.2): with p the slot's source start
    // and Δ = lb − l, a match can only start in
    //   [max(p − i, p + Δ − (k − i)),  min(p + i, p + Δ + (k − i))]
    // — at most i edits precede slot i (each shifts the start by ≤ 1)
    // and at most k − i follow it (bounding the start through the
    // length delta). Width ≤ 2·min(i, k−i) + |Δ| + 1, versus the ±k
    // superset's uniform 2k + 1: per-row emission drops several-fold
    // at identical recall (the lemma is exact, and the spec proves
    // bit-equality against the blocked plan). The window is also
    // clamped to the valid substring range, so no null filtering is
    // needed; array_distinct still dedupes repeated (l, slot, sub)
    // keys before the explode multiplies them.
    val bSub = b
      .filter(length(col("name_b")) >= s)
      .withColumn("lb", length(col("name_b")))
      .withColumn("__sub", explode(expr(
        s"""array_distinct(flatten(transform(
           |  sequence(greatest($s, lb - $k), $lUpper), l ->
           |  flatten(transform(sequence(0, ${s - 1}), i ->
           |    if(greatest(i * (l div $s) + least(i, l % $s) - i,
           |          i * (l div $s) + least(i, l % $s) + lb - l - ($k - i),
           |          0) <=
           |       least(i * (l div $s) + least(i, l % $s) + i,
           |          i * (l div $s) + least(i, l % $s) + lb - l + ($k - i),
           |          lb - ((l div $s) + if(i < l % $s, 1, 0))),
           |      transform(sequence(
           |          greatest(i * (l div $s) + least(i, l % $s) - i,
           |            i * (l div $s) + least(i, l % $s) + lb - l - ($k - i),
           |            0),
           |          least(i * (l div $s) + least(i, l % $s) + i,
           |            i * (l div $s) + least(i, l % $s) + lb - l + ($k - i),
           |            lb - ((l div $s) + if(i < l % $s, 1, 0)))), j ->
           |        named_struct('la', l, 'slot', i,
           |          'sub', substring(name_b, j + 1,
           |            (l div $s) + if(i < l % $s, 1, 0)))),
           |      array()))))))""".stripMargin)))
      .select(col("__blk"), col("__sub.la").as("la"),
        col("__sub.slot").as("slot"), col("__sub.sub").as("sub"),
        col("key_b"))
    // A true pair matches on several (slot, l) keys (×2.4 duplication
    // measured at sf0.1), so canonicalize (key order can disagree with
    // the one-directional length order — least/greatest, lev is
    // symmetric) and dedupe the NARROW key pairs FIRST: the banded
    // Levenshtein then runs once per unique pair instead of once per
    // candidate emission. (The earlier note about distinct-before-
    // verify being 3× slower applied to distincting WIDE rows that
    // carried both name strings; narrow 16-byte key pairs shuffle
    // cheaply.)
    val cand = aSeg.join(bSub, Seq("__blk", "la", "slot", "sub"))
      .filter(col("key_a") =!= col("key_b"))
      .select(least(col("key_a"), col("key_b")).as("key_a"),
        greatest(col("key_a"), col("key_b")).as("key_b"))
      .distinct()
    // re-attach names + masks by key for the guards and the verify —
    // broadcast while the name table fits an executor, shuffle join
    // beyond (the deduped pair side is narrow either way)
    val names = p.select(col("__key"), col("__name"),
      charMask(col("__name")).as("__mask"))
    val attach: DataFrame => DataFrame =
      if (names.queryExecution.optimizedPlan.stats.sizeInBytes
            <= BigInt(BroadcastSafeByteLimit)) broadcast
      else identity
    verified(cand
      .join(attach(names.select(col("__key").as("key_a"),
        col("__name").as("name_a"), col("__mask").as("mask_a"))), Seq("key_a"))
      .join(attach(names.select(col("__key").as("key_b"),
        col("__name").as("name_b"), col("__mask").as("mask_b"))), Seq("key_b"))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= maxDist &&
        bit_count(col("mask_a").bitwiseXOR(col("mask_b"))) <= 2 * maxDist),
      maxDist)
  }

  /** Sub-quadratic JARO–WINKLER linkage: the 100×-scale tier behind
    * q189's exact blocked contract. Candidates come from shared
    * WINNOWING fingerprints (char k-gram hash minima — two names at
    * jw ≥ 0.92 share most of their k-grams, hence fingerprints), with
    * a df cap dropping ubiquitous fingerprints exactly like the
    * gram-index dedup's stop-gram cap; only candidates pay the
    * O(|a|·|b|) native rerank. Pair volume is bounded by fingerprint
    * bucket density instead of block size² — the same probe-bounded
    * shape as [[graft.operators.Dedup.jaccardPairsProbed]]. No brand
    * blocking: this tier recalls cross-block twins the exact contract
    * deliberately scopes out, so its output is a SUPERSET domain;
    * recall against the exact tier is spec-measured, and the bench
    * prices it as x_namelink_winnow every round.
    *
    * The absolute df window alone does NOT survive a vocabulary that
    * densifies with corpus size: on the ×10 derived fixture every
    * global bucket crossed `maxDf` and the tier silently returned
    * ZERO candidates (caught r15 — the forced bench entry was pricing
    * an empty join). The global tier therefore UNIONS a rarest-r
    * prefix stage (see [[WinnowPrefixR]]): each name always keeps its
    * r rarest df ≥ 2 fingerprints even when every bucket exceeds the
    * cap, so recall degrades to the prefix-filter bound instead of
    * collapsing. Recall is monotone vs the previous behavior (the
    * union only adds candidates); the blocked variant
    * ([[jwPairsWinnowBlocked]]) keeps pure per-(fp, block) df-capping,
    * whose in-block recall guarantee needs no prefix rescue.
    *
    * Precondition: `keyCol` → `nameCol` is functional (one name per
    * key; a repeated identical row repeats its pairs, as in a
    * self-join). A key with two names links under the union of their
    * fingerprints and is attached to both names, which matches no
    * exact plan.
    */
  def jwPairsWinnow(df: DataFrame, keyCol: String, nameCol: String,
                    threshold: Double = 0.92, k: Int = 3, window: Int = 4,
                    maxDf: Int = 1000,
                    prefixMaxDf: Int = 4000): DataFrame =
    jwWinnowImpl(df, keyCol, nameCol, Nil, threshold, k, window, maxDf,
      prefixMaxDf)

  /** Rarest-r prefix width for the global winnow tier: every name
    * keeps its r lowest-df (≥ 2) fingerprints REGARDLESS of the
    * absolute df cap — the PPJoin/prefix-filtering discipline. The
    * ×10-derived containment spec (every base exact pair recalled
    * through buckets the absolute cap would drop wholesale) pins
    * r = 4 as sufficient; the prefix buckets themselves stay small
    * because rarest-first selection concentrates names on their most
    * discriminative grams, and the independent `prefixMaxDf` backstop
    * guards the adversarial all-names-identical pile (where the
    * near-dup tiers, not a JW matcher, are the right tool).
    */
  val WinnowPrefixR: Int = 4

  /** Per-JVM suffix for the rescue backstop's observed-metrics name —
    * observation names must be unique within one query execution, and
    * a composed plan could embed two global winnow tiers.
    */
  private val rescueObsId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Per-block row cap for the exact blocked JW self-join behind q189.
    * One hot block above the cap pays >= cap²/2 O(|a|·|b|) JW
    * evaluations inside a single join task-set — the quadratic
    * candidate term that made q189 the #2 sf1 query (46.8s, r12) when
    * derived-scale block densities rose 10×. 512 keeps organic sf0.1
    * maxima (~128/block, measured) on the exact plan while a ×10
    * fixture (~1.3k/block) flips to the winnow prefilter. Same
    * convention as [[BlockRowLimit]] for the Levenshtein family.
    */
  val JwBlockRowLimit: Long = 512L

  /** Exact blocked JW linkage: equi-join on the composite block key,
    * key_a < key_b, one native [[graft.functions.StringSim]] scoring
    * per surviving pair. Pair volume is Σ|block|²/2 — the right plan
    * while block groups stay small (see [[JwBlockRowLimit]]).
    */
  def jwPairsBlocked(df: DataFrame, keyCol: String, nameCol: String,
                     blockCols: Seq[String],
                     threshold: Double = 0.92): DataFrame = {
    val cond = blockCols
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col(s"a.$keyCol") < col(s"b.$keyCol")
    df.as("a").join(df.as("b"), cond)
      .filter(jwLengthGuard(col(s"a.$nameCol"), col(s"b.$nameCol"), threshold))
      .select(col(s"a.$keyCol").as("key_a"), col(s"b.$keyCol").as("key_b"),
        graft.functions.StringSim.jw(col(s"a.$nameCol"), col(s"b.$nameCol"))
          .as("sim_raw"))
      .filter(col("sim_raw") >= threshold)
      .select(col("key_a"), col("key_b"),
        graft.functions.Num.decRound(col("sim_raw"), 6).as("sim"))
  }

  /** Winnow-prefiltered JW linkage RESTRICTED to the block domain —
    * the high-density alternative behind [[jwPairs]]'s guard. Same
    * candidate mechanics as [[jwPairsWinnow]] but the candidate join
    * requires block equality, and the df cap is computed PER
    * (fingerprint, block) bucket: a blocked pair sharing a fingerprint
    * has per-block df >= 2 by construction, so per-block df-capping
    * keeps at least every fingerprint the global cap keeps for
    * in-block pairs — recall on the blocked domain is >= the global
    * tier's (spec-measured 100% on organic and derived fixtures).
    * Candidate volume is bounded by fingerprint-bucket density (df
    * cap), not block size² — sub-quadratic where the exact plan
    * explodes.
    *
    * Precondition: `keyCol` → `nameCol` is functional. A key may sit
    * under several block tuples: its pairs are linked within each
    * tuple separately, as [[jwPairsBlocked]] links them (each emission
    * dedups over the fingerprints of one (key, blocks) row, not of the
    * key).
    */
  def jwPairsWinnowBlocked(df: DataFrame, keyCol: String, nameCol: String,
                           blockCols: Seq[String],
                           threshold: Double = 0.92, k: Int = 3,
                           window: Int = 4, maxDf: Int = 1000): DataFrame =
    jwWinnowImpl(df, keyCol, nameCol, blockCols, threshold, k, window, maxDf)

  /** Stats-guarded dispatcher for blocked JW linkage (q189), the
    * [[pairs]] discipline applied to the Jaro–Winkler family: small
    * inputs take the exact blocked plan with no inspection; above the
    * byte limit a light one-column stats job measures the LARGEST
    * block group, and any block over [[JwBlockRowLimit]] flips the
    * plan to the winnow prefilter. Both paths stay priced in the
    * bench (q189 vs x_namelink_winnow / x_namelink_winnow_blocked);
    * `winnow` forces a path for tests and pricing.
    *
    * Calibration (measured on the ×10 derived fixture, local[32]):
    * dup-dense data is OUTPUT-BOUND — 16.5M true pairs of 101M
    * candidates — and there the exact blocked plan with the
    * codegen'd byte-level [[graft.functions.StringSim]] wins (~22s
    * noop-timed vs ~50s+ for the winnow prefilter, whose per-copy
    * tag k-grams form dense fingerprint buckets). The byte gate
    * keeps such small-catalog/dense-block inputs exact; the winnow
    * flip targets the organic regime (large catalog AND a hot block)
    * where candidates are quadratic but true pairs are sparse — the
    * only regime where blocked goes quadratic-dead at 100×. The
    * winnow tier's recall is a MEASURED contract: 100% (exact output
    * equality, 124,806/124,806 pairs at sf0.1) on every organic sf,
    * 371/16.5M missing on the ×10 tag-derived fixture — the miss mode
    * is borderline-sim cross-source pairs whose shared fingerprints
    * are all df-capped, a fixture artifact of the shared per-copy
    * tags. Spec-pinned by the forced-path equality test.
    *
    * Precondition for both paths: `keyCol` → `nameCol` is functional;
    * a key may repeat under several block tuples (see
    * [[jwPairsWinnowBlocked]]).
    */
  def jwPairs(df: DataFrame, keyCol: String, nameCol: String,
              blockCols: Seq[String], threshold: Double = 0.92,
              winnow: Option[Boolean] = None): DataFrame =
    winnow match {
      case Some(true) =>
        jwPairsWinnowBlocked(df, keyCol, nameCol, blockCols, threshold)
      case Some(false) =>
        jwPairsBlocked(df, keyCol, nameCol, blockCols, threshold)
      case None =>
        val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
        if (est <= BlockedByteLimit)
          jwPairsBlocked(df, keyCol, nameCol, blockCols, threshold)
        else {
          // light stats job: block columns only, map-side agg
          val maxBlock = df.groupBy(blockCols.map(col): _*).count()
            .agg(max(col("count"))).collect()(0).getLong(0)
          if (maxBlock > JwBlockRowLimit)
            jwPairsWinnowBlocked(df, keyCol, nameCol, blockCols, threshold)
          else jwPairsBlocked(df, keyCol, nameCol, blockCols, threshold)
        }
    }

  /** The winnow tier's shared frames: distinct (key, name, fp[, blocks])
    * exploded fingerprints, their df counts, and the df-windowed
    * candidate stream. Deliberately NOT materialized (persist /
    * localCheckpoint) despite the multiple references: the self-join's
    * two sides are identical subtrees, so ReuseExchange already
    * evaluates the candidate exchange ONCE, and the remaining repeat
    * references re-run only the cheap row-local explode — measured
    * r16 at sf1 (52.3M pairs): declarative plan ~52s, an eager
    * localCheckpoint of fp+candidates ~240s (the barrier writes the
    * multi-GB frame through the block manager and disables the
    * exchange reuse it was meant to emulate).
    */
  private def winnowFrames(df: DataFrame, keyCol: String, nameCol: String,
                           blockCols: Seq[String], k: Int, window: Int,
                           maxDf: Int): (DataFrame, DataFrame, DataFrame) = {
    val blks = blockCols.map(col)
    val names = df.select(col(keyCol).as("__key") +:
      col(nameCol).as("__name") +: blks: _*)
    // NARROW fingerprint rows: (key, len, fp[, blocks]) only. The name
    // string used to ride along — and a Distinct cannot be
    // column-pruned, so every exploded fingerprint row shipped its
    // full name through the distinct exchange and every downstream
    // join, only for the candidate projection to discard it (names
    // re-attach by key after the pair dedup). key → (name, len) is
    // functional, so the distinct sets are in bijection and the df
    // counts, windows and candidates are identical; the 4-byte length
    // rides along to power the emission-time JW length guard.
    val fp = names.select(col("__key") +:
        length(col("__name")).as("__len") +:
        explode(graft.functions.TextExpressions
          .winnowFp(col("__name"), k, window)).as("__fp") +: blks: _*)
      .distinct()
    val dfs = fp.groupBy(col("__fp") +: blks: _*)
      .agg(count(lit(1)).as("__df"))
    val kept = dfs.filter(col("__df").between(2L, maxDf.toLong))
      .select(col("__fp") +: blks: _*)
    (fp, dfs, fp.join(kept, "__fp" +: blockCols))
  }

  /** Rarest-r prefix frame for names the global df window dropped
    * wholesale — see [[jwWinnowImpl]]'s rescue comment for the recall
    * contract. One bounded TopK aggregation, no row_number window.
    */
  private def rescuePrefix(fp: DataFrame, windowed: DataFrame,
                           dfs: DataFrame): DataFrame = {
    val uncovered = fp.join(
      windowed.select(col("__key")).distinct(), Seq("__key"), "left_anti")
    uncovered
      .join(dfs.filter(col("__df") >= 2L), Seq("__fp"))
      .groupBy(col("__key"))
      .agg(graft.functions.TopK.topK(-col("__df"), col("__fp"),
          WinnowPrefixR).as("__top"),
        first(col("__len")).as("__len"))
      .select(col("__key"), col("__len"),
        explode(col("__top")("_2")).as("__fp"))
  }

  /** Pull-based rescue diagnostic for the global winnow tier: ONE row
    * — (n_names, n_uncovered, rescued_fps, dropped_fps) for the given
    * geometry. `dropped_fps > 0` means the prefixMaxDf backstop
    * discarded rescued fingerprint buckets wholesale — the one
    * remaining way this tier can silently under-recall (the r15
    * zero-collapse signature one level up), which is why the
    * DedupRecallGate runs this audit at every scale fixture. Shares
    * [[winnowFrames]] / [[rescuePrefix]] with the production plan, so
    * the audit cannot drift from what the tier actually executes.
    */
  def jwWinnowRescueStats(df: DataFrame, keyCol: String, nameCol: String,
                          k: Int = 3, window: Int = 4, maxDf: Int = 1000,
                          prefixMaxDf: Int = 4000): DataFrame = {
    val (fp, dfs, windowed) = winnowFrames(df, keyCol, nameCol, Nil,
      k, window, maxDf)
    val prefix = rescuePrefix(fp, windowed, dfs)
    val pgrp = prefix.groupBy(col("__fp")).agg(count(lit(1)).as("__pdf"))
    val names = fp.select(col("__key")).distinct().count()
    val unc = prefix.select(col("__key")).distinct().count()
    pgrp.agg(
        sum(when(col("__pdf") > prefixMaxDf.toLong, 1L).otherwise(0L))
          .as("dropped_fps"),
        count(lit(1)).as("rescued_fps"))
      .select(lit(names).as("n_names"), lit(unc).as("n_uncovered"),
        coalesce(col("rescued_fps"), lit(0L)).as("rescued_fps"),
        coalesce(col("dropped_fps"), lit(0L)).as("dropped_fps"))
  }

  private def jwWinnowImpl(df: DataFrame, keyCol: String, nameCol: String,
                           blockCols: Seq[String], threshold: Double,
                           k: Int, window: Int, maxDf: Int,
                           prefixMaxDf: Int = 4000): DataFrame = {
    val (fp, dfs, windowed) =
      winnowFrames(df, keyCol, nameCol, blockCols, k, window, maxDf)
    val f2 =
      if (blockCols.nonEmpty) windowed
      else {
        // global tier: RESCUE stage for names the df window dropped
        // entirely — on a corpus whose buckets densify with size (×10
        // derived fixture, r15) every global bucket exceeded maxDf and
        // the tier silently returned ZERO candidates. A name with no
        // in-window fingerprint keeps its WinnowPrefixR rarest df ≥ 2
        // fingerprints instead (prefix-filtering discipline), so
        // recall degrades to the prefix bound instead of collapsing.
        // Covered names are untouched: a pair with a covered member
        // either shares an in-window bucket (the windowed tier has
        // BOTH members — bucket membership is name-independent) or
        // shared only dense buckets, which the old code lost too.
        // Rescue rows are keyed on uncovered names only, so the
        // organic-corpus plan (few/no uncovered names) pays one cheap
        // anti-join. Rarest-r selection is a BOUNDED TopK aggregation
        // (k-capped buffer, map-side combine), not a row_number window:
        // the window plan shuffles and sorts every (name, fp, df) row
        // before discarding all but r, the aggregate ships ≤ r entries
        // per (name, partition) — ordering contract identical
        // (df ASC, fp ASC on ties ≡ TopKAgg's metric DESC / id ASC
        // with metric = −df; (key, fp) rows are distinct, so the
        // tie-break is total and the selected prefix is byte-identical
        // to the window plan's).
        val prefix = rescuePrefix(fp, windowed, dfs)
        // backstop: an adversarial pile of near-identical names can
        // still concentrate a prefix bucket; prefixMaxDf bounds its
        // cost while staying far above any organic prefix density.
        // Dropping a rescued bucket is the one remaining way this tier
        // can silently under-recall, so the drop is COUNTED: the
        // observed-metrics row (one per execution, computed in-stream —
        // no extra job) reports how many rescued fingerprints the
        // backstop discarded and how many survived; read it via
        // `df.queryExecution.observedMetrics` or a
        // QueryExecutionListener. A nonzero `dropped_fps` with sparse
        // expected output is the r15 zero-collapse signature one level
        // up — the DedupRecallGate audits exactly that.
        val pgrp = prefix.groupBy(col("__fp"))
          .agg(count(lit(1)).as("__pdf"))
          .observe(
            s"winnow_rescue_${rescueObsId.getAndIncrement()}",
            sum(when(col("__pdf") > prefixMaxDf.toLong, 1L).otherwise(0L))
              .as("dropped_fps"),
            count(lit(1)).as("rescued_fps"))
        val pkept = pgrp
          .filter(col("__pdf").between(2L, prefixMaxDf.toLong))
          .select(col("__fp"))
        windowed.select(col("__fp"), col("__key"), col("__len"))
          .unionByName(prefix.join(pkept, Seq("__fp"))
            .select(col("__fp"), col("__key"), col("__len")))
      }
    // Dedup at EMISSION time, not with a post-join distinct (r17): the
    // distinct shuffled every candidate EMISSION — a pair sharing m
    // fingerprints crossed the wire m times (measured at sf0.1: 18.5 M
    // emission rows / 147 MB through the dedup exchange for ~6 M unique
    // pairs). Instead each row learns its (key, blocks) row's full
    // fingerprint set (one vertex-sized window exchange) and a pair is
    // emitted ONLY from the minimum shared fingerprint — exactly once
    // per shared block tuple, no exchange at all on the pair stream.
    // The set is per (key, blocks), not per key: a key under two block
    // tuples would otherwise pick its minimum from a fingerprint kept
    // only in the other tuple's bucket, and the pair would be dropped.
    // Two row-local prunes run before the intersect: key order and the
    // JW length guard (necessary for jw ≥ t, see [[jwLengthGuard]] —
    // lengths ride the narrow fingerprint rows), so guard-failing pairs
    // never pay the intersect or reach the attach joins. The emitted
    // pair SET is identical to the distinct plan's: min-shared-fp picks
    // one emission per pair, and the guard only removes pairs the
    // post-attach guard discarded anyway (spec-pinned equality vs the
    // exact tier).
    // The pair stream no longer passes through any exchange after the
    // join (the dedup distinct is gone and the name attach broadcasts),
    // so the join input MUST be spread with a PINNED partition count —
    // its few-MB inputs otherwise AQE-coalesce to one partition and the
    // whole expansion + intersect + JW rerank serializes into a single
    // task (measured: wall 26.0 s ≈ CPU 24.6 s on one core; the
    // blockedPairs small-input/huge-output trap).
    val spread = df.sparkSession.sessionState.conf.numShufflePartitions
    val wKey = Window.partitionBy(col("__key") +: blockCols.map(col): _*)
    val f3 = f2.withColumn("__fps",
        sort_array(collect_set(col("__fp")).over(wKey)))
      .repartition(spread, col("__fp"))
    val cond = ("__fp" +: blockCols)
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.__key") < col("b.__key")
    val rGuard = 5.0 * threshold - 4.0
    val lenGuard =
      if (rGuard <= 0.0) lit(true)
      else least(col("a.__len"), col("b.__len")).cast("double") >=
        lit(rGuard) * greatest(col("a.__len"), col("b.__len")).cast("double")
    val cand = f3.as("a").join(f3.as("b"), cond)
      .filter(lenGuard && col("a.__fp") === array_min(
        array_intersect(col("a.__fps"), col("b.__fps"))))
      .select(col("a.__key").as("key_a"), col("b.__key").as("key_b"))
    val names = df.select(col(keyCol).as("__key"), col(nameCol).as("__name"))
    val attach: DataFrame => DataFrame =
      if (names.queryExecution.optimizedPlan.stats.sizeInBytes
            <= BigInt(BroadcastSafeByteLimit)) broadcast
      else identity
    cand
      .join(attach(names.select(col("__key").as("key_a"),
        col("__name").as("name_a"))), Seq("key_a"))
      .join(attach(names.select(col("__key").as("key_b"),
        col("__name").as("name_b"))), Seq("key_b"))
      .filter(jwLengthGuard(col("name_a"), col("name_b"), threshold))
      .select(col("key_a"), col("key_b"),
        graft.functions.StringSim.jw(col("name_a"), col("name_b"))
          .as("sim_raw"))
      .filter(col("sim_raw") >= threshold)
      .select(col("key_a"), col("key_b"),
        graft.functions.Num.decRound(col("sim_raw"), 6).as("sim"))
  }

  /** NECESSARY length condition for jw(a, b) ≥ t — a cheap prune
    * before the O(|a|·|b|) scoring. Derivation: matches m ≤ min(|a|,
    * |b|), so jaro ≤ (2 + min/max)/3; the Winkler boost is at most
    * 0.1·4·(1−jaro), so jw ≤ 0.6·jaro + 0.4; combining, jw ≥ t forces
    * min/max ≥ 5t − 4 (conservative under FP rounding: the literal
    * evaluates ≤ the exact bound). Vacuous for t ≤ 0.8 — the guard is
    * the constant-true literal there.
    */
  private def jwLengthGuard(a: Column, b: Column, threshold: Double): Column = {
    val r = 5.0 * threshold - 4.0
    if (r <= 0.0) lit(true)
    else least(length(a), length(b)).cast("double") >=
      lit(r) * greatest(length(a), length(b)).cast("double")
  }
}
