package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics on DataFrames: PageRank and BFS min-hop
  * frontier expansion, the two canonical "loop over a join" shapes a
  * Pregel-style engine runs — expressed here as driver-side iteration
  * over declarative plans, so Catalyst optimizes every step and AQE
  * re-plans each materialized stage.
  *
  * Scale design: the per-iteration state (rank / visited frontier) is
  * one row per VERTEX while edges stay put — at sf0.1 the vertex frame
  * broadcasts and the edge table never shuffles; at billions of
  * vertices the SAME plans run with the broadcast hint dropped (both
  * sides hash-partition on the join key, and the iteration reuses that
  * partitioning). The hint is not hardcoded: `broadcastState` selects
  * the path explicitly, and when unset each operator derives it from
  * the measured vertex count against `BroadcastVertexLimit`, so a
  * billion-vertex graph automatically takes the shuffle path instead
  * of collecting vertex state to the driver. Iterations are bounded
  * and small (5 and 3), so plain chained lineage stays shallow — each
  * iteration materializes via localCheckpoint to keep the growing plan
  * from re-optimizing the whole history every step.
  */
object Graph {

  /** Vertex-state rows above which the iteration joins switch from
    * broadcast to shuffle. 5M rows of (key, rank/hop) is ~100 MB
    * serialized — comfortably under Spark's 8 GB broadcast hard limit
    * and small enough to ship to every executor once per iteration;
    * past it, shipping beats nothing but a hash-partitioned join
    * that co-locates with the (already partitioned) edge list.
    */
  val BroadcastVertexLimit: Long = 5L * 1000 * 1000

  /** Undirected-as-symmetric co-occurrence edges: distinct (src, dst)
    * part pairs sharing an order. The self-join is bounded by basket
    * size (≤7 lines/order in TPC-H shape), so the edge count is
    * O(orders · basket²) — linear in data, never quadratic in parts.
    */
  def coOrderEdges(lineitem: DataFrame): DataFrame = {
    // both self-join sides derive from ONE pinned-count repartition so
    // Spark reuses the exchange — one 600k-row shuffle instead of two,
    // and the explicit numPartitions exempts the (small-input,
    // join-inflated-output) frame from AQE coalescing. Measured 2.2s vs
    // 6.0s for the naive two-scan join at sf0.1.
    val part = lineitem
      .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      .repartition(
        lineitem.sparkSession.sessionState.conf.numShufflePartitions, col("k"))
    val a = part.select(col("k"), col("p").as("src"))
    val b = part.select(col("k"), col("p").as("dst"))
    // the dedup exchange IS the consumer layout: hash(dst) clusters
    // every (src, dst) duplicate into one partition (dst is a subset of
    // the distinct key, so the aggregate adds NO second exchange), and
    // the emitted edge list arrives pre-partitioned for the vertex-side
    // aggregations every downstream operator opens with (deg counts,
    // per-iteration contribution/min-label/frontier groupBys all key on
    // dst) — those aggregations then satisfy their ClusteredDistribution
    // from this one exchange instead of re-shuffling the edge list.
    a.join(b, Seq("k")).filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .repartition(
        lineitem.sparkSession.sessionState.conf.numShufflePartitions, col("dst"))
      .distinct()
  }

  /** Fixed-iteration damped PageRank over a symmetric edge list.
    * Vertices = nodes with ≥1 edge (no dangling mass by construction).
    * Each iteration: rank' = (1−d)/N + d·Σ rank(src)/deg(src) over
    * incoming edges; vertices receiving no mass keep the teleport term.
    * All divisions happen on identical integer-derived operands in any
    * engine; only the contribution SUM is order-dependent FP, so
    * results should be compared decimal-rounded (the query layer rounds
    * at 10 digits — noise after 5 iterations is ≤1e-13 relative).
    */
  def pageRank(edges: DataFrame, iterations: Int = 5,
               damping: Double = 0.85,
               broadcastState: Option[Boolean] = None): DataFrame =
      withEdgeCache(edges) { cached =>
    // the edge list is built EXACTLY ONCE: cached first, then the
    // eager deg checkpoint materializes the cache as a side effect, and
    // every iteration joins the cached frame. (An earlier version
    // derived deg from the unpersisted plan and re-ran the whole
    // self-join for the first loop action — 2× the dominant cost.)
    // degree counted on the DST side: identical values on the
    // documented symmetric edge list (in-deg = out-deg), and on a
    // coOrderEdges-shaped input the hash(dst) partitioning satisfies
    // the aggregate's clustering — no edge-sized exchange, here or in
    // the per-iteration contribution groupBy(dst) below (the broadcast
    // state join preserves the streamed side's partitioning)
    val deg = checkpointKeepLayout(cached.groupBy(col("dst").as("part"))
      .agg(count(lit(1)).as("deg"))) // vertex-sized; frees the loop from re-aggregating
    val n = deg.count()
    require(n > 0,
      "pageRank: empty edge list — every vertex needs >= 1 edge " +
        "(an n=0 teleport term would silently yield Infinity ranks)")
    val teleport = (1.0 - damping) / n
    // n is already measured for the teleport term, so the auto choice
    // is free: vertex state broadcasts only while it provably fits
    val bcast = broadcastState.getOrElse(n <= BroadcastVertexLimit)
    val st = stateHint(bcast)
    // the state frame carries deg alongside pr, so each pass is ONE
    // edge join + ONE vertex join — an earlier version rebuilt rank⋈deg
    // per pass, a third (tiny but job-scheduling-visible) join
    var state = deg.select(col("part"), lit(1.0 / n).as("pr"), col("deg"))
    for (i <- 1 to iterations) {
      // The SYMMETRIC contract makes the two join directions compute
      // the same per-vertex mass (for every row (s,d) there is (d,s),
      // so crediting pr(dst)/deg(dst) to src sums the identical term
      // multiset — only the FP order differs, which the 10dp output
      // round already absorbs). The broadcast path keeps the src join
      // (the dst-keyed mass agg is then exchange-free on a
      // coOrderEdges-shaped cache); the merge path joins on dst so the
      // SMJ sorts the hash(dst) cache IN PLACE instead of re-exchanging
      // the whole edge list by src every iteration — one edge-sized
      // exchange per iteration (the partially-aggregated mass) instead
      // of two.
      val contrib =
        if (bcast) cached
          .join(st(state), col("src") === col("part"))
          .select(col("dst"), (col("pr") / col("deg")).as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("mass"))
        else cached
          .join(st(state), col("dst") === col("part"))
          .select(col("src"), (col("pr") / col("deg")).as("c"))
          .groupBy(col("src").as("dst")).agg(sum(col("c")).as("mass"))
      state = deg
        .join(st(contrib), col("part") === col("dst"), "left")
        .select(col("part"),
          (lit(teleport) + lit(damping) * coalesce(col("mass"), lit(0.0)))
            .as("pr"), col("deg"))
      // cut lineage each pass; materialize the (vertex-sized) final
      // frame so the edge cache can be released before returning
      state = state.localCheckpoint(eager = i == iterations)
    }
    state.select(col("part"), col("pr"))
  }

  /** BFS minimum-hop labelling: every vertex reachable from the seed
    * set within `maxHops` hops, with its hop distance. Classic frontier
    * expansion — the frontier joins the edge list, already-visited
    * vertices are anti-joined away, and the visited set accumulates.
    * Integer-exact and order-independent: min-hop is invariant to
    * traversal order, so ANY engine agrees bit-for-bit.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame,
              maxHops: Int = 3,
              broadcastState: Option[Boolean] = None,
              symmetric: Boolean = false): DataFrame =
      withEdgeCache(edges) { cached =>
    // visited can only grow to the reachable vertex count, and every
    // edge ROW names at most two vertices, so visited ≤ 2·edgeRows
    // (+ the seed set, which is tiny by contract). An edge-row count
    // is therefore NOT itself an upper bound on visited — a directed
    // path has n vertices on n−1 rows — so the broadcast decision
    // compares against HALF the limit to keep the 2x slack explicit:
    // "rows ≤ limit/2 → visited ≤ limit" never over-ships, and a huge
    // graph conservatively takes the shuffle path. The count itself is
    // free: no shuffle, one scan of the cache being built anyway.
    val bcast = broadcastState.getOrElse(
      cached.count() <= BroadcastVertexLimit / 2)
    val st = stateHint(bcast)
    // On a caller-declared SYMMETRIC list the expansion may run along
    // either edge direction (the neighbor set is identical). The
    // broadcast path keeps the src join — the dst-emitting distinct is
    // then exchange-free on a coOrderEdges-shaped (hash(dst)) cache;
    // the merge path joins on dst instead, so the SMJ sorts the cache
    // in place rather than re-exchanging the whole edge list by src
    // every hop, and emits src (the per-hop distinct pays the one
    // expansion-sized exchange either way). Directed callers keep the
    // src→dst semantics untouched.
    val flip = symmetric && !bcast
    val (joinKey, emitKey) = if (flip) ("dst", "src") else ("src", "dst")
    var visited = seeds.select(col("part"), lit(0).as("hop")).distinct()
    var frontier = visited.select(col("part"))
    for (h <- 1 to maxHops) {
      val next = cached
        .join(st(frontier.withColumnRenamed("part", "f_part")),
          col(joinKey) === col("f_part"))
        .select(col(emitKey).as("part")).distinct()
        // visited is vertex-sized but checkpoint stats under-inform the
        // planner — force the broadcast (when chosen) or this anti-join
        // sort-merges the whole adjacency expansion every hop
        .join(st(visited.select(col("part"))), Seq("part"), "left_anti")
        .localCheckpoint(eager = false)
      visited = visited.union(next.select(col("part"), lit(h).as("hop")))
      frontier = next
    }
    visited.localCheckpoint(eager = true)
  }

  /** Run `body` over `edges` persisted at MEMORY_AND_DISK, so a kernel
    * that scans the edge list several times builds it once. A plan the
    * caller already cached (the cache manager has an entry for it, which
    * `storageLevel` looks up) is used as is and stays cached; only a
    * cache this call made is released when `body` returns, so `body`
    * must return a materialized frame.
    */
  private def withEdgeCache[T](edges: DataFrame)(body: DataFrame => T): T =
    if (edges.storageLevel != StorageLevel.NONE) body(edges)
    else {
      val cached = edges.persist(StorageLevel.MEMORY_AND_DISK)
      try body(cached) finally cached.unpersist(blocking = false)
    }

  /** Broadcast the vertex-state side of an iteration join, or leave it
    * to hash-partition with the edge list when the state is too large
    * to ship. Identical results either way — only the physical join
    * strategy changes.
    */
  /** true → force-broadcast the vertex state; false → PIN the
    * shuffle path with a merge hint. The hint matters: without it AQE
    * happily converts the small-at-test-scale state back to a
    * broadcast join, so "shuffle fallback" would never actually
    * execute (or bench) as a shuffle until the day it's needed in
    * production — exactly the unexercised-path risk the forced bench
    * entries exist to kill. The hint survives AQE re-planning.
    */
  private[graft] def stateHint(bcast: Boolean): DataFrame => DataFrame =
    if (bcast) broadcast(_) else _.hint("merge")

  /** Per parent session: a lazily-built sibling session (same
    * SparkContext, SharedState and cache manager) whose ONLY conf
    * difference is AQE off — the scoped home for layout-keeping
    * checkpoint materializations. Weak keys so test sessions don't
    * leak; synchronized because suites create sessions concurrently.
    */
  private val layoutSessions =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.SparkSession]

  /** Parent confs that change a result or size plan nodes without an
    * explicit count: re-synced into the sibling on every call, so a
    * change the parent makes after first use never leaves the sibling
    * computing with stale semantics.
    */
  private val layoutSyncedConfs = Seq("spark.sql.session.timeZone",
    "spark.sql.ansi.enabled", "spark.sql.shuffle.partitions")

  /** The AQE-off sibling of `spark`, in sync with it. The sibling copies
    * every parent conf a session may set at first use (static and core
    * confs reject the set and stay shared through the SparkContext);
    * each call then re-syncs [[layoutSyncedConfs]].
    */
  private[graft] def layoutSession(
      spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = {
    val ns = layoutSessions.synchronized {
      Option(layoutSessions.get(spark)).getOrElse {
        val ns = spark.newSession()
        spark.conf.getAll.foreach { case (k, v) =>
          try ns.conf.set(k, v)
          catch { case _: org.apache.spark.sql.AnalysisException => () }
        }
        ns.conf.set("spark.sql.adaptive.enabled", "false")
        layoutSessions.put(spark, ns)
        ns
      }
    }
    layoutSyncedConfs.foreach(k => ns.conf.set(k, spark.conf.get(k)))
    ns
  }

  /** Eager localCheckpoint that RETAINS the frame's physical layout.
    * Under AQE, `Dataset.localCheckpoint` materializes through an
    * AdaptiveSparkPlanExec and the resulting LogicalRDD records
    * UnknownPartitioning(0) — measured on this build — so every
    * downstream consumer re-shuffles data that is already laid out
    * correctly. The materialization therefore runs with AQE OFF — but
    * scoped to a dedicated SIBLING session (`SparkSession.newSession`:
    * same context, same cache manager, its own SQLConf) instead of
    * flipping `spark.sql.adaptive.enabled` on the caller's session,
    * which would silently strip AQE from any query another thread
    * plans during the window (r16 verdict item 3). The checkpointed
    * LogicalRDD carries the true hashpartitioning and is re-bound to
    * the caller's session, so AQE-on consumers satisfy their
    * ClusteredDistributions from the checkpoint blocks exactly as
    * before; joins inside the materialized subtree must carry explicit
    * broadcast/merge hints since AQE's runtime conversion is off for
    * that one job. The sibling session is [[layoutSession]].
    */
  private[graft] def checkpointKeepLayout(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val aqeOff = layoutSession(spark)
    val ck = org.apache.spark.sql.GraftPlanBridge
      .ofRows(aqeOff, org.apache.spark.sql.GraftPlanBridge.analyzed(df))
      .localCheckpoint(eager = true)
    org.apache.spark.sql.GraftPlanBridge
      .ofRows(spark, org.apache.spark.sql.GraftPlanBridge.analyzed(ck))
  }

  /** Triangle census over a SYMMETRIC edge list (both directions
    * present, as [[coOrderEdges]] emits): one row with node/edge/wedge
    * counts, the triangle count, and the global clustering coefficient
    * 3·triangles / wedges.
    *
    * Scale design — the degree-ORIENTED wedge join (the standard
    * node-iterator-with-ordering bound from the triangle-listing
    * literature): each undirected edge is directed from its
    * lower-(degree, id) endpoint to the higher, every wedge is
    * enumerated only at its smallest-degree corner, and the closing
    * edge is probed in the SAME oriented list. Max oriented out-degree
    * is O(√m) on any graph, so wedge fan-out is Σ d⁺(v)² = O(m^1.5)
    * worst-case instead of Σ deg(v)² — the difference between a
    * hub-node blow-up and a bounded join on a skewed co-purchase
    * graph. Everything is integer until the final coefficient.
    */
  /** Truncated k-core peel over a SYMMETRIC edge list: `rounds` fixed
    * iterations of (drop nodes with degree < k, induce the subgraph),
    * emitting (round, n_nodes, n_edges) per round — the graph's
    * densification profile, and the fixed-iteration convention that
    * keeps the oracle expressible as unrolled CTEs with IDENTICAL
    * arithmetic (the q125 trade: a convergence loop would diverge
    * from any finite SQL unroll; a pinned round count is
    * engine-comparable and still monotone — the true k-core is the
    * fixpoint these rounds approach from above). Integers end to end.
    *
    * Scale: each round is one degree agg + two semi joins, all keyed
    * on the edge endpoints; the per-round repartition pin lets the
    * stat branches of the final union reuse each round's exchange
    * instead of recomputing the whole peel prefix per branch.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    // the q125 lineage discipline: each round MATERIALIZES via eager
    // localCheckpoint, so round r reads round r-1's blocks instead of
    // replaying the whole peel prefix — without the cut, the unioned
    // stat branches re-derive an O(rounds²) plan that the optimizer
    // cannot be trusted to dedup (measured: the lazy form never
    // finished at sf0.01; the checkpointed form is seconds)
    // hash(dst) (collapsing with coOrderEdges' dedup exchange layout):
    // each round's survivor-degree aggregation keys on dst — identical
    // survivors on the symmetric contract (the induced subgraph of a
    // symmetric list is symmetric, so in-deg = out-deg every round) —
    // and the broadcast semi joins preserve the layout, so after this
    // ONE exchange no round re-shuffles the edge list
    // (checkpointKeepLayout carries the partitioning across rounds).
    var cur = checkpointKeepLayout(edges.repartition(parts, $"dst"))
    // survivor frames are vertex-sized: broadcast them into the semi
    // joins while that provably fits (edge rows ≤ limit/2 ⇒ vertices ≤
    // limit, the bfsHops bound), pin the merge path above it — the
    // hint must be explicit because each round materializes with AQE
    // runtime conversion off (see checkpointKeepLayout)
    val bcastSurv = cur.count() <= BroadcastVertexLimit / 2
    val stSurv = stateHint(bcastSurv)
    // the side the current materialization is hashed on; the merge
    // path alternates it (see the loop comment)
    var keySide = "dst"
    // monotone-peel short-circuit: the edge set only shrinks, so an
    // unchanged count means the FIXPOINT is reached and every later
    // round is identical — replicate the converged row instead of
    // running more join rounds (the co-purchase graph converges in a
    // couple of rounds; without this the fixed-round contract pays
    // for rounds that cannot change anything)
    var prevEdges = -1L
    var converged = false
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    for (r <- 1 to rounds) {
      if (!converged) {
        // degree counted on whichever side the blocks are hashed on
        // (identical on the symmetric induced subgraph); the same-side
        // semi runs first (exchange-free on the merge path), the
        // other-side semi second — its merge exchange re-keys the
        // frame to hash(other), which the NEXT round's degree count
        // then satisfies: one edge-sized exchange per merge round
        // instead of two, and none at all on the broadcast path
        // (where the layout never changes and keySide stays put).
        val otherSide = if (keySide == "dst") "src" else "dst"
        val surv = cur.groupBy(col(keySide).as("node"))
          .agg(count(lit(1)).as("deg"))
          .filter($"deg" >= k).select($"node")
        cur = checkpointKeepLayout(cur
          .join(stSurv(surv.select($"node".as(keySide))), Seq(keySide),
            "left_semi")
          .join(stSurv(surv.select($"node".as(otherSide))), Seq(otherSide),
            "left_semi"))
        if (!bcastSurv) keySide = otherSide
        val row = cur.agg(countDistinct(col(keySide)), count(lit(1)))
          .collect()(0)
        val (nn, ne) = (row.getLong(0), row.getLong(1) / 2)
        if (row.getLong(1) == prevEdges) converged = true
        prevEdges = row.getLong(1)
        out += ((r.toLong, nn, ne))
      } else out += ((r.toLong, out.last._2, out.last._3))
    }
    out.toSeq.toDF("round", "n_nodes", "n_edges")
  }

  def triangleStats(edges: DataFrame): DataFrame =
      withEdgeCache(edges) { cached =>
    val spark = edges.sparkSession
    import spark.implicits._
    // cache + count: the edge list is consumed by four branches (deg,
    // und, the meta/ne stats) and the count both materializes the cache
    // once and sizes the closing-probe Bloom filter exactly — the
    // pageRank build-exactly-once discipline, with the measured count
    // doing double duty (a conf-tuned filter width would either
    // saturate as the graph grows or over-ship at test scale).
    val nDirected = cached.count()
    val bloomBits = graft.functions.SizedBloomFilter.bitsFor(
      math.max(1L, nDirected / 2))
    // dst-side degree: identical on the symmetric contract, and free of
    // its exchange on a coOrderEdges-shaped (hash(dst)) input; the
    // checkpoint lets its THREE consumers (both orientation joins, the
    // meta stats) read one vertex-sized materialization, and the count
    // drives the broadcast decision below — exchange-free aggregates
    // leave no shuffle stage for AQE to re-plan joins from, so the
    // vertex-frame joins must be hinted explicitly (measured: the
    // unhinted static plan sort-merged deg against the edge list).
    val deg = checkpointKeepLayout(
      cached.groupBy($"dst".as("node")).agg(count(lit(1)).as("deg")))
    val stDeg = stateHint(deg.count() <= BroadcastVertexLimit)
    val und = cached.filter($"src" < $"dst")
    val fwd = ($"sdeg" < $"ddeg") ||
      ($"sdeg" === $"ddeg" && $"src" < $"dst")
    // the oriented list is consumed FOUR times (both wedge sides, the
    // closing probe, the Bloom build); a pinned hash(a) repartition
    // makes all four ReusedExchange consumers of ONE materialization —
    // the closing probe's (wa, wb) clustering is satisfied by the
    // hash(a) subset — where the unpinned plan recomputed the whole
    // edge derivation per consumer (measured 7.4s -> the repartition
    // collapses it)
    val oriented = und
      .join(stDeg(deg.select($"node".as("src"), $"deg".as("sdeg"))), "src")
      .join(stDeg(deg.select($"node".as("dst"), $"deg".as("ddeg"))), "dst")
      .select(
        when(fwd, $"src").otherwise($"dst").as("a"),
        when(fwd, $"dst").otherwise($"src").as("b"),
        when(fwd, $"ddeg").otherwise($"sdeg").as("bdeg"))
      .repartition(
        spark.sessionState.conf.numShufflePartitions, $"a")
    // Bloom prefilter on the closing probe (guide-§3.2 shape): the
    // wedge fan-out is O(m^1.5) rows but only the closing-edge matches
    // (n_triangles ≈ m·cc, 41M wedges → 1.9M triangles at sf0.1, a
    // 0.01% false-positive rate at the measured sizing) need to reach
    // the probe's exchange. Build one sized bitmap over the oriented
    // (a,b) keys — a broadcast-scalar, the q257 crossJoin idiom — and
    // drop provably-non-closing wedges BEFORE they are shuffled.
    // coalesce(4): each partial buffer is a full bitmap, so fewer,
    // larger build tasks keep the partial shuffle at 4 bitmaps instead
    // of one per shuffle partition.
    val bf = oriented.coalesce(4)
      .agg(graft.functions.SizedBloomFilter.build(bloomBits,
        xxhash64($"a", $"b")).as("__bf"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.a") === col("e2.a") &&
          (col("e1.bdeg") < col("e2.bdeg") ||
            (col("e1.bdeg") === col("e2.bdeg") && col("e1.b") < col("e2.b"))))
      .select(col("e1.b").as("wa"), col("e2.b").as("wb"))
      .crossJoin(broadcast(bf))
      .filter(graft.functions.SizedBloomFilter.mightContain(bloomBits,
        $"__bf", xxhash64($"wa", $"wb")))
      .select($"wa", $"wb")
    // INNER join, not left_semi: oriented is UNIQUE on (a, b) (each
    // distinct undirected edge orients to exactly one (a, b)), so the
    // inner row count equals the semi row count — and unlike a semi
    // join, an inner join is never pushed below the Bloom filter by
    // PushDownLeftSemiAntiJoin (measured: the semi form re-ordered to
    // shuffle the UNFILTERED 41M-wedge stream and ran the Bloom probe
    // after the exchange it was built to prune).
    val tri = wedges
      .join(oriented.select($"a".as("wa"), $"b".as("wb")), Seq("wa", "wb"))
      .agg(count(lit(1)).as("n_triangles"))
    val meta = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val ne = und.agg(count(lit(1)).as("n_edges"))
    // materialize the one-row census eagerly (the kCorePeel precedent)
    // so the edge cache can be released before returning
    meta.crossJoin(ne).crossJoin(tri)
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        graft.functions.Num.decRound(lit(3.0) * $"n_triangles" /
          nullif($"n_wedges", lit(0L)).cast("double"), 6).as("global_cc"))
      .localCheckpoint(eager = true)
  }

  /** Per-edge neighborhood Jaccard similarity — the link-prediction /
    * "are these two products substitutes" read on the co-purchase
    * graph: for each edge (u,v) in a deterministic 1-in-`modulus`
    * systematic sample, |N(u)∩N(v)| over |N(u)∪N(v)| excluding the
    * endpoints, reported for the top-k most similar sampled pairs.
    *
    * Scale — the sample IS the design, not a shortcut: scoring EVERY
    * edge means crediting every triangle to its three edges, and the
    * co-purchase graph is dense (411M oriented wedges at a mere ×10
    * of the dev tape — measured; the all-edges formulation spilled a
    * DuckDB oracle past 79 GB of temp). The sampled formulation
    * instead intersects the two endpoints' adjacency lists directly —
    * sample ⋈ adjacency on u, then one hash join on (v, neighbor) —
    * so cost is sample_size × avg_degree, TUNABLE via `modulus`
    * independent of the global triangle count, and every stage is a
    * plain shuffled equi-join (no wedge fan-out at all).
    * Determinism: the sample rule (u+v) mod `modulus` = 0 is pure
    * integer arithmetic (portable to any engine, no hash parity
    * needed); counts/degrees are pure integers; the denominator
    * deg(u)+deg(v)−2−common ≥ common ≥ 1 by construction (each common
    * neighbor counts in both degrees, and pairs with zero common
    * neighbors are absent from the inner join); the single IEEE
    * division lattices at 6dp and the top-k picks on the total
    * (jaccard, u, v) order.
    */
  def edgeJaccard(edges: DataFrame, modulus: Int = 100,
      topK: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // the adjacency is consumed FOUR times (degrees, the sample, both
    // intersection sides); ONE eager checkpoint materializes it — and
    // because checkpoints preserve the physical layout, a
    // coOrderEdges-shaped (hash(dst)) input feeds every dst-keyed
    // consumer below without ANY further edge-sized exchange: N(x) is
    // read off the IN-edge side (identical to out-neighbors on the
    // symmetric contract), so the degree count, the u-side adjacency
    // probe and the (v, n) intersection all satisfy their clustering
    // from the blocks' existing hash(dst) partitioning (dst ⊆ each key
    // set) while only the sample-sized frames are ever re-shuffled.
    val e = checkpointKeepLayout(edges.select($"src", $"dst"))
    val deg = e.groupBy($"dst".as("node")).agg(count($"src").as("deg"))
    val sampled = e.filter($"src" < $"dst" &&
        pmod($"src" + $"dst", lit(modulus.toLong)) === 0L)
      .select($"src".as("u"), $"dst".as("v"))
    // shuffle_hash hints on the SAMPLE-BOUNDED sides: the adjacency
    // stream is co-partitioned already (hash(dst) ⊆ every key set), so
    // a hash join builds only the sample-sized table per partition and
    // streams the edge list WITHOUT the sort-merge sort the static
    // planner would otherwise pay (the exchange-free inputs leave AQE
    // no shuffle stage to convert the join from); build sides stay
    // bounded by sample_size × avg_degree at any scale.
    val nu = sampled.hint("shuffle_hash")
      .join(e.select($"dst".as("u"), $"src".as("n")), "u")
    val common = nu.hint("shuffle_hash")
      .join(e.select($"dst".as("v"), $"src".as("n")), Seq("v", "n"))
      .groupBy($"u", $"v").agg(count(lit(1)).as("common"))
    val j = common
      .join(deg.select($"node".as("u"), $"deg".as("deg_u")), "u")
      .join(deg.select($"node".as("v"), $"deg".as("deg_v")), "v")
    j.select($"u", $"v", $"deg_u", $"deg_v", $"common",
        graft.functions.Num.decRound($"common".cast("double") /
          ($"deg_u" + $"deg_v" - lit(2L) - $"common").cast("double"), 6)
          .as("jaccard"))
      .orderBy(desc("jaccard"), $"u".asc, $"v".asc)
      .limit(topK)
  }

  /** Connected components by hash-min label propagation over a
    * SYMMETRIC edge list: every vertex starts labeled with its own
    * id; each round replaces the label with the min over itself and
    * its neighbors' labels; the fixpoint labels each component by its
    * minimum vertex id. Fixed-round contract (the q182 oracle
    * convention — a DuckDB mirror unrolls the same rounds, and
    * post-convergence rounds are idempotent so early stopping cannot
    * diverge), with the kCorePeel short-circuit: labels can only
    * decrease, so a zero-change round IS the fixpoint and later
    * rounds are skipped. Each round materializes via eager
    * localCheckpoint (the q125 lineage discipline) and the
    * per-round change count is the one bounded driver-side stat
    * (vertex-frame sized aggregate, the kCorePeel precedent).
    * Returns a one-row census: node/component counts, the largest
    * component and its share, and the change count of the contract's
    * final round (0 = converged — diameter exceeded the round budget
    * otherwise, and BOTH engines report the same partial labeling).
    */
  def connectedComponents(edges: DataFrame, rounds: Int = 10,
      broadcastState: Option[Boolean] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    // hash(dst), not hash(src): the per-round neighbor-min aggregation
    // keys on dst, so this ONE exchange (collapsed into coOrderEdges'
    // dedup exchange when the caller passes its output — the
    // repartition of an already-hash(dst) child is the same layout)
    // satisfies every round's ClusteredDistribution; the src-side state
    // join broadcasts (or merge-hints) the vertex frame either way.
    // checkpointKeepLayout preserves the physical partitioning, so
    // round r reads round r−1's layout without re-shuffling.
    val e = checkpointKeepLayout(edges.repartition(parts, $"dst"))
    // seed from dst (identical vertex set on the symmetric contract):
    // the distinct's clustering is satisfied by the hash(dst) blocks
    var lab = checkpointKeepLayout(
      e.select($"dst".as("node")).distinct()
        .select($"node", $"node".as("comp")))
    // the bfsHops/pageRank state discipline: broadcast the
    // vertex-sized label frame into the edge join while it fits the
    // vertex limit, pin the shuffle path above it (or when forced)
    val bcast = broadcastState.getOrElse(
      lab.count() <= BroadcastVertexLimit)
    val st = stateHint(bcast)
    var lastChanged = 0L
    var converged = false
    for (_ <- 1 to rounds) if (!converged) {
      // the pageRank direction trick: on the SYMMETRIC contract the
      // neighbor-min is the same aggregated over either side, so the
      // merge path joins the labels on dst (sorting the hash(dst)
      // blocks in place instead of re-exchanging the edge list by src
      // every round) and aggregates by src — one edge-sized exchange
      // per merge round instead of two; the broadcast path keeps the
      // src join whose dst-keyed aggregation is exchange-free.
      val nbrMin =
        if (bcast) e.join(st(lab.select($"node".as("src"), $"comp")),
            Seq("src"))
          .groupBy($"dst".as("node")).agg(min($"comp").as("mc"))
        else e.join(st(lab.select($"node".as("dst"), $"comp")),
            Seq("dst"))
          .groupBy($"src".as("node")).agg(min($"comp").as("mc"))
      // nbrMin is st()-hinted too: the round materializes with AQE off
      // (see checkpointKeepLayout), so the vertex-sized merge must be
      // hinted explicitly rather than left to runtime conversion; both
      // sides are hash(node)-clustered, so the merge path sorts
      // in-place without exchanging either frame
      val next = lab.select($"node", $"comp".as("pc"))
        .join(st(nbrMin), Seq("node"), "left")
        .select($"node", $"pc",
          least($"pc", coalesce($"mc", $"pc")).as("comp"))
      val nextCk = checkpointKeepLayout(next)
      lastChanged = nextCk.filter($"comp" =!= $"pc").count()
      lab = nextCk.select($"node", $"comp")
      if (lastChanged == 0L) converged = true
    }
    val sizes = lab.groupBy($"comp").agg(count(lit(1)).as("sz"))
    sizes.agg(sum($"sz").as("n_nodes"),
        count(lit(1)).as("n_components"),
        max($"sz").as("largest_size"))
      .select($"n_nodes", $"n_components", $"largest_size",
        graft.functions.Num.decRound(
          $"largest_size".cast("double") / $"n_nodes".cast("double"), 6)
          .as("largest_share"))
      .withColumn("n_changed_last", lit(lastChanged))
  }

  /** Synchronous label propagation over a SYMMETRIC edge list:
    * `rounds` fixed iterations where every vertex adopts the MODE of
    * its neighbors' previous-round labels, tie-broken on the total
    * (count desc, label asc) order — so the trajectory, not just the
    * fixpoint, is engine-portable and a DuckDB mirror can unroll the
    * identical rounds (the q182/q259 fixed-round contract; min-label
    * propagation would just converge to connected components — the
    * MODE rule is what finds communities denser than their cut).
    * Scale: each round is one edge×label join + a (src, lbl)
    * map-side-combined count + a per-src rank window; the label frame
    * is vertex-sized and follows the connectedComponents broadcast/
    * shuffle stateHint discipline; each round materializes via eager
    * localCheckpoint (the q125 lineage discipline). Pure integers
    * throughout. Returns (node, lbl) after the final round.
    *
    * `symmetric = true` is a caller DECLARATION, not a checked
    * property: besides the dst-only seed it selects the flipped
    * dst-aggregation rounds on the broadcast path, so a violated
    * declaration (asymmetric edges passed with symmetric = true)
    * yields different winners depending on whether the vertex count
    * crosses [[BroadcastVertexLimit]] — i.e. SIZE-DEPENDENT results.
    * Callers must only declare what [[coOrderEdges]]-shaped
    * construction guarantees; the scale gate's invariants
    * (GraphGate) cross-check the declared path against the union-seed
    * default on every fixture.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 2,
      broadcastState: Option[Boolean] = None,
      symmetric: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    // a caller that already checkpointed its edge frame (q288, the
    // scale gate) must not pay a SECOND full exchange + copy here: a
    // LogicalRDD input is by definition materialized, so use it as-is
    // (its partitioning is the caller's choice); anything else gets
    // the hash(dst) layout + lineage cut every round replays.
    val e = edges.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => edges
      case _ => checkpointKeepLayout(edges.repartition(parts, $"dst"))
    }
    // Seed from src ∪ dst: on the documented SYMMETRIC edge list the
    // union is identical to dst alone, but an asymmetric caller now
    // gets round-1 contributions from src-only vertices instead of
    // silently dropping them (their labels still live only as long as
    // they have in-edges — symmetry remains the contract for correct
    // community semantics, this seed just makes a violation loud).
    // A caller that DECLARES symmetry (the bfsHops convention — q288
    // and the scale gate pass coOrderEdges output) takes the dst-only
    // seed, which is the identical vertex set but satisfies its
    // distinct from the hash(dst) edge layout with NO exchange —
    // measured at sf0.1 the union seed was 4.8 M of q288's residual
    // 9.6 M shuffle records.
    var lab = checkpointKeepLayout(
      if (symmetric)
        e.select($"dst".as("node")).distinct()
          .select($"node", $"node".as("lbl"))
      else
        e.select($"dst".as("node"))
          .union(e.select($"src".as("node"))).distinct()
          .select($"node", $"node".as("lbl"))
          .repartition(parts, $"node"))
    val bcast = broadcastState.getOrElse(lab.count() <= BroadcastVertexLimit)
    val st = stateHint(bcast)
    for (_ <- 1 to rounds) {
      // the mode-with-tie-break is a PICK, not a ranking: max over the
      // total (cnt, −lbl) order ≡ row_number()=1 over (cnt desc, lbl
      // asc) — same deterministic winner (the order is strict: −lbl
      // never ties within a src group), but as a two-level declarative
      // aggregate the per-src reduction happens map-side inside the
      // (src, lbl) exchange's output instead of paying a second full
      // exchange + sort for the window (guide §2.4: aggregate, don't
      // rank, when only the argmax survives).
      lab = checkpointKeepLayout(
        if (symmetric && bcast)
          // DECLARED-symmetric + broadcast labels: join the label onto
          // the SRC endpoint and aggregate by DST. On a symmetric list
          // {lbl(u) : (u,v) ∈ E} ≡ {lbl(u) : (v,u) ∈ E} per vertex v
          // (equal multisets — each undirected edge appears once per
          // direction), so the round's winners are identical — but the
          // (dst, lbl) grouping is clustered by the hash(dst) edge
          // layout (subset rule), so BOTH aggregation levels run with
          // NO edge-sized exchange: the per-round full exchange of the
          // src-side form disappears (measured: q288 9.0 M -> 3.0 M
          // shuffle records at sf0.1 — the loop rounds now shuffle
          // nothing). Broadcast-only: on the merge path the src-keyed
          // label join would re-shuffle the edge list by src AND the
          // dst aggregation would re-shuffle it back — strictly worse,
          // so the merge path keeps the src-side form below.
          e.join(st(lab.select($"node".as("src"), $"lbl")), Seq("src"))
            .groupBy($"dst", $"lbl").agg(count(lit(1)).as("cnt"))
            .groupBy($"dst")
            .agg(max_by($"lbl", struct($"cnt", -$"lbl")).as("lbl"))
            .select($"dst".as("node"), $"lbl")
        else
          e.join(st(lab.select($"node".as("dst"), $"lbl")), Seq("dst"))
            .groupBy($"src", $"lbl").agg(count(lit(1)).as("cnt"))
            .groupBy($"src")
            .agg(max_by($"lbl", struct($"cnt", -$"lbl")).as("lbl"))
            .select($"src".as("node"), $"lbl"))
    }
    lab
  }

  /** Per-vertex local clustering coefficient, bucketed by degree:
    * the same degree-oriented wedge enumeration as [[triangleStats]]
    * (each triangle materializes exactly once), but the closing probe
    * is an INNER join that keeps the wedge center, so the triangle's
    * three vertices can be exploded and counted per node. cc_v =
    * 2·T_v/(deg_v·(deg_v−1)) over deg ≥ 2 vertices; the census rolls
    * up by the pure-integer power-of-two degree bucket
    * (length of the base-2 digit string — floor(log2)+1 without the
    * ln(8)/ln(2) = 2.999… FP hazard). T_v and deg are exact longs;
    * each cc is ONE IEEE division of two exact integers latticed 6dp
    * into DECIMAL(18,6); bucket means reduce as exact decimal sums.
    */
  def localClusteringCensus(edges: DataFrame): DataFrame =
      withEdgeCache(edges) { cached =>
    val spark = edges.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    // same cache + exact-count + Bloom-prefiltered closing probe as
    // [[triangleStats]] — see the comments there; the only difference
    // is that the closing join is INNER and keeps the wedge center so
    // each triangle explodes into its three member counts
    val nDirected = cached.count()
    val bloomBits = graft.functions.SizedBloomFilter.bitsFor(
      math.max(1L, nDirected / 2))
    val deg = checkpointKeepLayout(
      cached.groupBy($"dst".as("node")).agg(count(lit(1)).as("deg")))
    val stDeg = stateHint(deg.count() <= BroadcastVertexLimit)
    val und = cached.filter($"src" < $"dst")
    val fwd = ($"sdeg" < $"ddeg") ||
      ($"sdeg" === $"ddeg" && $"src" < $"dst")
    val oriented = und
      .join(stDeg(deg.select($"node".as("src"), $"deg".as("sdeg"))), "src")
      .join(stDeg(deg.select($"node".as("dst"), $"deg".as("ddeg"))), "dst")
      .select(
        when(fwd, $"src").otherwise($"dst").as("a"),
        when(fwd, $"dst").otherwise($"src").as("b"),
        when(fwd, $"ddeg").otherwise($"sdeg").as("bdeg"))
      .repartition(
        spark.sessionState.conf.numShufflePartitions, $"a")
    val bf = oriented.coalesce(4)
      .agg(graft.functions.SizedBloomFilter.build(bloomBits,
        xxhash64($"a", $"b")).as("__bf"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.a") === col("e2.a") &&
          (col("e1.bdeg") < col("e2.bdeg") ||
            (col("e1.bdeg") === col("e2.bdeg") && col("e1.b") < col("e2.b"))))
      .select(col("e1.a").as("ctr"),
        col("e1.b").as("wa"), col("e2.b").as("wb"))
      .crossJoin(broadcast(bf))
      .filter(graft.functions.SizedBloomFilter.mightContain(bloomBits,
        $"__bf", xxhash64($"wa", $"wb")))
      .select($"ctr", $"wa", $"wb")
    val tri = wedges
      .join(oriented.select($"a".as("wa"), $"b".as("wb")), Seq("wa", "wb"))
      .select(explode(array($"ctr", $"wa", $"wb")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("t"))
    val cc = deg.filter($"deg" >= 2L)
      .join(tri, Seq("node"), "left")
      .withColumn("t", coalesce($"t", lit(0L)))
      .withColumn("cc",
        graft.functions.Num.decRound(
          lit(2.0) * $"t".cast("double") /
            ($"deg" * ($"deg" - 1L)).cast("double"), 6)
          .cast(DecimalType(18, 6)))
      .withColumn("bucket", length(conv($"deg", 10, 2)).cast("long"))
    // bucket-cardinality result: materialize eagerly, release the cache
    cc.groupBy($"bucket")
      .agg(count(lit(1)).as("n_nodes"),
        sum($"deg").as("sum_deg"),
        sum($"t").as("sum_triangles"),
        sum($"cc").cast(DecimalType(28, 6)).as("scc"),
        sum(when($"cc" === lit(0).cast(DecimalType(18, 6)), 1L)
          .otherwise(0L)).as("n_cc_zero"))
      .select($"bucket", $"n_nodes", $"sum_deg", $"sum_triangles",
        graft.functions.Num.decRound(
          $"scc".cast("double") / $"n_nodes".cast("double"), 6)
          .as("mean_cc"),
        graft.functions.Num.decRound(
          $"n_cc_zero".cast("double") / $"n_nodes".cast("double"), 6)
          .as("cc_zero_share"))
      .localCheckpoint(eager = true)
  }
}
