package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5d graph analytics (SURVEY §2, q125–q126): fixed-iteration
  * PageRank and BFS min-hop labelling over the part co-purchase graph
  * (parts sharing an order), exercising the iterate-over-a-join shape
  * that Pregel-style engines own — here as driver-side loops over
  * declarative plans (see [[graft.operators.Graph]]).
  *
  * Oracle strategy: the DuckDB side UNROLLS the same fixed number of
  * iterations as chained CTEs — identical arithmetic per step. BFS is
  * integer-exact (min-hop is traversal-order invariant); PageRank's
  * only engine-dependent step is the contribution sum's FP order, so
  * ranks are decimal-rounded at 10 digits (noise ≤1e-13 relative after
  * 5 iterations, values ~1/N).
  */
object GraphOps {

  private def decRound(c: org.apache.spark.sql.Column, scale: Int) =
    graft.functions.Num.decRound(c, scale)

  private def edges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.coOrderEdges(Tables.lineitem(spark, dir))

  /** q125_pagerank — 5-iteration damped (0.85) PageRank over the
    * co-purchase graph; vertex set = parts with ≥1 edge (no dangling
    * mass). Emits every vertex with its rounded rank.
    */
  def q125Pagerank(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRank(edges(spark, dir), iterations = 5)
      .select(col("part"), decRound(col("pr"), 10).as("pr"))

  private val edgesSql =
    """edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |deg AS (SELECT src AS part, count(*) AS deg FROM edges GROUP BY src),
      |nv AS (SELECT count(*) AS n FROM deg)""".stripMargin

  private def prStep(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT d.part,
       |    (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nv) +
       |    0.85::DOUBLE * coalesce(m.mass, 0.0::DOUBLE) AS pr
       |  FROM deg d LEFT JOIN (
       |    SELECT e.dst, sum(p.pr / dg.deg) AS mass
       |    FROM edges e JOIN $prev p ON e.src = p.part
       |                 JOIN deg dg ON dg.part = p.part
       |    GROUP BY e.dst) m ON m.dst = d.part)""".stripMargin

  val q125Sql: String =
    s"""WITH $edgesSql,
       |p0 AS (SELECT part, 1.0::DOUBLE / (SELECT n FROM nv) AS pr FROM deg),
       |${prStep("p0", "p1")},
       |${prStep("p1", "p2")},
       |${prStep("p2", "p3")},
       |${prStep("p3", "p4")},
       |${prStep("p4", "p5")}
       |SELECT part,
       |  CAST(round(CAST(pr AS DECIMAL(28,12)), 10) AS DOUBLE) AS pr
       |FROM p5""".stripMargin

  /** q126_bfs_hops — minimum hop distance (≤3) from the seed parts
    * (partkey divisible by 100) to every reachable vertex of the
    * co-purchase graph. Pure integers end-to-end.
    */
  def q126BfsHops(spark: SparkSession, dir: String): DataFrame = {
    // persist BEFORE deriving seeds: the seed subtree would otherwise
    // re-run the whole co-order self-join as a second uncached scan
    // (bfsHops finds this cache, reads it and leaves it to the unpersist
    // below)
    val e = edges(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = e.select(col("src").as("part")).distinct()
      .filter(col("part") % 100 === 0)
    // the co-purchase list is symmetric by construction, so the merge
    // path may expand along either direction (see bfsHops)
    val out = graft.operators.Graph.bfsHops(e, seeds, maxHops = 3,
      symmetric = true)
    e.unpersist(blocking = false)
    out
  }

  /** q130_snapshot_diff — reconciliation audit between two synthetic
    * versions of the orders table (A drops keys divisible by 7, B drops
    * keys divisible by 11 and bumps the price of keys divisible by 5):
    * per diff class, row count and key range. See
    * [[graft.operators.Reconcile.snapshotDiff]] — one full-outer
    * shuffle join, row-local classification, four-row aggregate. The
    * +10.0 price bump is identical FP arithmetic in both engines, so
    * the CHANGED comparison is exact.
    */
  def q130SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val snapA = orders.filter(col("o_orderkey") % 7 =!= 0)
    val snapB = orders.filter(col("o_orderkey") % 11 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")))
    graft.operators.Reconcile
      .snapshotDiff(snapA, snapB, "o_orderkey",
        Seq("o_orderstatus", "o_totalprice"))
      .groupBy(col("diff_class"))
      .agg(count(lit(1)).as("n"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  val q130Sql: String =
    """WITH a AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey % 7 <> 0),
      |b AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 11 <> 0),
      |d AS (
      |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      |    CASE WHEN a.o_orderkey IS NULL THEN 'ADDED'
      |         WHEN b.o_orderkey IS NULL THEN 'REMOVED'
      |         WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
      |           OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
      |           THEN 'CHANGED'
      |         ELSE 'UNCHANGED' END AS diff_class
      |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
      |SELECT diff_class, count(*) AS n,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM d GROUP BY diff_class""".stripMargin

  val q126Sql: String =
    s"""WITH $edgesSql,
       |seeds AS (SELECT part FROM deg WHERE part % 100 = 0),
       |r1 AS (SELECT DISTINCT e.dst AS part FROM edges e
       |       JOIN seeds s ON e.src = s.part),
       |r2 AS (SELECT DISTINCT e.dst AS part FROM edges e
       |       JOIN r1 ON e.src = r1.part),
       |r3 AS (SELECT DISTINCT e.dst AS part FROM edges e
       |       JOIN r2 ON e.src = r2.part),
       |lv AS (
       |  SELECT part, 0 AS hop FROM seeds
       |  UNION ALL SELECT part, 1 FROM r1
       |  UNION ALL SELECT part, 2 FROM r2
       |  UNION ALL SELECT part, 3 FROM r3)
       |SELECT part, min(hop) AS hop FROM lv GROUP BY part""".stripMargin

  /** q182_kcore_peel — 8-round truncated 3-core peel of the
    * co-purchase graph: per round, the surviving node and edge counts
    * (see [[graft.operators.Graph.kCorePeel]] for the fixed-round
    * oracle convention). The densification profile a graph-quality
    * audit reads before trusting community or centrality numbers.
    */
  def q182KcorePeel(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCorePeel(edges(spark, dir), k = 3, rounds = 8)

  val q182Sql: String = {
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so the
    // 8-round chain would expand e8 into 2^8 re-derivations of the
    // edge self-join (fd exhaustion at sf0.01, unrunnable at sf1);
    // materialization evaluates each round once — the same thing the
    // Spark side's localCheckpoint does
    def round(prev: String, d: String, e: String): String =
      s"""$d AS MATERIALIZED (SELECT src AS node FROM $prev GROUP BY src
         |  HAVING count(*) >= 3),
         |$e AS MATERIALIZED (SELECT p.src, p.dst FROM $prev p
         |  JOIN $d a ON p.src = a.node JOIN $d b ON p.dst = b.node)"""
        .stripMargin
    val rounds = (1 to 8).map { r =>
      val prev = if (r == 1) "edges" else s"e${r - 1}"
      round(prev, s"d$r", s"e$r")
    }.mkString(",\n")
    val stats = (1 to 8).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT count(DISTINCT src) FROM e$r) AS n_nodes,
         |  CAST((SELECT count(*) FROM e$r) // 2 AS BIGINT) AS n_edges"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $edgesSql,
       |$rounds
       |$stats""".stripMargin
  }

  /** q175_triangle_census — triangle count and global clustering
    * coefficient of the co-purchase graph via the degree-oriented
    * wedge join (see [[graft.operators.Graph.triangleStats]] for the
    * O(m^1.5) fan-out bound). Integer counts end-to-end; the single
    * coefficient division rounds at 6dp.
    */
  def q175TriangleCensus(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangleStats(edges(spark, dir))

  val q175Sql: String =
    s"""WITH $edgesSql,
       |und AS (SELECT src, dst FROM edges WHERE src < dst),
       |dg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
       |o AS (
       |  SELECT
       |    CASE WHEN (ds.deg < dd.deg) OR (ds.deg = dd.deg AND u.src < u.dst)
       |         THEN u.src ELSE u.dst END AS a,
       |    CASE WHEN (ds.deg < dd.deg) OR (ds.deg = dd.deg AND u.src < u.dst)
       |         THEN u.dst ELSE u.src END AS b,
       |    CASE WHEN (ds.deg < dd.deg) OR (ds.deg = dd.deg AND u.src < u.dst)
       |         THEN dd.deg ELSE ds.deg END AS bdeg
       |  FROM und u JOIN dg ds ON ds.node = u.src
       |             JOIN dg dd ON dd.node = u.dst),
       |w AS (
       |  SELECT e1.b AS wa, e2.b AS wb
       |  FROM o e1 JOIN o e2 ON e1.a = e2.a
       |    AND ((e1.bdeg < e2.bdeg) OR (e1.bdeg = e2.bdeg AND e1.b < e2.b))),
       |t AS (
       |  SELECT count(*) AS n_triangles
       |  FROM w JOIN o ON o.a = w.wa AND o.b = w.wb),
       |m AS (
       |  SELECT count(*) AS n_nodes,
       |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
       |  FROM dg),
       |ne AS (SELECT count(*) AS n_edges FROM und)
       |SELECT m.n_nodes, ne.n_edges, m.n_wedges,
       |  CAST(t.n_triangles AS BIGINT) AS n_triangles,
       |  CAST(round(CAST(3.0 * t.n_triangles /
       |    CAST(nullif(m.n_wedges, 0) AS DOUBLE) AS DECIMAL(28,12)), 6)
       |    AS DOUBLE) AS global_cc
       |FROM m, ne, t""".stripMargin

  /** q204_assortativity — degree assortativity of the co-purchase
    * graph: the Pearson correlation of endpoint degrees over the
    * symmetric directed edge list (Newman's r). r > 0 = hubs attach to
    * hubs (assortative mixing, resilient core); r < 0 = hub-and-spoke
    * (the typical co-purchase/recommendation shape, vulnerable to hub
    * removal). The structural health check run next to q175's
    * clustering coefficient and q182's core depth before trusting any
    * graph-derived feature.
    * Scale shape: degrees are one count agg over the hash(src)-pinned
    * edge materialization (src-side join co-located + ReusedExchange,
    * the q175 discipline); the dst-side degree join is left UNHINTED so
    * AQE broadcasts the |V|-sized degree table while it fits and falls
    * back to a shuffle join past that — |V| grows with the catalog, so
    * a hard broadcast would be the Graph.BroadcastVertexLimit hazard.
    * Every moment is an exact BIGINT sum (degree products are integral
    * — no FP until the final closed-form division), so the single
    * output row is bit-deterministic in any engine at any scale.
    */
  def q204Assortativity(spark: SparkSession, dir: String): DataFrame = {
    // one eager checkpoint materializes the edge list; its hash(dst)
    // layout (coOrderEdges' dedup exchange) then feeds the dst-side
    // degree count AND the dst-side degree join for free — the only
    // edge-sized exchange left is the src-side degree attach (the old
    // plan paid an explicit hash(src) repartition AND a dst join
    // exchange on top of it). Degrees are side-symmetric on the
    // symmetric contract, so (da, db) per edge row is unchanged.
    val e = graft.operators.Graph.checkpointKeepLayout(edges(spark, dir))
    // exchange-free aggregates leave AQE no shuffle stage to re-plan
    // the joins from, so the vertex-frame attach is hinted via the
    // measured stateHint discipline (broadcast while the degree table
    // provably fits, merge above it — the Graph loop convention)
    val degD = graft.operators.Graph.checkpointKeepLayout(
      e.groupBy(col("dst")).agg(count(lit(1)).as("deg_d")))
    val st = graft.operators.Graph.stateHint(
      degD.count() <= graft.operators.Graph.BroadcastVertexLimit)
    val degS = degD.select(col("dst").as("src"), col("deg_d").as("deg"))
    val joined = e.join(st(degD), "dst")
      .join(st(degS), "src")
      .select(col("deg").as("da"), col("deg_d").as("db"))
    val m = joined.agg(count(lit(1)).as("n_edges"),
      sum(col("da")).as("sa"), sum(col("db")).as("sb"),
      sum(col("da") * col("db")).as("sab"),
      sum(col("da") * col("da")).as("saa"),
      sum(col("db") * col("db")).as("sbb"))
    val nD = col("n_edges").cast("double")
    val (sa, sb, sab, saa, sbb) = (col("sa").cast("double"),
      col("sb").cast("double"), col("sab").cast("double"),
      col("saa").cast("double"), col("sbb").cast("double"))
    val va = nD * saa - sa * sa
    val vb = nD * sbb - sb * sb
    m.select(col("n_edges"),
      decRound(when(va > 0.0 && vb > 0.0,
        (nD * sab - sa * sb) / (sqrt(va) * sqrt(vb))), 6)
        .as("assortativity"))
  }

  val q204Sql: String =
    s"""WITH $edgesSql,
       |j AS (
       |  SELECT ds.deg AS da, dd.deg AS db
       |  FROM edges e JOIN deg ds ON ds.part = e.src
       |               JOIN deg dd ON dd.part = e.dst),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
       |    CAST(sum(da) AS BIGINT) AS sa, CAST(sum(db) AS BIGINT) AS sb,
       |    CAST(sum(da * db) AS BIGINT) AS sab,
       |    CAST(sum(da * da) AS BIGINT) AS saa,
       |    CAST(sum(db * db) AS BIGINT) AS sbb
       |  FROM j)
       |SELECT n_edges,
       |  CAST(round(CAST(CASE WHEN
       |      CAST(n_edges AS DOUBLE) * CAST(saa AS DOUBLE)
       |        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) > 0.0
       |      AND CAST(n_edges AS DOUBLE) * CAST(sbb AS DOUBLE)
       |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0.0
       |    THEN (CAST(n_edges AS DOUBLE) * CAST(sab AS DOUBLE)
       |        - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
       |      / (sqrt(CAST(n_edges AS DOUBLE) * CAST(saa AS DOUBLE)
       |          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
       |        * sqrt(CAST(n_edges AS DOUBLE) * CAST(sbb AS DOUBLE)
       |          - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
       |    END AS DECIMAL(28,12)), 6) AS DOUBLE) AS assortativity
       |FROM m""".stripMargin

  /** q255_local_cc — per-vertex local clustering coefficient census
    * of the co-purchase graph, bucketed by power-of-two degree:
    * cc_v = 2·T_v/(deg·(deg−1)) answers "do my neighbors know each
    * other" per node where q175's global ratio pools the whole graph
    * (the standard small-world/hierarchy read: mean cc falling with
    * degree ⇒ hub neighborhoods are bridges, not cliques). Scale:
    * the SAME degree-oriented wedge enumeration as q175 (O(m^1.5)
    * candidate bound, one pinned hash(a) materialization reused by
    * both wedge sides and the closing probe) — the closing join
    * keeps the wedge center so each triangle explodes into its three
    * member counts exactly once. Determinism: T_v/deg are exact
    * longs; the bucket is the base-2 digit-string length (pure
    * integer — no ln(8)/ln(2)=2.999… FP hazard); each cc is one IEEE
    * division of exact integers latticed 6dp; bucket means reduce as
    * exact decimal sums.
    */
  def q255LocalCc(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.localClusteringCensus(edges(spark, dir))

  val q255Sql: String =
    s"""WITH $edgesSql,
       |und AS (SELECT src, dst FROM edges WHERE src < dst),
       |dg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
       |o AS (
       |  SELECT
       |    CASE WHEN (ds.deg < dd.deg) OR (ds.deg = dd.deg AND u.src < u.dst)
       |         THEN u.src ELSE u.dst END AS a,
       |    CASE WHEN (ds.deg < dd.deg) OR (ds.deg = dd.deg AND u.src < u.dst)
       |         THEN u.dst ELSE u.src END AS b,
       |    CASE WHEN (ds.deg < dd.deg) OR (ds.deg = dd.deg AND u.src < u.dst)
       |         THEN dd.deg ELSE ds.deg END AS bdeg
       |  FROM und u JOIN dg ds ON ds.node = u.src
       |             JOIN dg dd ON dd.node = u.dst),
       |w AS (
       |  SELECT e1.a AS ctr, e1.b AS wa, e2.b AS wb
       |  FROM o e1 JOIN o e2 ON e1.a = e2.a
       |    AND ((e1.bdeg < e2.bdeg) OR (e1.bdeg = e2.bdeg AND e1.b < e2.b))),
       |tri AS (
       |  SELECT unnest([w.ctr, w.wa, w.wb]) AS node
       |  FROM w JOIN o ON o.a = w.wa AND o.b = w.wb),
       |tv AS (SELECT node, CAST(count(*) AS BIGINT) AS t
       |  FROM tri GROUP BY 1),
       |cc AS (
       |  SELECT dg.deg, coalesce(tv.t, 0) AS t,
       |    CAST(length(bin(dg.deg)) AS BIGINT) AS bucket,
       |    CAST(CAST(round(CAST(2.0 * CAST(coalesce(tv.t, 0) AS DOUBLE)
       |      / CAST(dg.deg * (dg.deg - 1) AS DOUBLE)
       |      AS DECIMAL(28,12)), 6) AS DOUBLE) AS DECIMAL(18,6)) AS cc
       |  FROM dg LEFT JOIN tv ON tv.node = dg.node
       |  WHERE dg.deg >= 2)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(sum(deg) AS BIGINT) AS sum_deg,
       |  CAST(sum(t) AS BIGINT) AS sum_triangles,
       |  CAST(round(CAST(CAST(CAST(sum(cc) AS DECIMAL(28,6)) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
       |    AS mean_cc,
       |  CAST(round(CAST(CAST(sum(CASE WHEN cc = CAST(0 AS DECIMAL(18,6))
       |      THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
       |    AS cc_zero_share
       |FROM cc GROUP BY 1""".stripMargin

  /** q256_degree_tail — Hill (1975) tail-index estimate of the
    * degree distribution above d_min = 10: α̂ = 1 + n_tail /
    * Σ c_d·ln(d/10) over distinct degrees d ≥ 10 — is the
    * co-purchase graph scale-free (α ≈ 2–3), and how heavy is the
    * hub tail q48's salting and q182's peel must survive? (q204
    * measures who ATTACHES to hubs; this measures how extreme the
    * hubs get.) Scale: the estimator runs entirely on the DISTINCT
    * degree histogram — after the degree count, the frame is
    * ≤max-degree rows regardless of graph size. Determinism: the ln
    * runs per DISTINCT integer degree (identical operand doubles in
    * both engines), each term is latticed 12dp and multiplied by the
    * exact integer count in DECIMAL (a (10,0) count cast — lesson-3
    * precision headroom), the sum reduces exactly, and α̂ is one
    * IEEE division on converged sums. All-at-d_min tails (Σ = 0) are
    * excluded (mirrored HAVING).
    */
  def q256DegreeTail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    // dst-side degree (identical on the symmetric list): the count's
    // clustering is satisfied by coOrderEdges' hash(dst) layout, so
    // the degree histogram needs no edge-sized exchange at all
    val deg = edges(spark, dir)
      .groupBy($"dst".as("node")).agg(count(lit(1)).as("deg"))
    val hist = deg.filter($"deg" >= 10L)
      .groupBy($"deg").agg(count(lit(1)).as("c"))
      .withColumn("lnterm",
        decRound(log($"deg".cast("double") / lit(10.0)), 12)
          .cast(DecimalType(18, 12)))
    val m = hist.agg(
        sum($"c").as("n_tail"),
        max($"deg").as("max_deg"),
        sum($"lnterm" * $"c".cast(DecimalType(10, 0)))
          .cast(DecimalType(28, 10)).as("s"))
      .filter($"s" > lit(0).cast(DecimalType(28, 10)))
    m.select($"n_tail", lit(10L).as("d_min"), $"max_deg",
      decRound(lit(1.0) + $"n_tail".cast("double") / $"s".cast("double"), 6)
        .as("alpha_hill"))
  }

  /** q259_connected_components — hash-min connected components of
    * the co-purchase graph (10-round contract): node/component
    * counts, the largest component and its share, and the final
    * round's change count (0 = converged) — the is-my-graph-one-blob
    * read run before any global metric (a PageRank or assortativity
    * number pooled over disconnected islands is meaningless). See
    * [[graft.operators.Graph.connectedComponents]]: labels only
    * decrease so a zero-change round is the fixpoint (kCorePeel
    * short-circuit), per-round eager checkpoints cut the O(rounds²)
    * lineage, and post-convergence rounds are idempotent so the
    * fixed-round DuckDB mirror (MATERIALIZED per round, the q182
    * fd-exhaustion lesson) computes identical labels even when Spark
    * stops early. All counts are exact longs; the share is one IEEE
    * division latticed 6dp.
    */
  def q259ConnectedComponents(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.connectedComponents(edges(spark, dir), rounds = 10)

  private def ccStep(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT l.node, least(l.comp, coalesce(m.mc, l.comp)) AS comp
       |  FROM $prev l LEFT JOIN (
       |    SELECT e.dst AS node, min(x.comp) AS mc
       |    FROM edges e JOIN $prev x ON e.src = x.node
       |    GROUP BY 1) m ON m.node = l.node)""".stripMargin

  val q259Sql: String = {
    val steps = (1 to 10)
      .map(i => ccStep(s"l${i - 1}", s"l$i")).mkString(",\n")
    s"""WITH $edgesSql,
       |l0 AS MATERIALIZED (SELECT part AS node, part AS comp FROM deg),
       |$steps,
       |sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz
       |  FROM l10 GROUP BY 1),
       |chg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS ch
       |  FROM l10 a JOIN l9 b ON a.node = b.node AND a.comp <> b.comp)
       |SELECT CAST(sum(sz) AS BIGINT) AS n_nodes,
       |  CAST(count(*) AS BIGINT) AS n_components,
       |  CAST(max(sz) AS BIGINT) AS largest_size,
       |  CAST(round(CAST(CAST(max(sz) AS DOUBLE) / CAST(sum(sz) AS DOUBLE)
       |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS largest_share,
       |  (SELECT ch FROM chg) AS n_changed_last
       |FROM sz""".stripMargin
  }

  val q256Sql: String =
    s"""WITH $edgesSql,
       |h AS (
       |  SELECT deg, CAST(count(*) AS BIGINT) AS c
       |  FROM deg WHERE deg >= 10 GROUP BY 1),
       |t AS (
       |  SELECT deg, c,
       |    CAST(CAST(round(CAST(ln(CAST(deg AS DOUBLE) / 10.0)
       |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(18,12))
       |      AS lnterm
       |  FROM h),
       |m AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n_tail,
       |    CAST(max(deg) AS BIGINT) AS max_deg,
       |    CAST(round(sum(lnterm * CAST(c AS DECIMAL(10,0))), 10)
       |      AS DECIMAL(28,10)) AS s
       |  FROM t
       |  HAVING sum(lnterm * CAST(c AS DECIMAL(10,0))) > 0)
       |SELECT n_tail, CAST(10 AS BIGINT) AS d_min, max_deg,
       |  CAST(round(CAST(1.0 + CAST(n_tail AS DOUBLE) / CAST(s AS DOUBLE)
       |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS alpha_hill
       |FROM m""".stripMargin

  /** q274_edge_jaccard — neighborhood Jaccard similarity over a
    * deterministic 1-in-100 systematic edge sample (the top-20 most
    * similar co-purchase pairs): common neighbors via direct
    * adjacency-list intersection (sample ⋈ adjacency on u, one hash
    * join on (v, neighbor)), union = deg(u)+deg(v)−2−common — the
    * link-prediction / substitute-detection read next to q175's
    * global closure and q204's assortativity. The SAMPLE is the
    * 100-TB design: an all-edges score credits every triangle to its
    * three edges, and this graph is dense enough (411M wedges at ×10
    * dev scale, measured) that the credit stream dwarfs the graph —
    * the sampled intersection costs sample_size × avg_degree,
    * tunable and triangle-count-independent. Determinism: the sample
    * rule (u+v) mod 100 = 0 is pure integer arithmetic; counts and
    * degrees pure integers; denominator ≥ common ≥ 1 by
    * construction; one IEEE division latticed 6dp; top-20 on the
    * total (jaccard, u, v) order.
    */
  def q274EdgeJaccard(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.edgeJaccard(edges(spark, dir),
      modulus = 100, topK = 20)

  val q274Sql: String =
    s"""WITH $edgesSql,
       |dgj AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
       |sampled AS (
       |  SELECT src AS u, dst AS v FROM edges
       |  WHERE src < dst AND (src + dst) % 100 = 0),
       |nu AS (
       |  SELECT s.u, s.v, e.dst AS n
       |  FROM sampled s JOIN edges e ON e.src = s.u),
       |cm AS (
       |  SELECT nu.u, nu.v, CAST(count(*) AS BIGINT) AS common
       |  FROM nu JOIN edges e2 ON e2.src = nu.v AND e2.dst = nu.n
       |  GROUP BY 1, 2),
       |f AS (
       |  SELECT cm.u, cm.v, CAST(du.deg AS BIGINT) AS deg_u,
       |    CAST(dv.deg AS BIGINT) AS deg_v, cm.common
       |  FROM cm JOIN dgj du ON du.node = cm.u
       |    JOIN dgj dv ON dv.node = cm.v)
       |SELECT u, v, deg_u, deg_v, common,
       |  CAST(round(CAST(CAST(common AS DOUBLE)
       |    / CAST(deg_u + deg_v - 2 - common AS DOUBLE)
       |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS jaccard
       |FROM f ORDER BY jaccard DESC, u, v LIMIT 20""".stripMargin

  /** q288_label_prop — community structure of the co-purchase graph:
    * 2 rounds of synchronous mode-of-neighbors label propagation
    * ([[graft.operators.Graph.labelPropagation]] — deterministic
    * (count desc, label asc) tie-break; min-label propagation would
    * only rediscover q259's connected components), then the Newman
    * MODULARITY of the resulting partition, Q = Σ_c [L_c/m −
    * (d_c/2m)²] — "did propagation find communities denser than
    * their cut" (Q ≈ 0 on this near-random co-purchase graph is
    * itself the finding), plus the community count and the largest
    * community. Scale: each LPA round is one edge×label join + a
    * map-side-combined (src, lbl) count + a per-src rank window,
    * label state under the stateHint broadcast/shuffle discipline;
    * everything after the rounds reduces on the ≤|communities| frame
    * (single-partition window over the reduced frame — the q254
    * discipline). Determinism: labels/counts/degrees PURE INTEGER;
    * each community's Q term is one IEEE expression on integers
    * latticed 12dp so the cross-community sum reduces exactly (the
    * q277 associativity lesson); 6dp output.
    */
  def q288LabelProp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    // the co-purchase edge list (a lineitem self-join) materializes
    // ONCE: degrees, the edge total, the LPA rounds, and the
    // intra-edge census all read the checkpointed blocks (the
    // pageRank build-exactly-once discipline — without the cut each
    // consumer re-ran the self-join; measured 41 exchanges → ~12)
    val parts = spark.sessionState.conf.numShufflePartitions
    // hash(dst), matching coOrderEdges' dedup-exchange layout (the
    // repartition is then a same-layout collapse, not a re-shuffle of
    // a differently-keyed frame) — and labelPropagation uses the
    // checkpointed frame AS-IS instead of re-materializing it; the
    // dst-side degree count is exchange-free on these blocks
    val e = graft.operators.Graph.checkpointKeepLayout(
      edges(spark, dir).repartition(parts, $"dst"))
    // symmetric: coOrderEdges emits both directions by construction,
    // so the LPA seed can come from the dst side alone (exchange-free
    // under the hash(dst) layout — see labelPropagation's seed note)
    val lab = graft.operators.Graph.labelPropagation(e, rounds = 2,
      symmetric = true)
    // the label frame is vertex-sized and checkpointed: hint it with
    // the measured stateHint discipline (the census joins otherwise
    // sort-merge the edge list against it — the exchange-free inputs
    // leave AQE nothing to re-plan from)
    val st = graft.operators.Graph.stateHint(
      lab.count() <= graft.operators.Graph.BroadcastVertexLimit)
    val deg = e.groupBy($"dst".as("node")).agg(count(lit(1)).as("deg"))
    val mdir = e.agg(count(lit(1)).as("m_dir"))
    val el = e
      .join(st(lab.select($"node".as("src"), $"lbl".as("l_src"))), "src")
      .join(st(lab.select($"node".as("dst"), $"lbl".as("l_dst"))), "dst")
    val intra = el.filter($"l_src" === $"l_dst")
      .groupBy($"l_src".as("lbl")).agg(count(lit(1)).as("intra_dir"))
    val ds = deg.join(lab, "node")
      .groupBy($"lbl").agg(sum($"deg").as("d_c"), count(lit(1)).as("sz"))
    val mD = $"m_dir".cast("double")
    val t = ds.join(intra, Seq("lbl"), "left")
      .na.fill(0L, Seq("intra_dir"))
      .crossJoin(broadcast(mdir))
      .select($"lbl", $"sz",
        decRound($"intra_dir".cast("double") / mD
          - ($"d_c".cast("double") / mD) * ($"d_c".cast("double") / mD),
          12).cast(DecimalType(18, 12)).as("term"))
    val agg0 = t.agg(count(lit(1)).as("n_communities"),
      decRound(sum($"term").cast("double"), 6).as("modularity"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val tp = t
      .withColumn("rn",
        row_number().over(Window.orderBy($"sz".desc, $"lbl".asc)))
      .filter($"rn" === 1)
      .select($"lbl".as("top_label"), $"sz".as("top_size"))
    broadcast(nNodes).crossJoin(broadcast(agg0)).crossJoin(broadcast(tp))
      .select($"n_nodes", $"n_communities", $"modularity",
        $"top_label", $"top_size")
  }

  private def lpaRoundSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT src AS node, lbl FROM (
       |    SELECT e.src, l.lbl, count(*) AS cnt,
       |      row_number() OVER (PARTITION BY e.src
       |        ORDER BY count(*) DESC, l.lbl) AS rn
       |    FROM edges e JOIN $prev l ON e.dst = l.node
       |    GROUP BY e.src, l.lbl) WHERE rn = 1)""".stripMargin

  val q288Sql: String =
    s"""WITH $edgesSql,
       |l0 AS (SELECT part AS node, part AS lbl FROM deg),
       |${lpaRoundSql("l0", "l1")},
       |${lpaRoundSql("l1", "l2")},
       |md AS (SELECT CAST(count(*) AS BIGINT) AS m_dir FROM edges),
       |el AS (
       |  SELECT ls.lbl AS l_src, ld.lbl AS l_dst
       |  FROM edges e JOIN l2 ls ON e.src = ls.node
       |    JOIN l2 ld ON e.dst = ld.node),
       |intra AS (
       |  SELECT l_src AS lbl, CAST(count(*) AS BIGINT) AS intra_dir
       |  FROM el WHERE l_src = l_dst GROUP BY 1),
       |ds AS (
       |  SELECT l2.lbl, CAST(sum(deg.deg) AS BIGINT) AS d_c,
       |    CAST(count(*) AS BIGINT) AS sz
       |  FROM deg JOIN l2 ON deg.part = l2.node GROUP BY 1),
       |t AS (
       |  SELECT ds.lbl, ds.sz,
       |    CAST(CAST(round(CAST(
       |      CAST(coalesce(intra.intra_dir, 0) AS DOUBLE)
       |        / CAST(m_dir AS DOUBLE)
       |      - (CAST(ds.d_c AS DOUBLE) / CAST(m_dir AS DOUBLE))
       |        * (CAST(ds.d_c AS DOUBLE) / CAST(m_dir AS DOUBLE))
       |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(18,12)) AS term
       |  FROM ds LEFT JOIN intra USING (lbl) CROSS JOIN md),
       |tp AS (
       |  SELECT lbl AS top_label, sz AS top_size,
       |    row_number() OVER (ORDER BY sz DESC, lbl) AS rn
       |  FROM t)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       |  (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_communities,
       |  (SELECT CAST(round(CAST(CAST(sum(term) AS DOUBLE)
       |    AS DECIMAL(28,12)), 6) AS DOUBLE) FROM t) AS modularity,
       |  tp.top_label, tp.top_size
       |FROM tp WHERE rn = 1""".stripMargin

}
