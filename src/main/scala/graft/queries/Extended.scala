package graft.queries

import graft.Tables
import graft.operators.{Ann, Scd2}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extended operator coverage (SURVEY §2, q43–q54): embedding-cosine
  * dedup, IVF ANN, pivot/unpivot, range join, skew-salted join, merge
  * upsert, data-quality audit, rolling correlation, sketch merge, CUBE,
  * and time-range window frames.
  */
object Extended {

  /** q43_cosine_dedup — exact embedding-cosine near-dup pairs over a
    * bounded subset (the certification tier for the LSH scale path).
    */
  def q43CosineDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Ann.cosinePairs(Tables.embeddings(spark, dir).filter($"vec_id" < 1000),
      threshold = 0.4)
  }

  val q43Sql: String =
    """SELECT id_a, id_b, round(c, 6) AS cos_sim FROM (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                           CAST(b.embedding AS DOUBLE[])) AS c
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE a.vec_id < 1000 AND b.vec_id < 1000)
      |WHERE c >= 0.4""".stripMargin

  /** q69_dedup_embedding_lsh — the scalable embedding near-dup path:
    * LSH-bucketed candidates + exact rerank at threshold 0.4, certified
    * (q32's pattern): the emitted row is the exact-pair count on the
    * vec_id < 1000 certification slice (q43's proven-matchable ground
    * truth — the full-corpus exact pair set is quadratic and belongs to
    * no oracle) plus a flag that the banded path run over the FULL
    * corpus recovered ≥ 50% of that slice (measured 67–76%; banding-
    * limited recall is the documented trade of this tier).
    */
  def q69DedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val truth = Ann.cosinePairs(emb.filter($"vec_id" < 1000), threshold = 0.4)
      .select($"id_a", $"id_b")
    val found = Ann.lshCosinePairs(emb, threshold = 0.4,
      tables = 16, bits = 6).select($"id_a", $"id_b")
    val n = truth.count()
    val hits = truth.join(found, Seq("id_a", "id_b"), "left_semi").count()
    Seq((n, n == 0 || hits.toDouble / n >= 0.5))
      .toDF("n_true_pairs", "recall_ok")
  }

  val q69Sql: String =
    """SELECT count(*) AS n_true_pairs, true AS recall_ok FROM (
      |  SELECT a.vec_id,
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                           CAST(b.embedding AS DOUBLE[])) AS c
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE a.vec_id < 1000 AND b.vec_id < 1000)
      |WHERE c >= 0.4""".stripMargin

  /** q70_name_match — entity resolution by edit distance (the
    * securities-master "same instrument, different feed spelling"
    * primitive), via [[graft.operators.EditDistance.pairs]]: small
    * inputs take the brand-blocked broadcast plan, large inputs the
    * PassJoin segment inverted index when a single block alone is a
    * quadratic straggler. Block groups GROW with the data (brand
    * cardinality is fixed), so blocked pair volume is quadratic; on
    * dup-dense data the OUTPUT is quadratic too and blocked wins
    * (sf1.0: 51M true pairs, blocked 11.7s vs segment 172s), which is
    * why the auto statistic is max block size, not input size. Both
    * paths spec-proven bit-equal; the bench forces the segment path
    * every round.
    */
  def q70NameMatch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EditDistance.pairs(
      Tables.part(spark, dir), keyCol = "p_partkey", nameCol = "p_name",
      blockCol = "p_brand", maxDist = 3)

  val q70Sql: String =
    """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
      |  levenshtein(a.p_name, b.p_name) AS lev
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      | AND abs(length(a.p_name) - length(b.p_name)) <= 3
      |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin

  /** q189_name_link — record linkage by JARO–WINKLER similarity (the
    * prefix-weighted complement to q70's edit distance: transposition
    * tolerant, prefix-favoring — the classic census/securities
    * cross-feed matcher for short entity names where levenshtein's
    * unit-cost model over-penalizes swapped tokens). Candidate pairs
    * come from (brand, first-token) blocks; each pair pays one
    * O(|a|·|b|) native [[graft.functions.StringSim]] scoring — no
    * UDF, no regex. Threshold 0.92 sits above the organic ScaleUp
    * tag band (~0.86 for 6-char-suffixed twins) so derived-scale
    * outputs stay linear in the factor.
    *
    * Scale shape: STATS-GUARDED dual plan, the q70 discipline
    * ([[graft.operators.EditDistance.jwPairs]]). Small inputs take the
    * exact blocked equi-join (both sides hash on (p_brand, tok) —
    * co-located, pair volume Σ|block|²/2); when a measured block group
    * exceeds [[graft.operators.EditDistance.JwBlockRowLimit]] the
    * plan flips to the winnow-fingerprint prefilter restricted to the
    * same block domain — candidate volume bounded by fingerprint
    * bucket density, not block size², so a hot (brand, token) block
    * at 100× can't go quadratic. Both paths priced in the bench
    * (q189 vs x_namelink_winnow / x_namelink_winnow_blocked). Part is
    * a dimension table — the fact-side never touches this plan.
    */
  def q189NameLink(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.part(spark, dir)
      .select($"p_partkey", $"p_name", $"p_brand",
        split($"p_name", " ").getItem(0).as("tok"))
    graft.operators.EditDistance.jwPairs(
      p, keyCol = "p_partkey", nameCol = "p_name",
      blockCols = Seq("p_brand", "tok"), threshold = 0.92)
  }

  val q189Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_name, p_brand,
      |    split_part(p_name, ' ', 1) AS tok
      |  FROM part)
      |SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
      |  CAST(round(CAST(jaro_winkler_similarity(a.p_name, b.p_name)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS sim
      |FROM p a JOIN p b
      |  ON a.p_brand = b.p_brand AND a.tok = b.tok
      | AND a.p_partkey < b.p_partkey
      |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.92""".stripMargin

  /** q44_ann_ivf — IVF cell-probed ANN, top-3 per query. */
  def q44AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    // certified like q36: cell assignment is quantizer-specific, so the
    // emitted row is exact-neighbor count + a >= 80% recall flag for
    // the nProbe=4 probe path (measured 97-100%)
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val truth = Ann.bruteForceTopK(emb.filter($"vec_id" < 10), emb, k = 3)
      .select($"query_id", $"neighbor_id")
    val found = Ann.ivfTopK(emb.filter($"vec_id" < 10), emb, k = 3)
      .select($"query_id", $"neighbor_id")
    Certify.recallContract(spark, truth, found, Seq("query_id", "neighbor_id"),
      minRecall = 0.8, nCol = "n_exact_neighbors")
  }

  val q44Sql: String =
    """SELECT count(*) AS n_exact_neighbors, true AS recall_ok FROM (
      |  SELECT q.vec_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(n.embedding AS DOUBLE[])) DESC,
      |               n.vec_id) AS rnk
      |  FROM embeddings q, embeddings n
      |  WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
      |WHERE rnk <= 3""".stripMargin

  /** q45_pivot — order-status counts pivoted into columns per market
    * segment. Explicit pivot values keep the schema static (no extra
    * distinct-values job, plan is known at compile time).
    */
  def q45Pivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("seg"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
  }

  val q45Sql: String =
    """SELECT c_mktsegment AS seg,
      |  count(*) FILTER (o_orderstatus = 'F') AS "F",
      |  count(*) FILTER (o_orderstatus = 'O') AS "O",
      |  count(*) FILTER (o_orderstatus = 'P') AS "P"
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** q46_unpivot — melt the pivoted wide table back to long form. */
  def q46Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = q45Pivot(spark, dir)
    wide.unpivot(Array(col("seg")), Array(col("F"), col("O"), col("P")),
      "status", "n")
  }

  val q46Sql: String =
    """SELECT c_mktsegment AS seg, o_orderstatus AS status, count(*) AS n
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2""".stripMargin

  /** q47_range_join — for each purchase, the count of clicks by the
    * same user in the preceding hour.
    *
    * Spark plan: the DECLARATIVE range join — purchases carry a
    * [[graft.plans.RangeJoinBinning.withBinWidth]] hint (3600 s bins)
    * and the optimizer rule performs the binned rewrite the first
    * twelve rounds hand-wrote here: interval side exploded to its two
    * covering hour bins, equi-join on (user, bin), exact range bounds
    * as the residual. Same physical shape, now owned by the rule (and
    * priced against the nested alternative as x_range_rule /
    * x_range_nested every round). Purchases with zero clicks are
    * restored by a final left join.
    */
  def q47RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_timestamp($"ts").as("p_sec"))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), unix_timestamp($"ts").as("c_sec"))
    val pH = graft.plans.RangeJoinBinning.withBinWidth(p, 3600L)
    val counts = pH.join(c,
        pH("user_id") === c("c_user") &&
          c("c_sec") >= pH("p_sec") - 3600L && c("c_sec") < pH("p_sec"))
      .groupBy($"event_id").agg(count(lit(1)).as("n_clicks"))
    p.join(counts, Seq("event_id"), "left_outer")
      .select($"event_id", coalesce($"n_clicks", lit(0L)).as("n_clicks"))
  }

  val q47Sql: String =
    """SELECT p.event_id, count(c.user_id) AS n_clicks
      |FROM events p LEFT JOIN events c
      |  ON c.user_id = p.user_id AND c.event_type = 'click'
      | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id""".stripMargin

  /** q48_salted_join — skew-resistant salted shuffle join, hot-key
    * tier: a cheap pre-aggregation finds the keys whose fact-side
    * multiplicity exceeds `hotThreshold`; ONLY those keys are salted
    * (fact rows get a deterministic salt in [0, 8), the dimension rows
    * are replicated once per salt), everything else joins plainly with
    * salt 0. A hot orderkey spreads over 8 reducers while the dimension
    * pays replication only for the (tiny, broadcast) hot set — not ×8
    * across the board, which at 100 TB would octuple the dim shuffle to
    * protect keys that were never skewed. Result is identical to the
    * unsalted join (the oracle); with no hot keys the plan degenerates
    * to exactly the plain join plus one constant column.
    */
  def q48SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // hotThreshold is exercised by the synthetic-skew spec; TPC-H
    // orderkeys max out at 7 lineitems, so here the hot set is empty
    // and the plan is certified to degenerate to the plain join.
    // The fact side is spread first (discovery-4, r16): at bench scale
    // lineitem reads as one parquet split, and with the dim broadcast
    // the whole probe + decimal rollup chain ran in that single task
    // (r17 QBench: wall 1.45 s ≈ CPU 1.1 s); no-op once the scan has a
    // split per core.
    graft.operators.Skew.saltedJoin(
        graft.operators.Ann.spreadForCompute(Tables.lineitem(spark, dir)),
        Tables.orders(spark, dir).select($"o_orderkey", $"o_orderpriority"),
        factKey = "l_orderkey", dimKey = "o_orderkey",
        saltSource = xxhash64($"l_linenumber", $"l_orderkey"))
      .groupBy($"o_orderpriority")
      // money lattice (q5's sf1.0 lesson): 5 priority groups over all
      // lineitem — drift grows with data
      .agg(count(lit(1)).as("n_lines"),
        round(sum($"l_extendedprice"
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
          (lit(1.0) - $"l_discount")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))), 2)
          .cast("double").as("revenue"))
  }

  val q48Sql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * CAST(1.0 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE)
      |    AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** q49_merge_upsert — SCD1 merge: a delta batch (every 10th order,
    * repriced) upserts into the base snapshot; delta wins on key
    * collision. One union + one keyed window pass — the scalable merge
    * shape (no join fan-out, partial sort per key).
    */
  def q49MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_totalprice", lit("base").as("src"))
    val delta = Tables.orders(spark, dir)
      .filter($"o_orderkey" % 10 === 0)
      // ×2 is exact in binary floating point — no rounding step, so the
      // Spark and DuckDB values are bit-identical (×1.1 + round(2) hit
      // HALF_UP-vs-FP-round disagreements at .005 boundaries)
      .select($"o_orderkey", ($"o_totalprice" * 2).as("o_totalprice"),
        lit("delta").as("src"))
    val w = Window.partitionBy($"o_orderkey")
      .orderBy(when($"src" === "delta", 0).otherwise(1))
    base.unionByName(delta)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_orderkey", $"o_totalprice", $"src")
  }

  val q49Sql: String =
    """WITH all_rows AS (
      |  SELECT o_orderkey, o_totalprice, 'base' AS src FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice * 2, 'delta' FROM orders
      |  WHERE o_orderkey % 10 = 0),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |    ORDER BY CASE src WHEN 'delta' THEN 0 ELSE 1 END) AS rn
      |  FROM all_rows)
      |SELECT o_orderkey, o_totalprice, src FROM ranked WHERE rn = 1""".stripMargin

  /** q50_quality_audit — single-pass data-quality profile of lineitem:
    * row/key counts, domain violations, value ranges. One scan, one
    * single-row aggregate — the shape of a 100 TB table audit.
    */
  def q50QualityAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val dupKeys = li.groupBy($"l_orderkey", $"l_linenumber")
      .agg(count(lit(1)).as("c")).filter($"c" > 1)
      .agg(count(lit(1)).as("dup_keys"))
    li.agg(
      count(lit(1)).as("n_rows"),
      sum(when($"l_quantity".isNull, 1L).otherwise(0L)).as("null_qty"),
      sum(when($"l_quantity" <= 0, 1L).otherwise(0L)).as("nonpos_qty"),
      sum(when($"l_discount" < 0 || $"l_discount" > 1, 1L).otherwise(0L)).as("bad_discount"),
      min($"l_shipdate").as("min_shipdate"),
      max($"l_shipdate").as("max_shipdate"))
      .crossJoin(dupKeys)
  }

  val q50Sql: String =
    """SELECT
      |  (SELECT count(*) FROM lineitem) AS n_rows,
      |  (SELECT CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem) AS null_qty,
      |  (SELECT CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem) AS nonpos_qty,
      |  (SELECT CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem) AS bad_discount,
      |  (SELECT min(l_shipdate) FROM lineitem) AS min_shipdate,
      |  (SELECT max(l_shipdate) FROM lineitem) AS max_shipdate,
      |  (SELECT count(*) FROM (
      |     SELECT l_orderkey, l_linenumber FROM lineitem
      |     GROUP BY 1, 2 HAVING count(*) > 1)) AS dup_keys""".stripMargin

  /** q51_rolling_corr — 20-row trailing correlation between event value
    * and event time per user (drift detector). Only full windows are
    * emitted so both engines agree on frame membership.
    */
  def q51RollingCorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val frame = ord.rowsBetween(-19, 0)
    Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"value",
        $"ts".cast("double").as("tsd"))
      .withColumn("corr20", corr($"value", $"tsd").over(frame))
      .withColumn("rn", row_number().over(ord))
      .filter($"rn" >= 20)
      // decimal-space round: normalizes -0.0 and pins half-boundary
      // rounding to the same half-up rule in both engines (see q24)
      .select($"event_id",
        round($"corr20".cast(org.apache.spark.sql.types.DecimalType(28, 12)), 4)
          .cast("double").as("corr20"))
  }

  val q51Sql: String =
    """SELECT event_id, CAST(round(CAST(c AS DECIMAL(28,12)), 4) AS DOUBLE) AS corr20 FROM (
      |  SELECT event_id,
      |    corr(value, epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS c,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events)
      |WHERE rn >= 20""".stripMargin

  /** q52_sketch_union — mergeable HLL sketches (DataSketches): per-type
    * user sketches built on two disjoint halves of the stream, merged
    * without rescanning — the pattern that makes distinct-count
    * incremental at 100 TB (sketch per partition/day, union at read).
    * rows-only: estimates are engine-specific.
    */
  def q52SketchUnion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"event_type", $"user_id", $"event_id")
    val h1 = ev.filter($"event_id" % 2 === 0).groupBy($"event_type")
      .agg(hll_sketch_agg($"user_id").as("s1"))
    val h2 = ev.filter($"event_id" % 2 =!= 0).groupBy($"event_type")
      .agg(hll_sketch_agg($"user_id").as("s2"))
    // like q20: the estimate itself is sketch-implementation-specific,
    // so the emitted row is the mergeability CONTRACT — the exact
    // distinct count plus a flag certifying the unioned halves estimate
    // it within 5% (measured worst case 0.8% across SFs)
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"))
    h1.join(h2, Seq("event_type")).join(exact, Seq("event_type"))
      .select($"event_type", $"exact_users",
        (abs(hll_sketch_estimate(hll_union($"s1", $"s2")).cast("double") /
          $"exact_users" - 1.0) <= 0.05).as("union_within_5pct"))
  }

  val q52Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      |  true AS union_within_5pct
      |FROM events GROUP BY event_type""".stripMargin

  /** q53_cube — CUBE over (status, priority): all 4 grouping sets in
    * one pass (Expand + single shuffle), not 4 scans.
    */
  def q53Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .withColumn("tp",
        $"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
      .cube($"o_orderstatus", $"o_orderpriority")
      // money lattice (q5's sf1.0 lesson): exact-decimal sum of the 2dp
      // price so cube totals are order-independent across engines;
      // cast projected below the cube so Expand's copies share it
      .agg(count(lit(1)).as("n"),
        round(sum($"tp"), 2).cast("double").as("total"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("prio"),
        $"n", $"total")
  }

  val q53Sql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS prio,
      |  count(*) AS n,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
      |    AS total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin

  /** q54_window_range_frame — 7-day trailing spend per customer: a
    * RANGE frame over event-time seconds (peers at equal timestamps
    * are all included, unlike a ROWS frame).
    */
  def q54RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".cast("long"))
      .rangeBetween(-7L * 86400, 0)
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        round(sum($"o_totalprice").over(w), 2).as("trailing_7d"))
  }

  val q54Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderdate,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
      |    RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW), 2) AS trailing_7d
      |FROM orders""".stripMargin

  /** q55_stratified_sample — deterministic per-stratum sampling (the
    * train/val split + data-mixing primitive): 20% of 'en' docs, 50% of
    * everything else, keyed on doc_id so the split is reproducible
    * across runs and engines (no RNG — a resumable 100 TB pipeline
    * cannot depend on partition-order-sensitive random streams).
    */
  def q55StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sampled = when($"lang" === "en", $"doc_id" % 100 < 20)
      .otherwise($"doc_id" % 100 < 50)
    Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when(sampled, 1L).otherwise(0L)).as("n_sampled"))
  }

  val q55Sql: String =
    """SELECT lang, count(*) AS n_total,
      |  CAST(sum(CASE WHEN (lang = 'en' AND doc_id % 100 < 20)
      |    OR (lang <> 'en' AND doc_id % 100 < 50) THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM documents GROUP BY lang""".stripMargin

  /** q56_vocab — corpus vocabulary: top-100 tokens by document
    * frequency. Explode → map-side-combined count → TakeOrdered: the
    * shuffle carries one row per (partition, token), not per
    * occurrence.
    */
  def q56Vocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(graft.functions.Text.tokens($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token").limit(100)
  }

  val q56Sql: String =
    """SELECT token, count(*) AS n FROM (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      |  FROM documents)
      |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin

  /** q57_tfidf — top-3 TF-IDF terms per document. tf and df come from
    * ONE tokenization pass (df is an aggregate of the tf relation);
    * the corpus size joins in as a broadcast scalar.
    */
  def q57Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select($"doc_id", explode(graft.functions.Text.tokens($"text")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    // df = rows per token in the tf relation — a window over token, not
    // a groupBy+self-join (which re-executed the whole tf subtree and
    // added two more exchanges)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"doc_id").orderBy($"score_raw".desc, $"token")
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy($"token")))
      .crossJoin(broadcast(n))
      .withColumn("score_raw", $"tf" * log($"n_docs".cast("double") / $"df"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"doc_id", $"token", round($"score_raw", 4).as("tfidf"), $"rnk")
  }

  val q57Sql: String =
    """WITH tf AS (
      |  SELECT doc_id, token, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      |    FROM documents)
      |  GROUP BY doc_id, token),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, tf.token AS token,
      |    tf * ln(CAST(n_docs AS DOUBLE) / df) AS score_raw,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY tf * ln(CAST(n_docs AS DOUBLE) / df) DESC, tf.token) AS rnk
      |  FROM tf, df, n WHERE tf.token = df.token)
      |SELECT doc_id, token, round(score_raw, 4) AS tfidf, rnk
      |FROM scored WHERE rnk <= 3""".stripMargin

  /** q58_pipeline — the end-to-end training-data prep shape: quality
    * gate → exact dedup (keep canonical) → language filter → token
    * accounting. Each stage is the operator already certified on its
    * own; this query certifies the composition.
    */
  def q58Pipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val toks = graft.functions.Text.tokens($"text")
    val quality = docs
      .withColumn("n_tokens", size(toks))
      .filter($"n_tokens" >= 10 && $"lang" === "en")
    val w = Window.partitionBy($"text").orderBy($"doc_id")
    quality
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1) // canonical copy per distinct text
      .select($"doc_id", $"n_tokens",
        ceil(length($"text").cast("double") / 4.0).cast("long").as("est_bpe_tokens"))
  }

  val q58Sql: String =
    """WITH quality AS (
      |  SELECT doc_id, text,
      |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
      |  FROM documents WHERE lang = 'en'),
      |dedup AS (
      |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      |  FROM quality WHERE n_tokens >= 10)
      |SELECT doc_id, n_tokens,
      |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS est_bpe_tokens
      |FROM dedup WHERE rn = 1""".stripMargin

  /** q59_asof_tolerance — as-of join with a staleness bound: each click
    * gets the user's most recent purchase value, but only if that
    * purchase is at most 1 day old ("quote too stale" rule). Same
    * single-shuffle union+window plan as q21, tolerance applied as a
    * row-local filter.
    */
  def q59AsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    // same-µs duplicate purchases: AsOf's struct tie key picks the max
    // value deterministically; the oracle mirrors with p.value DESC
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    graft.operators.AsOf.join(clicks, purchases, key = "user_id",
      leftTs = "ts", rightTs = "ts",
      rightVals = Seq("value" -> "last_purchase_value"),
      inner = true, toleranceSec = Some(86400L))
      .select($"event_id", round($"last_purchase_value", 2).as("last_purchase_value"))
  }

  val q59Sql: String =
    """SELECT e.event_id, round(p.value, 2) AS last_purchase_value
      |FROM events e JOIN LATERAL (
      |  SELECT value FROM events p
      |  WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
      |    AND p.ts <= e.ts AND p.ts >= e.ts - INTERVAL 1 DAY
      |  ORDER BY p.ts DESC, p.value DESC LIMIT 1) p ON true
      |WHERE e.event_type = 'click'""".stripMargin

  /** q60_gap_fill — calendar alignment + forward fill: one row per
    * (user, day) over each user's active date range, carrying the last
    * observed value forward across silent days (the daily-bar
    * gap-filling step of a securities master).
    *
    * Plan: per-day last value (keyed window), per-user day spine
    * (sequence + explode — rows bounded by date range, not data), left
    * join, then ONE forward-fill window pass. Everything shuffles on
    * user_id only.
    */
  def q60GapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"value", $"event_id",
        date_trunc("day", $"ts").as("d"))
    val wDay = Window.partitionBy($"user_id", $"d")
      .orderBy($"ts".desc, $"event_id".desc)
    val daily = ev.withColumn("rn", row_number().over(wDay))
      .filter($"rn" === 1).select($"user_id", $"d", $"value".as("close"))
    val spine = ev.groupBy($"user_id").agg(min($"d").as("mn"), max($"d").as("mx"))
      .select($"user_id",
        explode(sequence($"mn", $"mx", expr("interval 1 day"))).as("d"))
    val wFill = Window.partitionBy($"user_id").orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "d"), "left_outer")
      .withColumn("close_ff", last($"close", ignoreNulls = true).over(wFill))
      .select($"user_id", $"d".as("day"), $"close_ff")
  }

  /** q63_funnel — conversion funnel: per event type stage, how many
    * users reached it AFTER completing the previous stage (signup →
    * click → purchase), with first-touch timestamps. One groupBy pass
    * (conditional min aggregates), no joins.
    */
  def q63Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === "signup", $"ts")).as("t_signup"),
        min(when($"event_type" === "click", $"ts")).as("t_click_any"),
        min(when($"event_type" === "purchase", $"ts")).as("t_purchase_any"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum(when($"t_signup".isNotNull, 1L).otherwise(0L)).as("n_signup"),
      sum(when($"t_signup".isNotNull && $"t_click_any" > $"t_signup", 1L)
        .otherwise(0L)).as("n_click_after_signup"),
      sum(when($"t_signup".isNotNull && $"t_purchase_any" > $"t_signup", 1L)
        .otherwise(0L)).as("n_purchase_after_signup"))
  }

  val q63Sql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
      |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click_any,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase_any
      |  FROM events GROUP BY user_id)
      |SELECT count(*) AS n_users,
      |  CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click_any > t_signup
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_signup,
      |  CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_purchase_any > t_signup
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_after_signup
      |FROM per_user""".stripMargin

  /** q64_event_paths — top-10 per-user event-type journeys: the ordered
    * path string assembled ROW-LOCALLY from a sorted struct array (no
    * per-event shuffle beyond the user groupBy), then a count + top-k.
    */
  def q64EventPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct($"ts", $"event_id", $"event_type"))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n_users"))
      .orderBy($"n_users".desc, $"path").limit(10)
  }

  val q64Sql: String =
    """SELECT path, count(*) AS n_users FROM (
      |  SELECT user_id,
      |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      |  FROM events GROUP BY user_id)
      |GROUP BY path ORDER BY n_users DESC, path LIMIT 10""".stripMargin

  /** q65_approx_quantile — mergeable quantile sketch next to the exact
    * percentile (the quantile analog of q20's HLL check): at 100 TB the
    * sketch is the only option, the exact column certifies it at test
    * scale. rows-only: sketch estimates are engine-specific.
    */
  def q65ApproxQuantile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // emitted contract (q20's pattern): exact percentiles plus flags
    // certifying the sketch. p50 gets a value bound (5% rel + 0.01
    // abs; observed worst case 0.61%); p99 gets a RANK bound — the
    // approx lands inside the exact [p95, max] envelope — because a
    // GK-style sketch promises rank accuracy and returns an actual
    // data point, while interpolated tail percentiles on a ~40-row
    // group can sit far (in value) from every data point. The
    // estimates themselves are accuracy-parameter- and
    // engine-specific, hence not emitted.
    import graft.functions.Num.decRound
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        decRound(percentile($"value", lit(0.5)), 2).as("exact_p50"),
        decRound(percentile($"value", lit(0.99)), 2).as("exact_p99"),
        (abs(approx_percentile($"value", lit(0.5), lit(10000)) -
          percentile($"value", lit(0.5))) <=
          abs(percentile($"value", lit(0.5))) * 0.05 + 0.01)
          .as("p50_within_tol"),
        approx_percentile($"value", lit(0.99), lit(10000))
          .between(percentile($"value", lit(0.95)), max($"value"))
          .as("p99_within_tol"))
  }

  val q65Sql: String =
    """SELECT event_type,
      |  CAST(round(CAST(quantile_cont(value, 0.5) AS DECIMAL(28,12)), 2)
      |    AS DOUBLE) AS exact_p50,
      |  CAST(round(CAST(quantile_cont(value, 0.99) AS DECIMAL(28,12)), 2)
      |    AS DOUBLE) AS exact_p99,
      |  true AS p50_within_tol, true AS p99_within_tol
      |FROM events GROUP BY event_type""".stripMargin

  /** q66_window_distribution — the distribution window family: ntile
    * quartiles, percent_rank, cume_dist and frame-bounded first/last
    * value over per-customer spend.
    */
  def q66WindowDistribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spend = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"))
    val w = Window.orderBy($"spend".desc, $"o_custkey")
    spend
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w)
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6).cast("double"))
      .withColumn("cume", round(cume_dist().over(w)
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6).cast("double"))
  }

  val q66Sql: String =
    """SELECT o_custkey, spend,
      |  ntile(4) OVER w AS quartile,
      |  CAST(round(CAST(percent_rank() OVER w AS DECIMAL(28,12)), 6) AS DOUBLE) AS pct_rank,
      |  CAST(round(CAST(cume_dist() OVER w AS DECIMAL(28,12)), 6) AS DOUBLE) AS cume
      |FROM (SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
      |      FROM orders GROUP BY o_custkey)
      |WINDOW w AS (ORDER BY spend DESC, o_custkey)""".stripMargin

  /** q67_set_ops — INTERSECT / EXCEPT: customers active in both halves
    * of the year vs only the first half (planned as semi/anti joins on
    * pre-aggregated key sets).
    */
  def q67SetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
    val h1 = ord.filter($"o_orderdate" < lit("1996-07-01").cast("timestamp"))
      .select($"o_custkey").distinct()
    val h2 = ord.filter($"o_orderdate" >= lit("1996-07-01").cast("timestamp"))
      .select($"o_custkey").distinct()
    val both = h1.intersect(h2).agg(count(lit(1)).as("n")).select(lit("both_halves").as("cohort"), $"n")
    val onlyH1 = h1.except(h2).agg(count(lit(1)).as("n")).select(lit("only_h1").as("cohort"), $"n")
    val onlyH2 = h2.except(h1).agg(count(lit(1)).as("n")).select(lit("only_h2").as("cohort"), $"n")
    both.unionByName(onlyH1).unionByName(onlyH2)
  }

  val q67Sql: String =
    """WITH h1 AS (SELECT DISTINCT o_custkey FROM orders
      |            WHERE o_orderdate < TIMESTAMP '1996-07-01'),
      |h2 AS (SELECT DISTINCT o_custkey FROM orders
      |       WHERE o_orderdate >= TIMESTAMP '1996-07-01')
      |SELECT 'both_halves' AS cohort, count(*) AS n FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2)
      |UNION ALL
      |SELECT 'only_h1', count(*) FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2)
      |UNION ALL
      |SELECT 'only_h2', count(*) FROM (SELECT * FROM h2 EXCEPT SELECT * FROM h1)""".stripMargin

  /** q72_scd2_apply — incremental SCD2 maintenance: build the dimension
    * from 80% of history, apply the remaining 20% (which INTERLEAVES in
    * event time — the late-arrival case) through
    * [[graft.operators.Scd2.applyDelta]]. The oracle is the FULL
    * rebuild over all records: hash-matching it proves the incremental
    * path is exact, not just approximately converged.
    */
  def q72Scd2Apply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val recs = Tables.events(spark, dir)
      .filter($"event_type".isin("signup", "purchase"))
      .select($"user_id", $"event_type", $"ts", $"value", $"event_id")
    val hist = recs.filter($"event_id" % 5 =!= 0)
    val delta = recs.filter($"event_id" % 5 === 0)
    val w = Window.partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")
    val dim = hist.withColumn("valid_to", lead($"ts", 1).over(w))
    Scd2.applyDelta(dim, delta, keys = Seq("user_id", "event_type"),
      ts = "ts", rid = "event_id")
      .select($"user_id", $"event_type", $"ts".as("valid_from"), $"valid_to", $"value")
  }

  val q72Sql: String =
    """SELECT user_id, event_type, ts AS valid_from,
      |  lead(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS valid_to,
      |  value
      |FROM events WHERE event_type IN ('signup', 'purchase')""".stripMargin

  /** q61_dedup_clusters — near-dup pairs resolved into connected
    * components; one row per cluster with its canonical doc and size.
    *
    * Pair source is the EXACT deterministic n-gram Jaccard index (q34
    * shape) rather than a sketch, so the whole pipeline — pairs →
    * min-label components → cluster sizes — gets a full DuckDB oracle
    * (recursive CTE transitive closure). The sketch-based pair sources
    * stay covered by q32/q33.
    */
  def q61DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = graft.operators.Dedup.ngramJaccardPairs(Tables.documents(spark, dir))
    graft.operators.Dedup.clusters(pairs)
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"))
      .orderBy($"cluster_id")
  }

  /** Shared oracle fragment: exact bigram-Jaccard pairs (q34 semantics)
    * closed into components by a recursive CTE — min reachable id =
    * canonical cluster label, same fixpoint [[graft.operators.Dedup.clusters]]
    * converges to.
    */
  private val dedupClusterCte: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
      |         ELSE list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))])
      |    END AS g
      |  FROM toks),
      |ex AS (SELECT doc_id, len(g) AS n_grams, unnest(g) AS gram FROM grams),
      |rare AS (SELECT gram FROM ex GROUP BY gram HAVING count(*) BETWEEN 2 AND 50),
      |f AS (SELECT ex.* FROM ex JOIN rare USING (gram)),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.n_grams AS n_a, b.n_grams AS n_b, count(*) AS shared
      |  FROM f a JOIN f b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4),
      |p AS (
      |  SELECT doc_a, doc_b FROM cand
      |  WHERE CAST(round(CAST(CAST(shared AS DOUBLE) / (n_a + n_b - shared)
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) >= 0.2),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM p
      |  UNION SELECT doc_b, doc_a FROM p),
      |reach(node, label) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
      |labels AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
      |""".stripMargin

  val q61Sql: String = dedupClusterCte +
    "SELECT cluster_id, count(*) AS n_members FROM labels GROUP BY cluster_id"

  /** q62_json_extract — semi-structured ingestion: typed extraction
    * from the JSON `props` column with `from_json` ([[Tables.tradeSize]],
    * schema-on-read for the payload — codegen'd Jackson parse, no UDF), aggregated per
    * type. The everyday "events carry a JSON blob" ETL shape.
    */
  def q62JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("k", Tables.tradeSize($"props"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        // decimal-space round: avg of bigints is a derived double whose
        // half-boundary rounding diverges between engines; decimal(28,12)
        // pins half-up on both sides (same fix as q24/q49/q51)
        round(avg($"k").cast(org.apache.spark.sql.types.DecimalType(28, 12)), 4)
          .cast("double").as("avg_k"),
        max($"k").as("max_k"))
  }

  val q62Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(round(CAST(avg(CAST(json_extract(props, '$.k') AS BIGINT)) AS DECIMAL(28,12)), 4) AS DOUBLE) AS avg_k,
      |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type""".stripMargin

  /** q68_dedup_corpus — the full dedup APPLY: near-dup pairs → clusters
    * → compacted corpus (non-canonical members dropped), summarized per
    * lang. Exact jaccard pair source (q34 shape) → full SQL oracle; the
    * MinHash scale path stays covered by q32.
    */
  def q68DedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val pairs = graft.operators.Dedup.ngramJaccardPairs(docs)
    graft.operators.Dedup.dedupCorpus(docs, pairs)
      .groupBy($"lang").agg(count(lit(1)).as("n_kept"))
      .orderBy($"lang")
  }

  val q68Sql: String = dedupClusterCte +
    """SELECT d.lang, count(*) AS n_kept FROM documents d
      |WHERE d.doc_id NOT IN (SELECT node FROM labels WHERE node <> cluster_id)
      |GROUP BY d.lang""".stripMargin

  val q60Sql: String =
    """WITH ev AS (
      |  SELECT user_id, ts, value, event_id, date_trunc('day', ts) AS d FROM events),
      |daily AS (
      |  SELECT user_id, d, value AS close FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, d
      |      ORDER BY ts DESC, event_id DESC) AS rn FROM ev)
      |  WHERE rn = 1),
      |spine AS (
      |  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS d
      |  FROM (SELECT user_id, min(d) AS mn, max(d) AS mx FROM ev GROUP BY user_id)),
      |joined AS (
      |  SELECT s.user_id, s.d, daily.close FROM spine s
      |  LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d)
      |SELECT user_id, d AS day,
      |  last_value(close IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ff
      |FROM joined""".stripMargin

  /** q224_group_mode — deterministic per-group MODE: the most frequent
    * event_type per user with a total tie order (count DESC, then
    * type ASC), plus its count and share — the categorical-imputation
    * primitive (fill a missing category with the group's modal value)
    * that `mode()` aggregates can't give portably because engines
    * break frequency ties arbitrarily. Scale: one map-side-combined
    * (user, type) count, then a user-keyed window over ≤ |types| rows
    * per user — the heavy reduction happens before the window, so the
    * second exchange carries groups, not events.
    */
  def q224GroupMode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.events(spark, dir)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"))
    // Tie-break null position is EXPLICIT (asc_nulls_first ↔ NULLS FIRST
    // in the SQL twin): Spark defaults ASC to NULLS FIRST while DuckDB
    // defaults to NULLS LAST — a NULL event_type tying for the modal
    // count would otherwise pick a different modal_type per engine.
    val w = Window.partitionBy($"user_id")
      .orderBy($"n".desc, $"event_type".asc_nulls_first)
    counts
      .withColumn("rk", row_number().over(w))
      .withColumn("n_total",
        sum($"n").over(Window.partitionBy($"user_id")))
      .filter($"rk" === 1)
      .select($"user_id", $"event_type".as("modal_type"),
        $"n".as("n_modal"), $"n_total",
        graft.functions.Num.decRound(
          $"n".cast("double") / $"n_total".cast("double"), 6).as("share"))
  }

  val q224Sql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id, event_type, n,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY n DESC, event_type ASC NULLS FIRST) AS rk,
      |    CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT) AS n_total
      |  FROM c)
      |SELECT user_id, event_type AS modal_type, n AS n_modal, n_total,
      |  CAST(round(CAST(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS share
      |FROM r WHERE rk = 1""".stripMargin

  /** q273_bloom_prune — selective star join with an explicit Bloom
    * runtime filter: revenue and item counts per order priority for
    * the lineitems of 1996 finalized orders (~5% of the orders
    * table). The qualifying orders' join keys fold into a 128 KB
    * Bloom bitmap ([[graft.functions.SizedBloomFilter]] at its
    * 2²⁰-bit `MinBits` — map-side partials OR together), the single
    * finished bitmap broadcasts,
    * and the fact side is pruned by a pure-Column membership test
    * BEFORE its shuffle — so the sort-merge join's exchange carries
    * ~5% of lineitem instead of all of it. At 100 TB this is the
    * difference between shuffling the fact table and shuffling the
    * query's actual working set; the qualifying-orders side is far
    * too big to broadcast as a hash-join build there, but its 128 KB
    * bitmap always fits. The bitmap is a SUPERSET test (false
    * positives only), so the real join downstream keeps the result
    * exact — the oracle is the plain join, no Bloom anywhere.
    * Forced-pair pricing: x_bloom_off runs the identical plan without
    * the prefilter. Determinism: revenue reduces in INTEGER CENTS
    * (the q1 money-lattice discipline — exact, order-independent,
    * equal by construction to the oracle's DECIMAL(18,2)
    * formulation); counts are pure integers.
    */
  def q273BloomPrune(spark: SparkSession, dir: String): DataFrame =
    bloomPruneJoin(spark, dir, useBloom = true)

  /** Shared body for q273 and its x_bloom_off forced twin. */
  def bloomPruneJoin(spark: SparkSession, dir: String,
      useBloom: Boolean): DataFrame = {
    import spark.implicits._
    import graft.functions.{SizedBloomFilter => Bloom}
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-01-01").cast("timestamp") &&
        $"o_orderstatus" === "F")
      .select($"o_orderkey", $"o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val pruned =
      if (!useBloom) li
      else {
        val bloom = ord.agg(Bloom.build(Bloom.MinBits, xxhash64($"o_orderkey")).as("bf"))
        li.crossJoin(broadcast(bloom))
          .filter(Bloom.mightContain(Bloom.MinBits, $"bf", xxhash64($"l_orderkey")))
          .drop("bf")
      }
    // hint("merge"): at 100 TB the qualifying-orders side exceeds any
    // broadcast threshold, so the honest plan to price is the
    // sort-merge join whose fact-side exchange the Bloom prunes.
    pruned.join(ord.hint("merge"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round((sum(($"l_extendedprice" * 100 + 0.5).cast("long") *
              (lit(100L) - ($"l_discount" * 100 + 0.5).cast("long")))
            .cast(org.apache.spark.sql.types.DecimalType(28, 0)) / 10000), 2)
          .cast("double").as("revenue"))
  }

  val q273Sql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * CAST(1.0 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE)
      |    AS revenue
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND o_orderstatus = 'F'
      |GROUP BY 1""".stripMargin

  /** q279_dup_cluster_census — the shape of the duplication problem:
    * the near-dup cluster-size DISTRIBUTION (how many clusters of
    * size 2, 3, …, how many docs they absorb, the singleton mass) —
    * the read that turns q61's raw cluster list into the curation
    * decision ("dedup removes Σ(size−1) docs; is that 2% or 30% of
    * the corpus?"), run on the q61/q34 bigram-Jaccard components.
    * Scale: clustering is the bounded df-capped candidate machinery
    * (operators/Dedup — never all-pairs); everything after reduces on
    * the cluster-size frame (≤ distinct sizes rows) with the corpus
    * total and clustered total as two broadcast scalars. Determinism:
    * every column is a PURE INTEGER except the one doc-share
    * division, latticed 6dp; the singleton row is exact integer
    * subtraction.
    */
  def q279DupClusterCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val pairs = graft.operators.Dedup.ngramJaccardPairs(docs)
    val sizes = graft.operators.Dedup.clusters(pairs)
      .groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
    val bySz = sizes.groupBy($"sz").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", $"sz" * $"n_clusters")
    val nTotal = docs.agg(count(lit(1)).as("n_total"))
    val nClustered = bySz.agg(sum($"n_docs").as("n_clustered"))
    val singleton = nTotal.crossJoin(broadcast(nClustered))
      .select(lit(1L).as("sz"),
        ($"n_total" - $"n_clustered").as("n_clusters"),
        ($"n_total" - $"n_clustered").as("n_docs"))
    bySz.select($"sz", $"n_clusters", $"n_docs")
      .unionByName(singleton)
      .crossJoin(broadcast(nTotal))
      .select($"sz".as("cluster_size"), $"n_clusters", $"n_docs",
        graft.functions.Num.decRound($"n_docs".cast("double") / $"n_total".cast("double"), 6)
          .as("doc_share"))
  }

  val q279Sql: String = dedupClusterCte +
    """, szs AS (
      |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
      |  FROM labels GROUP BY 1),
      |bysz AS (
      |  SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters,
      |    CAST(sz * count(*) AS BIGINT) AS n_docs
      |  FROM szs GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
      |cltot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_clustered FROM bysz),
      |allr AS (
      |  SELECT sz, n_clusters, n_docs FROM bysz
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), n_total - n_clustered,
      |    n_total - n_clustered
      |  FROM tot, cltot)
      |SELECT sz AS cluster_size, n_clusters, n_docs,
      |  CAST(round(CAST(CAST(n_docs AS DOUBLE)
      |    / CAST(tot.n_total AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS doc_share
      |FROM allr, tot""".stripMargin

  /** q281_ann_tuning — the IVF recall/nProbe tuning curve: the q44
    * probe path swept at nProbe ∈ {1,2,4,8} against the exact
    * brute-force top-3, each point certified against its floor
    * (0.3/0.5/0.8/0.9) plus a MONOTONE flag — probing more cells can
    * only add candidates, so recall must be non-decreasing in nProbe;
    * a violation would mean the candidate join dropped rows. The
    * dedup analogue is q216's threshold sweep: the curve is what a
    * user tunes against before fixing the production nProbe (q44
    * certifies one point; this prices the knob). Cell assignment is
    * quantizer-specific, so the emitted rows are CONTRACTS (exact
    * count + flags — the q32/q36/q44 convention), not raw neighbor
    * ids. Scale: truth and each sweep point are the q44 bounded
    * machinery (10 queries × cell-pruned candidates); the four
    * certification aggregates are the one sanctioned driver-side
    * action class (bounded scalar reads).
    */
  def q281AnnTuning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter($"vec_id" < 10)
    // truth is ≤ 30 rows but each of the four sweep points joins it —
    // without the eager cut every point re-ran the full brute-force
    // corpus pass (4× the query's dominant compute; the q142/q149
    // single-materialization discipline, r17)
    val truth = Ann.bruteForceTopK(qs, emb, k = 3)
      .select($"query_id", $"neighbor_id")
      .localCheckpoint(true)
    def hitsOf(found: DataFrame): (Long, Long) = {
      val f = found.select($"query_id", $"neighbor_id")
        .withColumn("__hit", lit(1))
      val row = truth.join(f, Seq("query_id", "neighbor_id"), "left_outer")
        .agg(count(lit(1)).as("n"),
          coalesce(sum($"__hit"), lit(0L)).as("hits"))
        .collect()(0)
      (row.getLong(0), row.getLong(1))
    }
    val sweep = Seq((1, 0.3), (2, 0.5), (4, 0.8), (8, 0.9))
    val pts = sweep.map { case (np, floor) =>
      val found = Ann.ivfTopK(qs, emb, k = 3, nProbe = np)
        .select($"query_id", $"neighbor_id")
      val (n, hits) = hitsOf(found)
      (np.toLong, n, hits, floor)
    }
    val rows = pts.zipWithIndex.map { case ((np, n, hits, floor), i) =>
      val recallOk = n == 0 || hits.toDouble / n >= floor
      val monotoneOk = i == 0 || hits >= pts(i - 1)._3
      (np, n, recallOk, monotoneOk)
    }
    rows.toDF("n_probe", "n_exact_neighbors", "recall_ok", "monotone_ok")
  }

  val q281Sql: String =
    """WITH ex AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_exact_neighbors FROM (
      |    SELECT q.vec_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                        CAST(n.embedding AS DOUBLE[])) DESC,
      |                 n.vec_id) AS rnk
      |    FROM embeddings q, embeddings n
      |    WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
      |  WHERE rnk <= 3)
      |SELECT CAST(np AS BIGINT) AS n_probe, n_exact_neighbors,
      |  true AS recall_ok, true AS monotone_ok
      |FROM (VALUES (1), (2), (4), (8)) t(np), ex""".stripMargin

  /** splitmix64 finalizer — the q290 sign matrix's only source of
    * "randomness"; shared by the Spark projection and the DuckDB
    * mirror (which embeds the signs as 32 string literals so the
    * oracle RECOMPUTES the distortion, it doesn't take our word).
    */
  private def jlMix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def jlSignRow(j: Int): Seq[Double] =
    (0 until 64).map(d =>
      if ((jlMix(d.toLong * 64L + j) & 1L) == 0L) 1.0 else -1.0)

  /** The j-th projection row as a 64-char '+'/'-' literal for the SQL
    * mirror's sign table (position d+1 ↔ dimension d).
    */
  private def jlSignString(j: Int): String =
    jlSignRow(j).map(s => if (s > 0) '+' else '-').mkString

  /** Sign-project `embedding` to its first k JL coordinates — a pure
    * row-local fold over a literal matrix (no shuffle, no UDF);
    * package-private so PlanSpec can pin that shape.
    */
  private[graft] def jlProject(df: DataFrame, k: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.withColumn("proj", array((0 until k).map { j =>
      aggregate(
        zip_with($"embedding", typedLit(jlSignRow(j)),
          (x, s) => x.cast("double") * s),
        lit(0.0), (acc, x) => acc + x)
    }: _*))
  }

  /** q290_jl_projection — the Johnson–Lindenstrauss sign-random-
    * projection DISTORTION curve, certified (the q281 convention for
    * the next dimensionality dial): project 64-dim embeddings to
    * k ∈ {8, 16, 32} dims with a fixed ±1 matrix (splitmix64 parity
    * of d·64+j — deterministic, seedless, shared across k so the
    * sweeps nest), then certify the mean |cos_proj − cos_exact| over
    * the exact top-3 pairs against a ~2σ cap per k AND the monotone
    * flag (distortion non-increasing in k — the 1/√k law, measured
    * 0.24/0.17/0.13 at sf0.01 and 0.26/0.17/0.09 at the sf1 fixture).
    * The measured NEGATIVE finding is part of the contract's meaning:
    * on this near-random space even a 0.5%-shortlist top-3 recall
    * collapses (3–33% at sf1), so sign-JL here is a DISTANCE SKETCH
    * (a dedup prefilter at generous thresholds, half the shuffle
    * bytes of float32×64) — not a top-k server; q44's IVF stays the
    * serving path. UNLIKE the q281 contract rows, the flags here are
    * NOT self-attested: the DuckDB mirror carries the sign matrix as
    * 32 '+'/'-' string literals and RECOMPUTES every projection,
    * every projected cosine, and both flags from the raw embeddings —
    * a regression in the Spark-side sign matrix, caps, or monotone
    * check fails the oracle (the r14 ADVICE ask). The engines'
    * mean-distortion floats differ at ~1e-15 (summation order);
    * the caps and the k-to-k gaps sit orders of magnitude wider, so
    * the BOOLEANS are portable. Scale: the sign matrix is a 64×k
    * literal (the NearestCells centroid-matrix class), projection is
    * a row-local zip_with fold, the truth pass is the bounded q35
    * broadcast machinery; driver-side only the three certification
    * scalars.
    */
  def q290JlProjection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def withProj(df: DataFrame, k: Int): DataFrame = jlProject(df, k)
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter($"vec_id" < 10)
    // ≤ 30 rows, but consumed by the count plus two joins per sweep
    // point — the eager cut stops the brute-force corpus pass re-running
    // seven times (the q281 discipline, r17)
    val truth = Ann.bruteForceTopK(qs, emb, k = 3)
      .select($"query_id", $"neighbor_id", $"cos_sim")
      .localCheckpoint(true)
    val truthN = truth.count()
    val sweep = Seq((8, 0.50), (16, 0.35), (32, 0.25))
    val pts = sweep.map { case (k, distCap) =>
      val qsP = withProj(qs, k).select($"vec_id", $"proj")
      val nbP = withProj(emb.join(
          truth.select($"neighbor_id".as("vec_id")).distinct(), "vec_id"), k)
        .select($"vec_id", $"proj")
      val dist = truth
        .join(qsP.select($"vec_id".as("query_id"), $"proj".as("qp")),
          "query_id")
        .join(nbP.select($"vec_id".as("neighbor_id"), $"proj".as("np_")),
          "neighbor_id")
        .withColumn("err",
          abs(graft.functions.Vectors.cosine($"qp", $"np_")
            - $"cos_sim".cast("double")))
        .agg(avg($"err")).collect()(0).getDouble(0)
      (k.toLong, dist, distCap)
    }
    val rows = pts.zipWithIndex.map { case ((k, dist, cap), i) =>
      (k, truthN, dist <= cap, i == 0 || dist <= pts(i - 1)._2)
    }
    rows.toDF("proj_dim", "n_pairs", "distortion_ok", "monotone_ok")
  }

  /** The mirror re-derives EVERYTHING: exact top-3 truth pairs, the
    * k ∈ {8,16,32} sign projections (signs from the embedded literal
    * table — the identical splitmix64 matrix), projected cosines,
    * mean distortion per k, and both certification booleans. Only the
    * booleans and counts are output, so the engines' ~1e-15 summation
    * -order float drift never reaches the hash compare.
    */
  val q290Sql: String = {
    val signLits = (0 until 32)
      .map(j => s"      |    ($j, '${jlSignString(j)}')")
      .mkString(",\n").drop(7)
    s"""WITH signs(j, s) AS (VALUES
      |$signLits),
      |ks(k, cap) AS (VALUES (8, 0.50), (16, 0.35), (32, 0.25)),
      |sgn AS (
      |  SELECT j, d,
      |    CASE WHEN substr(s, d + 1, 1) = '+' THEN 1.0 ELSE -1.0 END AS sg
      |  FROM signs, (SELECT unnest(generate_series(0, 63)) AS d)),
      |truth AS (
      |  SELECT vec_id AS query_id, n_id AS neighbor_id,
      |         round(cs, 6) AS cos_sim
      |  FROM (
      |    SELECT q.vec_id, n.vec_id AS n_id,
      |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                             CAST(n.embedding AS DOUBLE[])) AS cs,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                        CAST(n.embedding AS DOUBLE[])) DESC,
      |                 n.vec_id) AS rnk
      |    FROM embeddings q, embeddings n
      |    WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
      |  WHERE rnk <= 3),
      |need AS (
      |  SELECT query_id AS vec_id FROM truth
      |  UNION SELECT neighbor_id FROM truth),
      |pe AS (
      |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb
      |  FROM embeddings e JOIN need USING (vec_id)),
      |proj AS (
      |  SELECT pe.vec_id, sgn.j, sum(emb[sgn.d + 1] * sgn.sg) AS p
      |  FROM pe, sgn GROUP BY 1, 2),
      |pairk AS (
      |  SELECT t.query_id, t.neighbor_id, t.cos_sim, ks.k, ks.cap,
      |    sum(qp.p * np.p) AS dot,
      |    sum(qp.p * qp.p) AS nq, sum(np.p * np.p) AS nn
      |  FROM truth t
      |  JOIN proj qp ON qp.vec_id = t.query_id
      |  JOIN proj np ON np.vec_id = t.neighbor_id AND np.j = qp.j
      |  JOIN ks ON qp.j < ks.k
      |  GROUP BY 1, 2, 3, 4, 5),
      |dist AS (
      |  SELECT k, cap,
      |    avg(abs(dot / (sqrt(nq) * sqrt(nn)) - cos_sim)) AS de,
      |    CAST(count(*) AS BIGINT) AS n_pairs
      |  FROM pairk GROUP BY 1, 2),
      |mono AS (
      |  SELECT k, cap, de, n_pairs,
      |    lag(de) OVER (ORDER BY k) AS dprev
      |  FROM dist)
      |SELECT CAST(k AS BIGINT) AS proj_dim, n_pairs,
      |  de <= cap AS distortion_ok,
      |  (dprev IS NULL OR de <= dprev) AS monotone_ok
      |FROM mono""".stripMargin
  }

  /** q302_lsh_index_probe — the PERSISTED LSH index served from a
    * board query: q36's exact task (vec_id < 10, k = 3, certified
    * ≥ 60% recall vs the exact top-3) but the candidate side comes
    * from [[graft.operators.IndexCatalog]]'s stored signature table —
    * NO corpus signing at query time (PlanSpec-pinned on
    * [[q302ProbeFrame]]: exactly one row-local LshSig over the 10
    * probe vectors, candidates scanned from the published sig/
    * version). Built once per fixture (the amortized x_lshidx_build
    * cost), reopened from the persisted MODEL on every later session
    * — the lifecycle q36 deliberately does not have, now servable.
    * Same geometry + corpus ⇒ the probe reproduces q36's per-query
    * operator exactly, so the q36 recall contract transfers.
    */
  def q302LshIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val truth = Ann.bruteForceTopK(emb.filter($"vec_id" < 10), emb, k = 3)
      .select($"query_id", $"neighbor_id")
    val found = q302ProbeFrame(spark, dir)
      .select($"query_id", $"neighbor_id")
    Certify.recallContract(spark, truth, found, Seq("query_id", "neighbor_id"),
      minRecall = 0.6, nCol = "n_exact_neighbors")
  }

  /** The serving plan q302 certifies — exposed so PlanSpec can pin
    * "no corpus signing / stored candidates" on the executed plan.
    */
  def q302ProbeFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.IndexCatalog.lshFor(spark, dir)
      .probe(Tables.embeddings(spark, dir).filter($"vec_id" < 10), k = 3)
  }

  val q302Sql: String =
    """SELECT count(*) AS n_exact_neighbors, true AS recall_ok FROM (
      |  SELECT q.vec_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(n.embedding AS DOUBLE[])) DESC,
      |               n.vec_id) AS rnk
      |  FROM embeddings q, embeddings n
      |  WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
      |WHERE rnk <= 3""".stripMargin

  /** q303_ivf_index_probe — the persisted IVF index served from a
    * board query: q44's exact task and ≥ 80% recall contract, with
    * cell assignments read from [[graft.operators.IndexCatalog]]'s
    * stored cells table and the quantizer from the persisted MODEL —
    * no corpus pass, no centroid derivation at query time
    * (PlanSpec-pinned on [[q303ProbeFrame]]).
    */
  def q303IvfIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val truth = Ann.bruteForceTopK(emb.filter($"vec_id" < 10), emb, k = 3)
      .select($"query_id", $"neighbor_id")
    val found = q303ProbeFrame(spark, dir)
      .select($"query_id", $"neighbor_id")
    Certify.recallContract(spark, truth, found, Seq("query_id", "neighbor_id"),
      minRecall = 0.8, nCol = "n_exact_neighbors")
  }

  /** The serving plan q303 certifies — see [[q302ProbeFrame]]. */
  def q303ProbeFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.IndexCatalog.ivfFor(spark, dir)
      .probe(Tables.embeddings(spark, dir).filter($"vec_id" < 10),
        k = 3, nProbe = 4)
  }

  val q303Sql: String = q302Sql
}
