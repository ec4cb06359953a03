package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-5 analytics batch (SURVEY §2, q73–q84): portfolio-style
  * time-series metrics (drawdown, VWAP, TWAP, beta), calendar rollup,
  * correlated-subquery shapes, distribution/histogram ops, robust
  * outlier screens, interval stacking, linear interpolation and cohort
  * retention — the remaining security-master + product-analytics
  * surface, each with a DuckDB oracle.
  *
  * FP discipline (see SURVEY §6): derived-double outputs are rounded in
  * decimal space (`cast(decimal(28,12))` then round — half-up on both
  * engines); sort keys and filters avoid derived doubles wherever a
  * boundary tie could flip a row (integer counts order q78; exact
  * single-op arithmetic carries q73/q79/q82 with no rounding at all).
  */
object Analytics {

  private val dec = DecimalType(28, 12)
  private def decRound(c: org.apache.spark.sql.Column, scale: Int) =
    graft.functions.Num.decRound(c, scale)

  /** q73_drawdown — running-peak drawdown per user over the event value
    * series: `max(peak - value)` where peak is the running maximum.
    * Absolute (not relative) drawdown keeps every step a single FP op
    * on stored doubles — bit-identical across engines, no rounding.
    * One keyed window pass; shuffles on user_id only.
    */
  def q73Drawdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"value")
      .withColumn("peak", max($"value").over(w))
      .groupBy($"user_id")
      .agg(max($"peak" - $"value").as("max_drawdown"),
        max($"value").as("peak_value"))
  }

  val q73Sql: String =
    """SELECT user_id, max(peak - value) AS max_drawdown,
      |  max(value) AS peak_value
      |FROM (
      |  SELECT user_id, value, max(value) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS peak
      |  FROM events)
      |GROUP BY user_id""".stripMargin

  /** q74_vwap — volume-weighted average price per (returnflag, month):
    * sum(notional)/sum(quantity), the bar-level VWAP a securities
    * master publishes. Single map-side-combinable aggregation.
    */
  def q74Vwap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", date_trunc("month", $"l_shipdate").as("mo"))
      .agg(decRound(sum($"l_extendedprice") / sum($"l_quantity"), 4).as("vwap"),
        round(sum($"l_quantity"), 2).as("volume"))
  }

  val q74Sql: String =
    """SELECT l_returnflag,
      |  CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS mo,
      |  CAST(round(CAST(sum(l_extendedprice) / sum(l_quantity)
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS vwap,
      |  round(sum(l_quantity), 2) AS volume
      |FROM lineitem GROUP BY l_returnflag, date_trunc('month', l_shipdate)""".stripMargin

  /** q75_calendar_rollup — revenue totals across the time hierarchy
    * (year ⊃ quarter ⊃ month) in ONE pass via ROLLUP — the partial
    * aggregates share the scan instead of three separate jobs.
    * Hierarchy keys are cast to long (DuckDB emits int64) and rolled-up
    * NULLs to -1 so the grouping level is explicit in the row.
    */
  def q75CalendarRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .withColumn("tp",
        $"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
      .rollup(year($"o_orderdate").cast("long").as("yr"),
        quarter($"o_orderdate").cast("long").as("qtr"),
        month($"o_orderdate").cast("long").as("mo"))
      // money lattice (q5's sf1.0 lesson): exact-decimal sum of the 2dp
      // price so rollup revenue is order-independent across engines;
      // the cast is projected BELOW the rollup (via tp) so Expand's 4
      // row copies share one per-row decimal conversion
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"tp"), 2).cast("double").as("revenue"))
      .select(coalesce($"yr", lit(-1L)).as("yr"),
        coalesce($"qtr", lit(-1L)).as("qtr"),
        coalesce($"mo", lit(-1L)).as("mo"), $"n_orders", $"revenue")
  }

  val q75Sql: String =
    """SELECT coalesce(year(o_orderdate), -1) AS yr,
      |  coalesce(quarter(o_orderdate), -1) AS qtr,
      |  coalesce(month(o_orderdate), -1) AS mo,
      |  count(*) AS n_orders,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
      |    AS revenue
      |FROM orders
      |GROUP BY ROLLUP(year(o_orderdate), quarter(o_orderdate), month(o_orderdate))""".stripMargin

  /** q76_beta — per-user beta vs the "market" (all-user daily mean):
    * covar_pop(user_daily, market_daily) / var_pop(market_daily), the
    * index-regression slope. The market series is a tiny daily
    * aggregate, broadcast to the per-user series; users active fewer
    * than 10 days are excluded (variance degenerates).
    */
  def q76Beta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", date_trunc("day", $"ts").as("d"), $"value")
    val userDaily = ev.groupBy($"user_id", $"d").agg(avg($"value").as("uv"))
    val market = ev.groupBy($"d").agg(avg($"value").as("mv"))
    userDaily.join(broadcast(market), Seq("d"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        (covar_pop($"uv", $"mv") / var_pop($"mv")).as("beta_raw"))
      .filter($"n_days" >= 10)
      .select($"user_id", $"n_days", decRound($"beta_raw", 4).as("beta"))
  }

  val q76Sql: String =
    """WITH ev AS (
      |  SELECT user_id, date_trunc('day', ts) AS d, value FROM events),
      |u AS (SELECT user_id, d, avg(value) AS uv FROM ev GROUP BY user_id, d),
      |m AS (SELECT d, avg(value) AS mv FROM ev GROUP BY d)
      |SELECT user_id, count(*) AS n_days,
      |  CAST(round(CAST(covar_pop(uv, mv) / var_pop(mv)
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS beta
      |FROM u JOIN m ON u.d = m.d
      |GROUP BY user_id HAVING count(*) >= 10""".stripMargin

  /** q77_no_order_customers — TPC-H Q22 shape: customers with
    * above-average (positive) balance and NO urgent-priority order,
    * per segment. The scalar subquery becomes a 1-row broadcast cross
    * join; the NOT EXISTS becomes a left-anti join on the filtered
    * orders key — both decorrelated, both shuffle-free on the probe
    * side (the anti build side is filtered before the exchange).
    */
  def q77NoOrderCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val avgBal = cust.filter($"c_acctbal" > 0)
      .agg(avg($"c_acctbal").as("avg_bal"))
    cust.join(broadcast(avgBal))
      .filter($"c_acctbal" > $"avg_bal")
      .join(Tables.orders(spark, dir)
          .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      // money lattice (q5's sf1.0 lesson): 5 segment groups over all
      // customers — drift grows with data
      .agg(count(lit(1)).as("n_cust"),
        round(sum($"c_acctbal"
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))), 2)
          .cast("double").as("total_bal"))
  }

  val q77Sql: String =
    """SELECT c_mktsegment, count(*) AS n_cust,
      |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
      |    AS total_bal
      |FROM customer c
      |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment""".stripMargin

  /** q78_topn_per_group — top-3 parts per brand by lineitem count
    * (QUALIFY shape): aggregate first (map-side combinable), then a
    * per-brand ranking window over the already-small aggregate — the
    * window never sees fact-table cardinality. Integer sort key +
    * partkey tiebreak = deterministic across engines.
    */
  def q78TopNPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cnt = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey").agg(count(lit(1)).as("n_lines"))
    val w = Window.partitionBy($"p_brand")
      .orderBy($"n_lines".desc, $"p_partkey")
    cnt.join(broadcast(Tables.part(spark, dir).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"p_brand", $"p_partkey", $"n_lines", $"rnk")
  }

  val q78Sql: String =
    """SELECT p_brand, p_partkey, n_lines, rnk FROM (
      |  SELECT p.p_brand, p.p_partkey, c.n_lines,
      |    row_number() OVER (PARTITION BY p.p_brand
      |      ORDER BY c.n_lines DESC, p.p_partkey) AS rnk
      |  FROM (SELECT l_partkey, count(*) AS n_lines FROM lineitem GROUP BY l_partkey) c
      |  JOIN part p ON p.p_partkey = c.l_partkey)
      |WHERE rnk <= 3""".stripMargin

  /** q79_histogram — fixed-width value histogram with cumulative count
    * and share: the distribution profile an ingest QA step publishes.
    * Bucketing is one exact FP op on the stored double (identical both
    * engines); counts are integers; share is a single int/int division
    * — no rounding anywhere. Oracle note: DuckDB sum(BIGINT) returns
    * HUGEINT, whose Arrow/pandas export is version-dependent (double in
    * 1.0, decimal128 later) — every integral aggregate the oracle EMITS
    * must be CAST to BIGINT or the driver's hash diverges (round-5
    * lesson: this exact column).
    */
  def q79Histogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wCum = Window.orderBy($"bucket_lo")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select((floor($"o_totalprice" / 25000).cast("long") * 25000).as("bucket_lo"))
      .groupBy($"bucket_lo").agg(count(lit(1)).as("n"))
      .withColumn("cum_n", sum($"n").over(wCum))
      .withColumn("share", $"n".cast("double") / sum($"n").over(wAll))
  }

  val q79Sql: String =
    """SELECT bucket_lo, n,
      |  CAST(sum(n) OVER (ORDER BY bucket_lo ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS cum_n,
      |  CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS BIGINT) AS share
      |FROM (
      |  SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) * 25000 AS bucket_lo,
      |    count(*) AS n
      |  FROM orders GROUP BY 1)""".stripMargin

  /** q80_mad_outliers — robust outlier screen per event type: median
    * absolute deviation, flag |x - med| > 3·MAD. Three passes, each a
    * map-side-combinable agg or a broadcast join of a 5-row stats
    * frame — the raw table is never shuffled.
    */
  def q80MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"event_type", $"value")
    val med = ev.groupBy($"event_type")
      .agg(percentile($"value", lit(0.5)).as("med"))
    val withMed = ev.join(broadcast(med), Seq("event_type"))
    val mad = withMed.groupBy($"event_type", $"med")
      .agg(percentile(abs($"value" - $"med"), lit(0.5)).as("mad"))
    withMed.join(broadcast(mad.select($"event_type", $"mad")), Seq("event_type"))
      .groupBy($"event_type", $"med", $"mad")
      // both comparison sides are decimal-rounded: med/mad are
      // interpolated percentiles that may differ across engines by an
      // ulp, and a row sitting exactly on the 3·MAD boundary would
      // otherwise flip the count — after identical 6-digit rounding the
      // two engines compare identical numbers
      .agg(sum(when(decRound(abs($"value" - $"med"), 6) >
          decRound($"mad" * 3, 6), 1L).otherwise(0L))
        .as("n_outliers"))
      .select($"event_type", decRound($"med", 4).as("med"),
        decRound($"mad", 4).as("mad"), $"n_outliers")
  }

  val q80Sql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type),
      |mad AS (
      |  SELECT e.event_type, m.med,
      |    quantile_cont(abs(e.value - m.med), 0.5) AS mad
      |  FROM events e JOIN med m ON e.event_type = m.event_type
      |  GROUP BY e.event_type, m.med)
      |SELECT e.event_type,
      |  CAST(round(CAST(d.med AS DECIMAL(28,12)), 4) AS DOUBLE) AS med,
      |  CAST(round(CAST(d.mad AS DECIMAL(28,12)), 4) AS DOUBLE) AS mad,
      |  CAST(sum(CASE WHEN
      |      CAST(round(CAST(abs(e.value - d.med) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |      > CAST(round(CAST(d.mad * 3 AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM events e JOIN mad d ON e.event_type = d.event_type
      |GROUP BY e.event_type, d.med, d.mad""".stripMargin

  /** q81_twap — time-weighted average value per user: each observation
    * weighted by its holding time (µs until the next event, exact
    * integer arithmetic on the timestamp). The TWAP execution
    * benchmark. One lead window + one agg, all keyed on user_id.
    */
  def q81Twap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"value",
        unix_micros($"ts").as("us"))
      .withColumn("nxt", lead($"us", 1).over(w))
      .filter($"nxt".isNotNull)
      .withColumn("dt", ($"nxt" - $"us").cast("double"))
      .groupBy($"user_id")
      .agg(decRound(sum($"value" * $"dt") / sum($"dt"), 4).as("twap"),
        count(lit(1)).as("n_obs"))
  }

  val q81Sql: String =
    """WITH s AS (
      |  SELECT user_id, value,
      |    CAST(lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      - epoch_us(ts) AS DOUBLE) AS dt
      |  FROM events)
      |SELECT user_id,
      |  CAST(round(CAST(sum(value * dt) / sum(dt) AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS twap,
      |  count(*) AS n_obs
      |FROM s WHERE dt IS NOT NULL GROUP BY user_id""".stripMargin

  /** q82_interpolate — linear interpolation across silent days: the
    * missing-bar repair step beyond q60's forward fill. Spine bounds
    * come from each user's own data, so every gap has a known value on
    * both sides; the interpolation `prev + (next-prev)·frac` is the
    * same op sequence on exact inputs in both engines — no rounding.
    * Two window passes (backward carry, forward carry), both keyed on
    * user_id — the shuffle of q60, reused.
    */
  def q82Interpolate(spark: SparkSession, dir: String): DataFrame = {
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
    val wB = Window.partitionBy($"user_id").orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy($"user_id").orderBy($"d")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(daily, Seq("user_id", "d"), "left_outer")
      .withColumn("prev_v", last($"close", ignoreNulls = true).over(wB))
      .withColumn("prev_d", last(when($"close".isNotNull, $"d"), ignoreNulls = true).over(wB))
      .withColumn("next_v", first($"close", ignoreNulls = true).over(wF))
      .withColumn("next_d", first(when($"close".isNotNull, $"d"), ignoreNulls = true).over(wF))
      .withColumn("close_interp",
        when($"close".isNotNull, $"close")
          .otherwise($"prev_v" + ($"next_v" - $"prev_v") *
            (datediff($"d", $"prev_d").cast("double") /
             datediff($"next_d", $"prev_d").cast("double"))))
      .select($"user_id", $"d".as("day"), $"close_interp")
  }

  val q82Sql: String =
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
      |j AS (
      |  SELECT s.user_id, s.d, daily.close FROM spine s
      |  LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d),
      |f AS (
      |  SELECT user_id, d, close,
      |    last_value(close IGNORE NULLS) OVER wb AS prev_v,
      |    last_value(CASE WHEN close IS NOT NULL THEN d END IGNORE NULLS) OVER wb AS prev_d,
      |    first_value(close IGNORE NULLS) OVER wf AS next_v,
      |    first_value(CASE WHEN close IS NOT NULL THEN d END IGNORE NULLS) OVER wf AS next_d
      |  FROM j
      |  WINDOW wb AS (PARTITION BY user_id ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wf AS (PARTITION BY user_id ORDER BY d
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, d AS day,
      |  CASE WHEN close IS NOT NULL THEN close
      |       ELSE prev_v + (next_v - prev_v) *
      |         (CAST(date_diff('day', prev_d, d) AS DOUBLE) /
      |          CAST(date_diff('day', prev_d, next_d) AS DOUBLE)) END AS close_interp
      |FROM f""".stripMargin

  /** q83_concurrency — interval stacking: treating each event as a
    * 30-minute interval, the maximum number of simultaneously-open
    * intervals per (type, day) — the "max open positions / peak
    * concurrent sessions" metric. Sweep-line as a plan: endpoint
    * deltas, pre-aggregated per timestamp (so the running sum is
    * deterministic — no intra-timestamp ordering), one cumulative
    * window, one max. Pure integer arithmetic end to end.
    */
  def q83Concurrency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_type", unix_micros($"ts").as("s"))
    val points = ev.select($"event_type", $"s".as("pt"), lit(1L).as("delta"))
      .unionByName(ev.select($"event_type", ($"s" + 1800L * 1000000L).as("pt"),
        lit(-1L).as("delta")))
    // The sweep's running sum is per event_type — 5 partitions, i.e.
    // 1/5 of all endpoints sorted in ONE task as a plain window (q90's
    // sf1.0 lesson). groupRunningSum computes the identical integer
    // prefix with a sliced range exchange above the stats bound.
    val net = points.groupBy($"event_type", $"pt")
      .agg(sum($"delta").as("net"))
    graft.operators.Rank.groupRunningSum(net, Seq("event_type"),
        Seq("pt"), "net", "conc")
      .groupBy($"event_type",
        date_trunc("day", timestamp_micros($"pt")).as("day"))
      .agg(max($"conc").as("max_concurrency"))
  }

  val q83Sql: String =
    """WITH pts AS (
      |  SELECT event_type, epoch_us(ts) AS pt, 1 AS delta FROM events
      |  UNION ALL
      |  SELECT event_type, epoch_us(ts) + 1800 * 1000000, -1 FROM events),
      |g AS (SELECT event_type, pt, CAST(sum(delta) AS BIGINT) AS net
      |      FROM pts GROUP BY event_type, pt),
      |r AS (
      |  SELECT event_type, pt, sum(net) OVER (PARTITION BY event_type
      |    ORDER BY pt ROWS UNBOUNDED PRECEDING) AS conc
      |  FROM g)
      |SELECT event_type,
      |  CAST(date_trunc('day', make_timestamp(pt)) AS TIMESTAMP) AS day,
      |  CAST(max(conc) AS BIGINT) AS max_concurrency
      |FROM r GROUP BY event_type, date_trunc('day', make_timestamp(pt))""".stripMargin

  /** q84_retention — weekly cohort retention: users bucketed by first
    * active week, distinct actives per (cohort, weeks since). The
    * training-corpus freshness / product-retention matrix. Two keyed
    * aggs; the cohort frame joins back on user_id (same shuffle key).
    */
  def q84Retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ue = Tables.events(spark, dir)
      .select($"user_id", date_trunc("week", $"ts").as("wk"))
    val cohort = ue.groupBy($"user_id").agg(min($"wk").as("cohort_week"))
    ue.join(cohort, Seq("user_id"))
      .select($"user_id", $"cohort_week",
        expr("datediff(wk, cohort_week) div 7").as("weeks_since"))
      .groupBy($"cohort_week", $"weeks_since")
      .agg(countDistinct($"user_id").as("n_users"))
  }

  val q84Sql: String =
    """WITH ue AS (
      |  SELECT user_id, date_trunc('week', ts) AS wk FROM events),
      |cohort AS (
      |  SELECT user_id, min(wk) AS cohort_week FROM ue GROUP BY user_id)
      |SELECT CAST(c.cohort_week AS TIMESTAMP) AS cohort_week,
      |  date_diff('day', c.cohort_week, u.wk) // 7 AS weeks_since,
      |  count(DISTINCT u.user_id) AS n_users
      |FROM ue u JOIN cohort c ON u.user_id = c.user_id
      |GROUP BY c.cohort_week, date_diff('day', c.cohort_week, u.wk) // 7""".stripMargin

  /** q88_interval_overlap — interval-overlap join: user sessions (q27
    * shape) against the daily trading window [09:30, 16:00), reporting
    * per-day session count and total in-window µs. The "how much of
    * the activity landed inside market hours" audit.
    *
    * Scale plan: each session explodes to the days it covers (bounded
    * by interval length, not corpus size) and joins the window
    * implicitly by construction — a linear bucketed interval join, the
    * same shape as q47, never a theta join. Overlap is exact integer
    * µs arithmetic end to end.
    */
  def q88IntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts")
      .withColumn("prev_ts", lag($"ts", 1).over(wOrd))
      .withColumn("is_new", when($"prev_ts".isNull ||
        (unix_micros($"ts") - unix_micros($"prev_ts")) > 1800L * 1000000L, 1L)
        .otherwise(0L))
      .withColumn("session_id", sum($"is_new").over(wRun))
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts").as("s_start"), max($"ts").as("s_end"))
    sess
      .withColumn("day", explode(sequence(date_trunc("day", $"s_start"),
        date_trunc("day", $"s_end"), expr("interval 1 day"))))
      .withColumn("overlap_us",
        least(unix_micros($"s_end"), unix_micros($"day") + 57600000000L) -
        greatest(unix_micros($"s_start"), unix_micros($"day") + 34200000000L))
      .filter($"overlap_us" > 0)
      .groupBy($"day")
      .agg(count(lit(1)).as("n_sessions"), sum($"overlap_us").as("overlap_us"))
  }

  val q88Sql: String =
    """WITH sess AS (
      |  SELECT user_id, session_id, min(ts) AS s_start, max(ts) AS s_end
      |  FROM (
      |    SELECT user_id, ts,
      |      CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |    FROM (
      |      SELECT user_id, event_id, ts,
      |        CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |             THEN 1 ELSE 0 END AS is_new
      |      FROM events
      |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)))
      |  GROUP BY user_id, session_id),
      |sd AS (
      |  SELECT s_start, s_end,
      |    unnest(generate_series(date_trunc('day', s_start),
      |      date_trunc('day', s_end), INTERVAL 1 DAY)) AS day
      |  FROM sess),
      |o AS (
      |  SELECT day,
      |    least(epoch_us(s_end), epoch_us(day) + 57600000000) -
      |    greatest(epoch_us(s_start), epoch_us(day) + 34200000000) AS overlap_us
      |  FROM sd)
      |SELECT day, count(*) AS n_sessions, CAST(sum(overlap_us) AS BIGINT) AS overlap_us
      |FROM o WHERE overlap_us > 0 GROUP BY day""".stripMargin

  /** q89_asof_forward — forward as-of join: each click matched to the
    * NEXT purchase by the same user within one day (order → next fill,
    * the dual of q59's backward price-in-effect). Same single
    * union+window pass as backward [[graft.operators.AsOf]], with the
    * frame mirrored.
    */
  def q89AsofForward(spark: SparkSession, dir: String): DataFrame = {
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
      rightVals = Seq("value" -> "next_purchase_value"),
      inner = true, toleranceSec = Some(86400L), direction = "forward")
      .select($"event_id", round($"next_purchase_value", 2).as("next_purchase_value"))
  }

  val q89Sql: String =
    """SELECT e.event_id, round(p.value, 2) AS next_purchase_value
      |FROM events e JOIN LATERAL (
      |  SELECT value FROM events p
      |  WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
      |    AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 1 DAY
      |  ORDER BY p.ts ASC, p.value DESC LIMIT 1) p ON true
      |WHERE e.event_type = 'click'""".stripMargin

  /** q90_weighted_median — quantity-weighted median price per
    * returnflag (lower weighted median: smallest price whose cumulative
    * weight reaches half the total). Spark has no weighted percentile;
    * this is the scalable formulation — one keyed sort-window for the
    * cumulative weight, no collect.
    *
    * FP discipline: the cumulative weight is summed in the ORDER the
    * window defines (price, orderkey, linenumber — total, so ties are
    * deterministic), which makes every partial sum bit-identical across
    * engines; the half-total threshold is derived from the LAST ordered
    * cumsum, not a separately-ordered aggregate.
    */
  def q90WeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The cumulative weight runs over PARTITION BY l_returnflag — 3
    // values, i.e. 1/3 of the table sorted in ONE task as a plain
    // window (the r6 q123/q128/q133 anti-pattern; this was the missed
    // spot, measured 5× at the sf1.0 run). Rank.groupRunningSum gives
    // the identical prefix sum with a sliced range exchange above the
    // stats bound; weights are integral (TPC-H quantities), so the
    // long-space running sum and the doubled-inequality threshold are
    // engine-exact — no FP accumulation anywhere.
    val li = Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_extendedprice", $"l_orderkey",
        $"l_linenumber", $"l_quantity")
    val cum = graft.operators.Rank.groupRunningSum(li, Seq("l_returnflag"),
      Seq("l_extendedprice", "l_orderkey", "l_linenumber"),
      "l_quantity", "cumw")
    val tot = li.groupBy($"l_returnflag")
      .agg(sum($"l_quantity".cast("long")).as("total"))
    cum.join(broadcast(tot), "l_returnflag")
      .filter(lit(2) * $"cumw" >= $"total")
      .groupBy($"l_returnflag")
      .agg(min($"l_extendedprice").as("weighted_median_price"))
  }

  val q90Sql: String =
    """SELECT l_returnflag, min(l_extendedprice) AS weighted_median_price
      |FROM (
      |  SELECT l_returnflag, l_extendedprice, cumw,
      |    sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag)
      |      AS total
      |  FROM (
      |    SELECT l_returnflag, l_extendedprice, l_quantity,
      |      sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag
      |        ORDER BY l_extendedprice, l_orderkey, l_linenumber
      |        ROWS UNBOUNDED PRECEDING) AS cumw
      |    FROM lineitem))
      |WHERE 2 * cumw >= total
      |GROUP BY l_returnflag""".stripMargin

  /** q91_basket_jaccard — set-similarity beyond text: orders whose
    * part baskets overlap at Jaccard ≥ 0.5, via
    * [[graft.operators.Dedup.setJaccardPairs]] (the q34 inverted-index
    * plan generalized to arbitrary item sets). Entity-resolution /
    * collaborative-filtering shape on relational data; popular parts
    * above the df cap are prefix-filtered before the self-join.
    */
  def q91BasketJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val baskets = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey").agg(collect_set($"l_partkey").as("parts"))
    graft.operators.Dedup.setJaccardPairs(baskets, idCol = "l_orderkey",
      setCol = "parts", maxDf = 50, threshold = 0.5)
  }

  val q91Sql: String =
    """WITH b AS (
      |  SELECT l_orderkey, count(DISTINCT l_partkey) AS n
      |  FROM lineitem GROUP BY l_orderkey),
      |ex AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |rare AS (SELECT l_partkey FROM ex GROUP BY l_partkey
      |         HAVING count(*) BETWEEN 2 AND 50),
      |f AS (SELECT ex.* FROM ex JOIN rare USING (l_partkey)),
      |cand AS (
      |  SELECT a.l_orderkey AS doc_a, b2.l_orderkey AS doc_b, count(*) AS shared
      |  FROM f a JOIN f b2
      |    ON a.l_partkey = b2.l_partkey AND a.l_orderkey < b2.l_orderkey
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  CAST(round(CAST(CAST(shared AS DOUBLE) / (ba.n + bb.n - shared)
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS jaccard
      |FROM cand JOIN b ba ON ba.l_orderkey = doc_a
      |          JOIN b bb ON bb.l_orderkey = doc_b
      |WHERE CAST(round(CAST(CAST(shared AS DOUBLE) / (ba.n + bb.n - shared)
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) >= 0.5""".stripMargin

  /** q99_bitmap_distinct — exact distinct users per event type via
    * Spark's built-in bitmap aggregates: ids split into 32,768-wide
    * buckets, each (group, bucket) ORs its bits map-side
    * (`bitmap_construct_agg`), so the shuffle carries one 4 KB bitmap
    * per cell instead of one row per (group, user); the per-bucket
    * popcounts then sum per group. Exact for every long id (no domain
    * bound: non-positive ids land in buckets ≤ 0), and NULL ids count
    * nothing, as in `count(DISTINCT ...)` — the exact-count companion
    * to the q20/q52 HLL sketches. Measured cost: the bitmap buffer is
    * not hash-aggregatable, so both bitmap levels plan as Sort +
    * SortAggregate and the per-group sum adds an exchange; at sf0.1 on
    * 4 cores the median warm run is 0.092 s against 0.056 s for a
    * typed-Aggregator dense bitmap (one ObjectHashAggregate level, same
    * JVM).
    */
  def q99BitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type", bitmap_bucket_number($"user_id").as("bucket"))
      .agg(bitmap_count(bitmap_construct_agg(bitmap_bit_position($"user_id")))
        .as("n"))
      .groupBy($"event_type")
      .agg(sum($"n").as("n_users"))
  }

  val q99Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type""".stripMargin

  /** q101_winsorized — robust mean via p05/p95 winsorization per
    * return flag (the feature-engineering companion to the q80 MAD
    * screen: clamp the tails instead of dropping them). The exact
    * interpolated thresholds come from ORDER STATISTICS over the
    * scalable rank (Rank.groupRowNumber — native window small, sliced
    * two-pass large), not from a percentile aggregate that buffers
    * each group's values in one ObjectHashAggregate task — so the
    * plan holds at any group size:
    * rank the group, pick the two rows bracketing α·(n−1), lerp. The
    * oracle keeps quantile_cont: winsorization is CONTINUOUS at the
    * threshold, so an ulp-level interpolation difference moves the
    * clamped mean by at most ulp/n — far inside the 4dp round.
    */
  def q101Winsorized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_extendedprice")
    // the rank feeds ONLY the 4-rows-per-group threshold pick; the
    // clamped mean re-reads the cheap 2-column scan instead of the
    // sorted/joined rank frame
    val ranked = graft.operators.Rank.groupRowNumber(li,
      group = Seq("l_returnflag"), order = Seq("l_extendedprice"),
      rankCol = "r", totalCol = "n")
    // rows at the bracketing ranks of both thresholds — ≤4 per group
    val idx05 = lit(0.05) * ($"n" - 1).cast("double")
    val idx95 = lit(0.95) * ($"n" - 1).cast("double")
    val stats = ranked
      .withColumn("lo05", floor(idx05).cast("long") + 1)
      .withColumn("f05", idx05 - floor(idx05))
      .withColumn("lo95", floor(idx95).cast("long") + 1)
      .withColumn("f95", idx95 - floor(idx95))
      .filter($"r" === $"lo05" || $"r" === $"lo05" + 1 ||
        $"r" === $"lo95" || $"r" === $"lo95" + 1)
      .groupBy($"l_returnflag")
      .agg(
        max(when($"r" === $"lo05", $"l_extendedprice")).as("v05lo"),
        max(when($"r" === $"lo05" + 1, $"l_extendedprice")).as("v05hi"),
        max(when($"r" === $"lo95", $"l_extendedprice")).as("v95lo"),
        max(when($"r" === $"lo95" + 1, $"l_extendedprice")).as("v95hi"),
        max($"f05").as("f05"), max($"f95").as("f95"))
      .select($"l_returnflag",
        ($"v05lo" + $"f05" * (coalesce($"v05hi", $"v05lo") - $"v05lo")).as("p05"),
        ($"v95lo" + $"f95" * (coalesce($"v95hi", $"v95lo") - $"v95lo")).as("p95"))
    li.join(broadcast(stats), "l_returnflag")
      .select($"l_returnflag", $"l_extendedprice",
        greatest(least($"l_extendedprice", $"p95"), $"p05").as("w"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        decRound(avg($"l_extendedprice"), 4).as("raw_mean"),
        decRound(avg($"w"), 4).as("winsor_mean"))
  }

  /** q102_referential_audit — star-schema integrity: orphaned foreign
    * keys per relationship, each via a LEFT ANTI join (the parent key
    * set broadcasts when small; the child side aggregates to ONE row
    * before the union, so the result is five tiny rows regardless of
    * fact size). The q50 single-table audit's cross-table companion —
    * a feed that drops a parent table shows up here, not in production
    * joins.
    */
  def q102ReferentialAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def orphans(rel: String, child: DataFrame, ck: String,
                parent: DataFrame, pk: String): DataFrame =
      child.select(col(ck))
        .join(parent.select(col(pk)), col(ck) === col(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(rel).as("relation"), $"n_orphans")
    val li = Tables.lineitem(spark, dir)
    Seq(
      orphans("lineitem->orders", li, "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey"),
      orphans("lineitem->part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"),
      orphans("lineitem->supplier", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"),
      orphans("orders->customer", Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey"),
      orphans("customer->nation", Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey"),
    ).reduce(_ unionByName _)
  }

  val q102Sql: String =
    """SELECT 'lineitem->orders' AS relation, count(*) AS n_orphans
      |FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'lineitem->part', count(*) FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
      |UNION ALL
      |SELECT 'lineitem->supplier', count(*) FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
      |UNION ALL
      |SELECT 'orders->customer', count(*) FROM orders o
      |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |UNION ALL
      |SELECT 'customer->nation', count(*) FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)""".stripMargin

  /** q105_basket_lift — market-basket association: part pairs
    * co-occurring in >= 2 orders, scored by lift
    * (P(a,b) / (P(a)·P(b))). The co-occurrence self-join keys on
    * l_orderkey, so fan-out is bounded by basket size squared (TPC-H
    * baskets ≤ 7 lines — unbounded baskets would need the q34-style
    * hot-bucket cap first); the order total rides back in as a
    * broadcast scalar. The item-frequency frame is NOT hint-pinned:
    * it is dim-scale only while parts are, so AQE picks broadcast
    * when its runtime size allows and falls back to a co-keyed
    * shuffle join at billion-part scale instead of collecting an
    * over-size frame to the driver.
    */
  def q105BasketLift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NOT rewritten to a checkpointed hash(l_orderkey) layout: AQE's
    // ReusedExchange already dedupes the distinct subtree across all
    // four consumers (measured: the layout+checkpoint variant moved
    // shuffle records only 2.65 M → 2.58 M and its warm wall was
    // equal-or-worse — the materialization costs what the reuse saves).
    val ex = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey").distinct()
    val itemCnt = ex.groupBy($"l_partkey").agg(count(lit(1)).as("cnt"))
    val tot = ex.select($"l_orderkey").distinct()
      .agg(count(lit(1)).as("n_orders"))
    val a = ex.select($"l_orderkey", $"l_partkey".as("part_a"))
    val b = ex.select($"l_orderkey", $"l_partkey".as("part_b"))
    a.join(b, Seq("l_orderkey")).filter($"part_a" < $"part_b")
      .groupBy($"part_a", $"part_b").agg(count(lit(1)).as("co_count"))
      .filter($"co_count" >= 2)
      .join(itemCnt.select($"l_partkey".as("part_a"),
        $"cnt".as("cnt_a")), "part_a")
      .join(itemCnt.select($"l_partkey".as("part_b"),
        $"cnt".as("cnt_b")), "part_b")
      .crossJoin(broadcast(tot))
      .select($"part_a", $"part_b", $"co_count",
        decRound(($"co_count" * $"n_orders") / ($"cnt_a" * $"cnt_b"), 4)
          .as("lift"))
  }

  val q105Sql: String =
    """WITH ex AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |ic AS (SELECT l_partkey, count(*) AS cnt FROM ex GROUP BY l_partkey),
      |tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ex),
      |co AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS co_count
      |  FROM ex a JOIN ex b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT co.part_a, co.part_b, co.co_count,
      |  CAST(round(CAST((co.co_count * tot.n_orders) / (ia.cnt * ib.cnt)
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS lift
      |FROM co
      |JOIN ic ia ON ia.l_partkey = co.part_a
      |JOIN ic ib ON ib.l_partkey = co.part_b
      |CROSS JOIN tot""".stripMargin

  val q101Sql: String =
    """WITH s AS (
      |  SELECT l_returnflag,
      |    quantile_cont(l_extendedprice, 0.05) AS p05,
      |    quantile_cont(l_extendedprice, 0.95) AS p95
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT li.l_returnflag, count(*) AS n,
      |  CAST(round(CAST(avg(li.l_extendedprice) AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS raw_mean,
      |  CAST(round(CAST(avg(greatest(least(li.l_extendedprice, s.p95), s.p05))
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS winsor_mean
      |FROM lineitem li JOIN s USING (l_returnflag)
      |GROUP BY li.l_returnflag""".stripMargin

  /** q180_conversion_latency — time-to-convert distribution per
    * signup cohort week: for each user, the latency from their FIRST
    * view to the first purchase AT OR AFTER it, summarized as
    * median/p90 per cohort week (q84's week convention) — the
    * product-analytics companion to the funnel (q63 counts who
    * converts; this measures how long conversion takes, which is what
    * an activation team actually tunes). Latencies are exact integer
    * µs diffs converted by ONE division on identical operands;
    * percentile interpolation (quantile_cont ≡ percentile) then runs
    * on identical double multisets, so only the decimal round is
    * needed for belt-and-braces.
    *
    * Scale shape: one scan splits into per-user view minima and
    * purchase prints; the "first at-or-after" is a user-keyed join +
    * min — no window over the raw tape, no self-join; the percentile
    * agg runs per cohort week over converter-cardinality data.
    */
  def q180ConversionLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"), $"ts")
    val firstView = ev.filter($"event_type" === "view")
      .groupBy($"user_id")
      .agg(min($"us").as("v_us"), min($"ts").as("v_ts"))
    val conv = ev.filter($"event_type" === "purchase")
      .join(firstView, "user_id")
      .filter($"us" >= $"v_us")
      .groupBy($"user_id", date_trunc("week", $"v_ts").as("cohort_week"))
      .agg(((min($"us") - first($"v_us")).cast("double") / 1e6)
        .as("latency_s"))
    conv.groupBy($"cohort_week")
      .agg(count(lit(1)).as("n_converters"),
        decRound(percentile($"latency_s", lit(0.5)), 4).as("p50_s"),
        decRound(percentile($"latency_s", lit(0.9)), 4).as("p90_s"))
  }

  val q180Sql: String =
    """WITH fv AS (
      |  SELECT user_id, min(epoch_us(ts)) AS v_us,
      |    date_trunc('week', min(ts)) AS cohort_week
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |cv AS (
      |  SELECT e.user_id, fv.cohort_week,
      |    CAST(min(epoch_us(e.ts)) - fv.v_us AS DOUBLE) / 1e6 AS latency_s
      |  FROM events e JOIN fv ON e.user_id = fv.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fv.v_us
      |  GROUP BY e.user_id, fv.cohort_week, fv.v_us)
      |SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
      |  count(*) AS n_converters,
      |  CAST(round(CAST(quantile_cont(latency_s, 0.5) AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS p50_s,
      |  CAST(round(CAST(quantile_cont(latency_s, 0.9) AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS p90_s
      |FROM cv GROUP BY 1""".stripMargin

  /** q186_survival_km — Kaplan–Meier user-lifetime curve with right
    * censoring: each user's observed lifetime is last−first event in
    * whole days; users still active in the tape's final 3 days are
    * CENSORED (they didn't churn — the tape just ended), everyone
    * else churned at their duration. S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ)
    * with nᵢ = users at risk (duration ≥ tᵢ, censored included until
    * their horizon) — the estimator product rewritten as
    * exp(Σ ln(1−d/n)) over an ORDERED cumulative window, so both
    * engines sum identical doubles in identical ascending-t order
    * and the only drift surface is the final exp (6dp). Integers
    * everywhere else.
    *
    * Scale shape: one per-user agg off the tape, one duration-keyed
    * agg (output ≤ tape-days rows), a reverse cumulative at-risk sum
    * and the forward survival cumsum over that constant-sized frame.
    */
  def q186SurvivalKm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val dayUs = 86400000000L
    val ev = Tables.events(spark, dir)
    val life = ev.groupBy($"user_id")
      .agg(min(unix_micros($"ts")).as("first_us"),
        max(unix_micros($"ts")).as("last_us"))
      .crossJoin(broadcast(
        ev.agg(max(unix_micros($"ts")).as("tape_end"))))
      .select($"user_id",
        (($"last_us" - $"first_us") / dayUs).cast("long").as("t_days"),
        ($"last_us" >= $"tape_end" - lit(3L) * dayUs).as("censored"))
    val byT = life.groupBy($"t_days")
      .agg(sum(when(!$"censored", 1L).otherwise(0L)).as("d_events"),
        sum(when($"censored", 1L).otherwise(0L)).as("c_censored"),
        count(lit(1)).as("n_at"))
    val wRev = Window.orderBy($"t_days".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.orderBy($"t_days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // a bucket where EVERYONE at risk dies (d = n, only possible at
    // the curve's tail) sends S to an absorbing 0 — taken via an
    // explicit flag on both engines, because ln(0) is null in Spark
    // but THROWS in DuckDB (the q157 error-semantics lesson)
    byT
      .withColumn("n_risk", sum($"n_at").over(wRev))
      .withColumn("term", when($"d_events" < $"n_risk",
        log(lit(1.0) - $"d_events".cast("double") /
          $"n_risk".cast("double"))).otherwise(lit(0.0)))
      .withColumn("dead",
        max(when($"d_events" >= $"n_risk", 1L).otherwise(0L)).over(wFwd))
      .withColumn("survival", graft.functions.Num.decRound(
        when($"dead" === 1L, lit(0.0))
          .otherwise(exp(sum($"term").over(wFwd))), 6))
      .select($"t_days", $"n_risk", $"d_events", $"c_censored", $"survival")
  }

  val q186Sql: String =
    """WITH te AS (SELECT max(epoch_us(ts)) AS tape_end FROM events),
      |life AS (
      |  SELECT user_id,
      |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS t_days,
      |    max(epoch_us(ts)) >= (SELECT tape_end FROM te)
      |      - 3 * 86400000000 AS censored
      |  FROM events GROUP BY user_id),
      |bt AS (
      |  SELECT t_days,
      |    CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d_events,
      |    CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c_censored,
      |    count(*) AS n_at
      |  FROM life GROUP BY 1),
      |rk AS (
      |  SELECT t_days, d_events, c_censored,
      |    CAST(sum(n_at) OVER (ORDER BY t_days DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n_risk
      |  FROM bt),
      |tm AS (
      |  SELECT t_days, n_risk, d_events, c_censored,
      |    CASE WHEN d_events < n_risk THEN
      |      ln(1.0 - CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE))
      |      ELSE 0.0 END AS term,
      |    CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END AS deadf
      |  FROM rk)
      |SELECT CAST(t_days AS BIGINT) AS t_days, n_risk, d_events, c_censored,
      |  CAST(round(CAST(CASE WHEN max(deadf) OVER w = 1 THEN 0.0
      |    ELSE exp(sum(term) OVER w) END
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS survival
      |FROM tm
      |WINDOW w AS (ORDER BY t_days
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** q289_attribution — last-touch revenue attribution: every
    * purchase credits its value to the user's most recent PRIOR
    * non-purchase event type within a 7-day lookback ('direct' when
    * none), and the census reports per-channel purchase counts,
    * revenue, and revenue share — the marketing-mix read next to
    * q63's funnel (order of steps) and q180's conversion latency
    * (time between them). Scale: ONE tape exchange — the carry
    * window (two last-ignoreNulls columns over the same frame, so
    * both come from the same prior row), the purchase filter, and
    * the channel rollup all ride hash(user); the share is a
    * single-partition window over the ≤|event-types| reduced frame
    * (the q254 discipline). Determinism: the carry picks on the
    * total (ts, event_id) order; the 7-day cutoff compares exact
    * integer microseconds; revenue reduces in INTEGER CENTS (the q1
    * money lattice); the share is one IEEE division latticed 6dp.
    */
  def q289Attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val nonPurchase = $"event_type" =!= "purchase"
    val t = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .withColumn("p_ts",
        last(when(nonPurchase, unix_micros($"ts")), ignoreNulls = true)
          .over(w))
      .withColumn("p_type",
        last(when(nonPurchase, $"event_type"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select(
        when($"p_type".isNotNull &&
            unix_micros($"ts") - $"p_ts" <= 604800000000L, $"p_type")
          .otherwise(lit("direct")).as("channel"),
        round($"value".cast(DecimalType(28, 12)) * 100, 0).cast("long")
          .as("cents"))
    t.groupBy($"channel")
      .agg(count(lit(1)).as("n_purchases"),
        sum($"cents").as("revenue_cents"))
      .withColumn("revenue_share",
        graft.functions.Num.decRound(
          $"revenue_cents".cast("double")
            / sum($"revenue_cents").over(Window.partitionBy())
              .cast("double"), 6))
  }

  /** q292_cohort_ltv — cumulative lifetime value per signup cohort:
    * users cohort by their FIRST signup week, every later purchase
    * lands in its weeks-since-signup bucket, and each (cohort, week)
    * row reports buyers, weekly revenue, cumulative revenue, and
    * cumulative LTV per cohort member — the payback-curve read next
    * to q84's retention (presence) and q289's attribution (source):
    * this one prices the cohort. Purchases BEFORE the signup week are
    * excluded (mirrored — also dodges the engines' opposite negative
    * integer-division conventions: Spark div truncates, DuckDB //
    * floors; the filter keeps every operand non-negative where they
    * agree). Scale: cohorts and purchases both key on user_id — the
    * join and both rollups ride one hash(user) exchange family, the
    * cumulative window runs over the REDUCED (cohort, week) frame.
    * Determinism: cohort week from min(ts) (exact), weeks_since pure
    * integer µs div, revenue INTEGER CENTS (q1 money lattice), the
    * LTV division IEEE on converged operands latticed 4dp.
    */
  def q292CohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val cohorts = ev.filter($"event_type" === "signup")
      .groupBy($"user_id")
      .agg(date_trunc("week", min($"ts")).as("cohort_week"))
    val sizes = cohorts.groupBy($"cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    val g = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts",
        round($"value".cast(DecimalType(28, 12)) * 100, 0).cast("long")
          .as("cents"))
      .join(cohorts, "user_id")
      .filter(unix_micros($"ts") >= unix_micros($"cohort_week"))
      .withColumn("weeks_since",
        expr("(unix_micros(ts) - unix_micros(cohort_week)) div 604800000000"))
      .groupBy($"cohort_week", $"weeks_since")
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct($"user_id").as("n_buyers"),
        sum($"cents").as("revenue_cents"))
    val wCum = Window.partitionBy($"cohort_week").orderBy($"weeks_since")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.join(sizes, "cohort_week")
      .withColumn("cum_revenue_cents", sum($"revenue_cents").over(wCum))
      .select($"cohort_week", $"weeks_since", $"cohort_size",
        $"n_purchases", $"n_buyers", $"revenue_cents",
        $"cum_revenue_cents",
        graft.functions.Num.decRound(
          $"cum_revenue_cents".cast("double") / lit(100.0)
            / $"cohort_size".cast("double"), 4).as("ltv_per_user"))
  }

  /** q295_window_funnel — strict ORDERED funnel census with a time
    * window (the ClickHouse windowFunnel shape): per user, the
    * longest prefix of signup → view → click → purchase completed
    * IN ORDER, each step the first qualifying event after the
    * previous step, all within 7 days of the signup — then the
    * census of users by max step reached, the share, and the mean
    * completion time of finishers. q63 measures the loose funnel
    * (any click after signup, unbounded); this one is the strict
    * sequential conversion product teams actually ship. Scale: the
    * greedy chain is FOUR CASCADED whole-partition window aggregates
    * on one hash(user) exchange (each step's min conditions on the
    * previous step's window result — no self-join, no per-user
    * collect); the census reduces to ≤5 rows with the share as a
    * single-partition window (q254 discipline). Determinism: every
    * step pick is min over exact integer µs with strict > compares;
    * step counting and the completion mean ((Σ∆µs) div n — floor on
    * non-negative operands, where both engines agree) are pure
    * integer; the share is one IEEE division latticed 6dp.
    */
  def q295WindowFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
    val sevenD = 604800000000L
    val stepped = Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      .withColumn("t1", min(when($"event_type" === "signup", $"us")).over(w))
      .withColumn("t2", min(when($"event_type" === "view" &&
        $"us" > $"t1", $"us")).over(w))
      .withColumn("t3", min(when($"event_type" === "click" &&
        $"us" > $"t2", $"us")).over(w))
      .withColumn("t4", min(when($"event_type" === "purchase" &&
        $"us" > $"t3", $"us")).over(w))
    val perUser = stepped.groupBy($"user_id")
      .agg(max($"t1").as("t1"), max($"t2").as("t2"),
        max($"t3").as("t3"), max($"t4").as("t4"))
      .withColumn("max_step",
        when($"t1".isNull, 0L)
          .when($"t2".isNull || $"t2" - $"t1" > sevenD, 1L)
          .when($"t3".isNull || $"t3" - $"t1" > sevenD, 2L)
          .when($"t4".isNull || $"t4" - $"t1" > sevenD, 3L)
          .otherwise(4L))
    perUser.groupBy($"max_step")
      .agg(count(lit(1)).as("n_users"),
        sum(when($"max_step" === 4L, $"t4" - $"t1")).as("sum_us"))
      .withColumn("share",
        graft.functions.Num.decRound(
          $"n_users".cast("double")
            / sum($"n_users").over(Window.partitionBy()).cast("double"), 6))
      .withColumn("avg_complete_us",
        when($"max_step" === 4L, expr("sum_us div n_users")))
      .drop("sum_us")
  }

  /** q297_rfm — RFM customer segmentation: per purchasing user,
    * recency (days since last purchase vs the tape's last print),
    * frequency (purchase count), and monetary (integer cents) land in
    * VALUE-BASED quintiles, the 3-digit R·F·M segment code is the
    * census key — the classic lifecycle read next to q84's retention
    * and q292's LTV ("532 = recent, frequent, low-spend"). THE
    * QUINTILE MACHINERY IS THE SCALE STORY: ntile over the user frame
    * is a global sort of every customer (the q275 anti-pattern); all
    * three metrics are INTEGERS, so each quintile boundary comes from
    * the q275 two-pass histogram — groupBy(value) reduces to value
    * cardinality, one single-partition cumulative window over that
    * reduced frame, exact integer ceil-rank picks ((k·N+4) div 5), a
    * 4-row broadcast threshold set per metric, and score = 1 + #{th
    * strictly below} (order-independent, ties share a score; recency
    * inverts so recent = 5). The user frame localCheckpoints once
    * (four consumers — the q284 lineage discipline). Determinism:
    * everything is PURE INTEGER except the per-segment monetary mean
    * (one IEEE division latticed 2dp at dollar scale).
    */
  def q297Rfm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val refUs = ev.agg(max(unix_micros($"ts")).as("ref_us"))
    val rfm = ev.filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("us"),
        round($"value".cast(DecimalType(28, 12)) * 100, 0).cast("long")
          .as("cents"))
      .groupBy($"user_id")
      .agg(max($"us").as("last_us"), count(lit(1)).as("f"),
        sum($"cents").as("m"))
      .crossJoin(broadcast(refUs))
      .withColumn("r", expr("(ref_us - last_us) div 86400000000"))
      .select($"user_id", $"r", $"f", $"m")
      .localCheckpoint(true)
    def thresholds(metric: String): DataFrame = {
      val hist = rfm.groupBy(col(metric).as("v"))
        .agg(count(lit(1)).as("cnt"))
      val cum = hist.withColumn("cum",
        sum($"cnt").over(Window.orderBy($"v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cum.crossJoin(broadcast(rfm.agg(count(lit(1)).as("n_tot"))))
        .withColumn("k", explode(typedLit(Seq(1L, 2L, 3L, 4L))))
        .withColumn("rk", expr("(k * n_tot + 4) div 5"))
        .filter($"cum" >= $"rk" && $"cum" - $"cnt" < $"rk")
        .groupBy().agg(collect_list($"v").as("ths"))
    }
    def below(v: org.apache.spark.sql.Column, ths: org.apache.spark.sql.Column) =
      size(filter(ths, t => t < v)).cast("long")
    val scored = rfm
      .crossJoin(broadcast(thresholds("r").select($"ths".as("th_r"))))
      .crossJoin(broadcast(thresholds("f").select($"ths".as("th_f"))))
      .crossJoin(broadcast(thresholds("m").select($"ths".as("th_m"))))
      .select($"user_id", $"m",
        (lit(5L) - below($"r", $"th_r")).as("r_score"),
        (lit(1L) + below($"f", $"th_f")).as("f_score"),
        (lit(1L) + below($"m", $"th_m")).as("m_score"))
      .withColumn("segment",
        $"r_score" * 100L + $"f_score" * 10L + $"m_score")
    scored.groupBy($"segment")
      .agg(count(lit(1)).as("n_users"),
        sum($"m").as("cents"))
      .select($"segment", $"n_users",
        graft.functions.Num.decRound(
          $"cents".cast("double") / lit(100.0)
            / $"n_users".cast("double"), 2).as("mean_monetary"))
  }

  val q297Sql: String =
    """WITH ref AS (
      |  SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS ref_us FROM events),
      |rfm AS (
      |  SELECT user_id,
      |    (ref_us - max(epoch_us(ts))) // 86400000000 AS r,
      |    CAST(count(*) AS BIGINT) AS f,
      |    CAST(sum(CAST(round(CAST(value AS DECIMAL(28,12)) * 100, 0)
      |      AS BIGINT)) AS BIGINT) AS m
      |  FROM events CROSS JOIN ref WHERE event_type = 'purchase'
      |  GROUP BY user_id, ref_us),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM rfm),
      |hr AS (SELECT r AS v, count(*) AS cnt FROM rfm GROUP BY 1),
      |cr AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hr),
      |tr AS (
      |  SELECT v AS th FROM cr CROSS JOIN nt,
      |    (VALUES (1), (2), (3), (4)) k(k)
      |  WHERE cum >= (k * n_tot + 4) // 5
      |    AND cum - cnt < (k * n_tot + 4) // 5),
      |hf AS (SELECT f AS v, count(*) AS cnt FROM rfm GROUP BY 1),
      |cf AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hf),
      |tf AS (
      |  SELECT v AS th FROM cf CROSS JOIN nt,
      |    (VALUES (1), (2), (3), (4)) k(k)
      |  WHERE cum >= (k * n_tot + 4) // 5
      |    AND cum - cnt < (k * n_tot + 4) // 5),
      |hm AS (SELECT m AS v, count(*) AS cnt FROM rfm GROUP BY 1),
      |cm AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hm),
      |tm AS (
      |  SELECT v AS th FROM cm CROSS JOIN nt,
      |    (VALUES (1), (2), (3), (4)) k(k)
      |  WHERE cum >= (k * n_tot + 4) // 5
      |    AND cum - cnt < (k * n_tot + 4) // 5),
      |sc AS (
      |  SELECT user_id, m,
      |    5 - (SELECT count(*) FROM tr WHERE th < rfm.r) AS r_score,
      |    1 + (SELECT count(*) FROM tf WHERE th < rfm.f) AS f_score,
      |    1 + (SELECT count(*) FROM tm WHERE th < rfm.m) AS m_score
      |  FROM rfm),
      |g AS (
      |  SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
      |      AS segment,
      |    CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(m) AS BIGINT) AS cents
      |  FROM sc GROUP BY 1)
      |SELECT segment, n_users,
      |  CAST(round(CAST(CAST(cents AS DOUBLE) / 100.0
      |    / CAST(n_users AS DOUBLE) AS DECIMAL(28,12)), 2) AS DOUBLE)
      |    AS mean_monetary
      |FROM g""".stripMargin

  val q295Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (
      |  SELECT *, min(CASE WHEN event_type = 'signup' THEN us END)
      |    OVER (PARTITION BY user_id) AS t1 FROM e),
      |s2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'view' AND us > t1
      |    THEN us END) OVER (PARTITION BY user_id) AS t2 FROM s1),
      |s3 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND us > t2
      |    THEN us END) OVER (PARTITION BY user_id) AS t3 FROM s2),
      |s4 AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND us > t3
      |    THEN us END) OVER (PARTITION BY user_id) AS t4 FROM s3),
      |pu AS (
      |  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3,
      |    max(t4) AS t4
      |  FROM s4 GROUP BY 1),
      |st AS (
      |  SELECT user_id, t1, t4,
      |    CASE WHEN t1 IS NULL THEN 0
      |      WHEN t2 IS NULL OR t2 - t1 > 604800000000 THEN 1
      |      WHEN t3 IS NULL OR t3 - t1 > 604800000000 THEN 2
      |      WHEN t4 IS NULL OR t4 - t1 > 604800000000 THEN 3
      |      ELSE 4 END AS max_step
      |  FROM pu),
      |g AS (
      |  SELECT CAST(max_step AS BIGINT) AS max_step,
      |    CAST(count(*) AS BIGINT) AS n_users,
      |    sum(CASE WHEN max_step = 4 THEN t4 - t1 END) AS sum_us
      |  FROM st GROUP BY 1)
      |SELECT max_step, n_users,
      |  CAST(round(CAST(CAST(n_users AS DOUBLE)
      |    / CAST(sum(n_users) OVER () AS DOUBLE) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS share,
      |  CASE WHEN max_step = 4
      |    THEN CAST(sum_us // n_users AS BIGINT) END AS avg_complete_us
      |FROM g""".stripMargin

  val q292Sql: String =
    """WITH co AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |sz AS (
      |  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      |  FROM co GROUP BY 1),
      |p AS (
      |  SELECT co.cohort_week, e.user_id,
      |    (epoch_us(e.ts) - epoch_us(co.cohort_week)) // 604800000000
      |      AS weeks_since,
      |    CAST(round(CAST(e.value AS DECIMAL(28,12)) * 100, 0) AS BIGINT)
      |      AS cents
      |  FROM events e JOIN co USING (user_id)
      |  WHERE e.event_type = 'purchase'
      |    AND epoch_us(e.ts) >= epoch_us(co.cohort_week)),
      |g AS (
      |  SELECT cohort_week, CAST(weeks_since AS BIGINT) AS weeks_since,
      |    CAST(count(*) AS BIGINT) AS n_purchases,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers,
      |    CAST(sum(cents) AS BIGINT) AS revenue_cents
      |  FROM p GROUP BY 1, 2)
      |SELECT g.cohort_week, g.weeks_since, sz.cohort_size,
      |  g.n_purchases, g.n_buyers, g.revenue_cents,
      |  CAST(sum(g.revenue_cents) OVER (PARTITION BY g.cohort_week
      |    ORDER BY g.weeks_since
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_revenue_cents,
      |  CAST(round(CAST(CAST(sum(g.revenue_cents) OVER (
      |      PARTITION BY g.cohort_week ORDER BY g.weeks_since
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / 100.0 / CAST(sz.cohort_size AS DOUBLE)
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS ltv_per_user
      |FROM g JOIN sz USING (cohort_week)""".stripMargin

  val q289Sql: String =
    """WITH ev AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    last_value(CASE WHEN event_type <> 'purchase'
      |      THEN epoch_us(ts) END IGNORE NULLS) OVER w AS p_ts,
      |    last_value(CASE WHEN event_type <> 'purchase'
      |      THEN event_type END IGNORE NULLS) OVER w AS p_type
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |p AS (
      |  SELECT CASE WHEN p_type IS NOT NULL
      |      AND epoch_us(ts) - p_ts <= 604800000000
      |    THEN p_type ELSE 'direct' END AS channel,
      |    CAST(round(CAST(value AS DECIMAL(28,12)) * 100, 0) AS BIGINT)
      |      AS cents
      |  FROM ev WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
      |    CAST(sum(cents) AS BIGINT) AS revenue_cents
      |  FROM p GROUP BY 1)
      |SELECT channel, n_purchases, revenue_cents,
      |  CAST(round(CAST(CAST(revenue_cents AS DOUBLE)
      |    / CAST(sum(revenue_cents) OVER () AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS revenue_share
      |FROM m""".stripMargin
}
