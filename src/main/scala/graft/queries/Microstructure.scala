package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 microstructure batch (SURVEY §2, q155–q157, q160,
  * q164–q166): the tick-tape diagnostics a trading-analytics master
  * runs next to the BBO/trade-sign family (q151–q153) — post-trade
  * markouts, tick-rule order-flow imbalance, realized variance, quote
  * conflation, Benford forensics, Amihud illiquidity, and staleness
  * SLA audit. The events table is the tick tape (user_id =
  * instrument, value = price), as everywhere in the quant family.
  *
  * Scale shapes: every query is one keyed window pass or one as-of
  * union pass over the tape — shuffles on user_id (or user_id+day)
  * only, no self-joins, no driver loops. FP discipline per SURVEY §6:
  * derived doubles round in decimal space; sign/suppression decisions
  * compare STORED doubles (exact), never derived ones.
  */
object Microstructure {

  private def decRound(c: org.apache.spark.sql.Column, scale: Int) =
    graft.functions.Num.decRound(c, scale)

  /** q155_markout — multi-horizon post-trade markout: for every
    * purchase print, the tape price at (or first after) t+h for
    * h ∈ {60s, 300s, 900s}, averaged per horizon. The standard
    * execution-quality measure (positive average markout on buys =
    * adverse selection). ONE forward as-of pass: the three horizon
    * copies of the trade side are exploded row-locally, shifted to
    * their deadline, and the whole union sorts once per user — no
    * per-horizon tape re-scan (3 horizons cost one exchange, not
    * three), which at 100 TB is the difference between a single tape
    * shuffle and h of them.
    */
  def q155Markout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val trades = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
      .withColumn("h_sec", explode(array(lit(60L), lit(300L), lit(900L))))
      .withColumn("ts_q",
        timestamp_micros(unix_micros($"ts") + $"h_sec" * 1000000L))
    val tape = ev.select($"user_id", $"ts", $"value")
    graft.operators.AsOf.join(trades, tape, key = "user_id",
      leftTs = "ts_q", rightTs = "ts",
      rightVals = Seq("value" -> "px_h"),
      inner = true, toleranceSec = Some(86400L), direction = "forward")
      .groupBy($"h_sec")
      .agg(count(lit(1)).as("n_trades"),
        decRound(avg($"px_h" - $"value"), 4).as("avg_markout"))
  }

  val q155Sql: String =
    """SELECT CAST(h.h_sec AS BIGINT) AS h_sec, count(*) AS n_trades,
      |  CAST(round(CAST(avg(p.value - t.value) AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS avg_markout
      |FROM events t
      |CROSS JOIN (VALUES (60), (300), (900)) AS h(h_sec)
      |JOIN LATERAL (
      |  SELECT value FROM events p
      |  WHERE p.user_id = t.user_id
      |    AND epoch_us(p.ts) >= epoch_us(t.ts) + h.h_sec * 1000000
      |    AND epoch_us(p.ts) <= epoch_us(t.ts) + h.h_sec * 1000000 + 86400000000
      |  ORDER BY p.ts ASC, p.value DESC LIMIT 1) p ON true
      |WHERE t.event_type = 'purchase'
      |GROUP BY 1""".stripMargin

  /** q156_order_imbalance — tick-rule order-flow imbalance per
    * (instrument, day): each print is signed by the tick test (+1 on
    * an uptick, −1 on a downtick, zero-ticks carry the LAST nonzero
    * sign — the no-quote half of Lee–Ready, q153's cousin), and OFI =
    * Σ(sign·size)/Σ(size) over the signed prints. Spark carries the
    * sign with last-nonzero-over-ordered-frame (ignoreNulls) so every
    * window AND the rollup cluster on user_id — one tape exchange; the
    * oracle states the same carry as a gaps-and-islands CTE (island id
    * = running count of nonzero ticks, one nonzero sign per island),
    * which is provably the same function — DuckDB's planner cost
    * doesn't matter on the oracle side, cross-engine semantic
    * certainty does.
    */
  def q156OrderImbalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // both windows and the final rollup are user_id-clustered, so the
    // whole query runs on ONE tape exchange (PlanSpec-pinned): the
    // carry-forward is last-nonzero over the SAME ordered frame as the
    // tick diff, and groupBy(user_id, day) reuses the window's
    // hashpartitioning(user_id) by the subset rule
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts", $"value")
      // raw tick sign: exact comparison of STORED doubles, no rounding
      .withColumn("raw", signum($"value" - lag($"value", 1).over(wOrd)))
      .withColumn("sign",
        last(when($"raw" =!= 0.0, $"raw"), ignoreNulls = true).over(wRun))
      .filter($"sign".isNotNull)
      .groupBy($"user_id", date_trunc("day", $"ts").as("day"))
      .agg(count(lit(1)).as("n_signed"),
        decRound(sum($"sign" * $"value") / nullif(sum($"value"), lit(0.0)), 4)
          .as("ofi"))
  }

  val q156Sql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, ts, value,
      |    sign(value - lag(value) OVER w) AS raw
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |g AS (
      |  SELECT user_id, event_id, ts, value, raw,
      |    count(CASE WHEN raw <> 0.0 THEN 1 END) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM t),
      |s AS (
      |  SELECT user_id, ts, value,
      |    max(CASE WHEN raw <> 0.0 THEN raw END) OVER (
      |      PARTITION BY user_id, grp) AS sgn
      |  FROM g)
      |SELECT user_id, date_trunc('day', ts) AS day,
      |  count(*) AS n_signed,
      |  CAST(round(CAST(sum(sgn * value) / nullif(sum(value), 0.0) AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS ofi
      |FROM s WHERE sgn IS NOT NULL
      |GROUP BY 1, 2""".stripMargin

  /** q157_realized_variance — per (instrument, day) realized variance
    * from intraday log returns: RV = Σ ln(p_t/p_{t−1})², prev tick
    * from the SAME day (overnight gaps excluded by partitioning the
    * lag on (user, day)). Log returns keep each term O(1) so the
    * group sum stays far from the 6dp rounding boundary under either
    * engine's summation order (ln itself is bit-stable across both —
    * the q25 precedent). Single-tick days emit rv NULL, n_rets 0 —
    * present but unmeasurable, matching SQL aggregate semantics.
    */
  def q157RealizedVariance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // day materialized once so the window partition and the rollup
    // group on the same attributes — one tape exchange (PlanSpec)
    val w = Window.partitionBy($"user_id", $"day").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts", $"value",
        date_trunc("day", $"ts").as("day"))
      // zero prices (the tape contains exact 0.0 values) must be
      // EXCLUDED explicitly: Spark's log() nulls on non-positive input
      // but DuckDB's ln() throws — the CASE guard pins the same
      // "unmeasurable return" semantics on both engines
      .withColumn("ret", when($"value" > 0.0,
        log($"value" / nullif(lag($"value", 1).over(w), lit(0.0)))))
      .groupBy($"user_id", $"day")
      .agg(count($"ret").as("n_rets"),
        decRound(sum($"ret" * $"ret"), 6).as("rv"))
  }

  val q157Sql: String =
    """WITH r AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    CASE WHEN value > 0.0 THEN
      |      ln(value / nullif(lag(value) OVER (
      |        PARTITION BY user_id, date_trunc('day', ts)
      |        ORDER BY ts, event_id), 0.0)) END AS ret
      |  FROM events)
      |SELECT user_id, day, count(ret) AS n_rets,
      |  CAST(round(CAST(sum(ret * ret) AS DECIMAL(28,12)), 6) AS DOUBLE) AS rv
      |FROM r GROUP BY 1, 2""".stripMargin

  /** q160_conflate — quote-conflation audit: a print is SUPPRESSIBLE
    * when it repeats the previous print's price within 5 seconds (the
    * unchanged-tick storm a feed handler conflates before the tape is
    * stored). Emits the per-instrument keep/suppress census the
    * ingest pipeline sizes its conflation buffers from. Decision
    * inputs are a stored-double equality and an integer µs gap — both
    * exact, so the flag is engine-independent with no tolerance knob.
    */
  def q160Conflate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts", $"value")
      .withColumn("dup", ($"value" === lag($"value", 1).over(w)) &&
        (unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w))
          <= 5000000L))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"dup", 1L).otherwise(0L)).as("n_suppressed"))
  }

  /** q165_amihud — Amihud (2002) illiquidity per (instrument, day):
    * avg(|return| / size) over same-day consecutive prints, scaled
    * ×10⁶ — price impact per unit of flow, THE standard low-frequency
    * liquidity proxy. Returns reuse the q157 lag discipline (same-day
    * partition, zero prices excluded on both engines); terms guard
    * both divisors. One tape exchange, same plan family as q157.
    */
  def q165Amihud(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id", $"day").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts", $"value",
        date_trunc("day", $"ts").as("day"))
      .withColumn("prev", lag($"value", 1).over(w))
      .withColumn("illiq", when($"value" > 0.0 && $"prev" > 0.0,
        abs(($"value" - $"prev") / $"prev") / $"value" * lit(1000000.0)))
      .groupBy($"user_id", $"day")
      .agg(count($"illiq").as("n_terms"),
        decRound(avg($"illiq"), 4).as("amihud"))
  }

  val q165Sql: String =
    """WITH r AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, value,
      |    lag(value) OVER (PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts, event_id) AS prev
      |  FROM events),
      |t AS (
      |  SELECT user_id, day,
      |    CASE WHEN value > 0.0 AND prev > 0.0 THEN
      |      abs((value - prev) / prev) / value * 1000000.0 END AS illiq
      |  FROM r)
      |SELECT user_id, day, count(illiq) AS n_terms,
      |  CAST(round(CAST(avg(illiq) AS DECIMAL(28,12)), 4) AS DOUBLE)
      |    AS amihud
      |FROM t GROUP BY 1, 2""".stripMargin

  /** q166_staleness — market-data SLA audit per (instrument, day):
    * the share of the day's traded span spent with the latest print
    * older than 300s, plus the worst gap. Pure integer µs arithmetic
    * until the final ratio (exact on both engines); the excess-over-
    * threshold sum is the time-weighted staleness a feed SLA is
    * written against, not a gap count. Single-print days carry a NULL
    * share (no span), mirroring q157's unmeasurable convention.
    */
  def q166Staleness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id", $"day").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts",
        date_trunc("day", $"ts").as("day"))
      .withColumn("gap_us",
        unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)))
      .groupBy($"user_id", $"day")
      .agg(
        sum(greatest($"gap_us" - 300000000L, lit(0L))).as("stale_us"),
        max($"gap_us").as("max_gap_us"),
        (max(unix_micros($"ts")) - min(unix_micros($"ts"))).as("span_us"))
      .select($"user_id", $"day",
        coalesce($"stale_us", lit(0L)).as("stale_us"),
        $"max_gap_us",
        decRound($"stale_us".cast("double") /
          nullif($"span_us", lit(0L)).cast("double"), 6).as("stale_share"))
  }

  val q166Sql: String =
    """WITH g AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, ts,
      |    epoch_us(ts) - epoch_us(lag(ts) OVER (
      |      PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts, event_id)) AS gap_us
      |  FROM events),
      |a AS (
      |  SELECT user_id, day,
      |    CAST(sum(greatest(gap_us - 300000000, 0)) AS BIGINT) AS stale_us,
      |    CAST(max(gap_us) AS BIGINT) AS max_gap_us,
      |    max(epoch_us(ts)) - min(epoch_us(ts)) AS span_us
      |  FROM g GROUP BY 1, 2)
      |SELECT user_id, day, coalesce(stale_us, 0) AS stale_us, max_gap_us,
      |  CAST(round(CAST(CAST(stale_us AS DOUBLE) /
      |    CAST(nullif(span_us, 0) AS DOUBLE) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS stale_share
      |FROM a""".stripMargin

  /** q167_roll_spread — Roll (1984) implied effective spread per
    * (instrument, day): 2·√(−cov(Δp_t, Δp_{t−1})) over same-day
    * consecutive price changes, defined only where the serial
    * covariance is negative (the bid-ask bounce signature). The
    * covariance is guarded by an explicit CASE on BOTH engines —
    * Spark's sqrt yields NaN on a positive-cov day where DuckDB
    * throws, the q157 error-semantics lesson applied to sqrt. Two
    * same-key window passes + covar_pop, all on the one tape exchange.
    */
  def q167RollSpread(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id", $"day").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts", $"value",
        date_trunc("day", $"ts").as("day"))
      .withColumn("dp", $"value" - lag($"value", 1).over(w))
      .withColumn("dp_prev", lag($"dp", 1).over(w))
      .groupBy($"user_id", $"day")
      .agg(
        count(when($"dp".isNotNull && $"dp_prev".isNotNull, 1)).as("n_pairs"),
        covar_pop($"dp", $"dp_prev").as("cov"))
      .select($"user_id", $"day", $"n_pairs",
        decRound(when($"cov" < 0.0, lit(2.0) * sqrt(-$"cov")), 6)
          .as("roll_spread"))
  }

  val q167Sql: String =
    """WITH d AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, ts, event_id,
      |    value - lag(value) OVER w AS dp
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, date_trunc('day', ts)
      |               ORDER BY ts, event_id)),
      |p AS (
      |  SELECT user_id, day, dp,
      |    lag(dp) OVER (PARTITION BY user_id, day
      |                  ORDER BY ts, event_id) AS dp_prev
      |  FROM d),
      |a AS (
      |  SELECT user_id, day,
      |    count(CASE WHEN dp IS NOT NULL AND dp_prev IS NOT NULL THEN 1 END)
      |      AS n_pairs,
      |    covar_pop(dp, dp_prev) AS cov
      |  FROM p GROUP BY 1, 2)
      |SELECT user_id, day, CAST(n_pairs AS BIGINT) AS n_pairs,
      |  CAST(round(CAST(CASE WHEN cov < 0.0 THEN 2.0 * sqrt(-cov) END
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS roll_spread
      |FROM a""".stripMargin

  /** q168_variance_ratio — Lo–MacKinlay VR(5) per instrument:
    * Var(5-period aggregated log return) / (5·Var(1-period)) over the
    * full tape — ≈1 under a random walk, <1 under mean reversion
    * (microstructure noise), >1 under momentum. The 5-period sums come
    * from a bounded ROWS frame gated on a full count (partial windows
    * at the head emit nothing, identically on both engines); both
    * variances are population moments per user; zero-variance tapes
    * emit NULL rather than an ANSI division error.
    */
  def q168VarianceRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val w5 = w.rowsBetween(-4, Window.currentRow)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts", $"value")
      .withColumn("r", when($"value" > 0.0,
        log($"value" / nullif(lag($"value", 1).over(w), lit(0.0)))))
      .withColumn("r5",
        when(count($"r").over(w5) === 5, sum($"r").over(w5)))
      .groupBy($"user_id")
      .agg(count($"r").as("n_rets"),
        var_pop($"r").as("v1"), var_pop($"r5").as("v5"))
      .select($"user_id", $"n_rets",
        decRound($"v5" / nullif(lit(5.0) * $"v1", lit(0.0)), 6).as("vr5"))
  }

  val q168Sql: String =
    """WITH r AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN value > 0.0 THEN
      |      ln(value / nullif(lag(value) OVER w, 0.0)) END AS r
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |r5 AS (
      |  SELECT user_id, r,
      |    CASE WHEN count(r) OVER w5 = 5 THEN sum(r) OVER w5 END AS r5
      |  FROM r
      |  WINDOW w5 AS (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
      |a AS (
      |  SELECT user_id, count(r) AS n_rets,
      |    var_pop(r) AS v1, var_pop(r5) AS v5
      |  FROM r5 GROUP BY user_id)
      |SELECT user_id, CAST(n_rets AS BIGINT) AS n_rets,
      |  CAST(round(CAST(v5 / nullif(5.0 * v1, 0.0) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS vr5
      |FROM a""".stripMargin

  /** q164_benford — first-significant-digit forensics per event type:
    * observed digit shares against the Benford expectation
    * log10(1+1/d), the standard fabricated-data screen a data-quality
    * pipeline runs over new numeric feeds. Digit extraction goes
    * through DECIMAL(18,6) → string → first [1-9] — decimal casts
    * round half-up identically on both engines (the Num.decRound
    * contract), where a log10-of-double formulation would sit exactly
    * on representation boundaries. One scan, one (type, digit) agg;
    * the deviation column is row-local arithmetic on the agg output.
    */
  def q164Benford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wT = Window.partitionBy($"event_type")
    Tables.events(spark, dir)
      .filter($"value" > 0.0)
      .select($"event_type",
        regexp_extract(
          $"value".cast(org.apache.spark.sql.types.DecimalType(18, 6))
            .cast("string"), "[1-9]", 0).as("digit"))
      .filter($"digit" =!= "")
      .groupBy($"event_type", $"digit")
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        $"n".cast("double") / sum($"n").over(wT).cast("double"))
      .select($"event_type", $"digit", $"n",
        decRound($"share", 6).as("share"),
        decRound(log(10.0, lit(1.0) + lit(1.0) / $"digit".cast("double")), 6).as("benford"),
        decRound(abs($"share" - log(10.0, lit(1.0) + lit(1.0) / $"digit".cast("double"))), 6).as("abs_dev"))
  }

  val q164Sql: String =
    """WITH d AS (
      |  SELECT event_type,
      |    regexp_extract(CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR),
      |      '[1-9]', 0) AS digit
      |  FROM events WHERE value > 0.0),
      |c AS (
      |  SELECT event_type, digit, count(*) AS n
      |  FROM d WHERE digit <> '' GROUP BY 1, 2),
      |s AS (
      |  SELECT event_type, digit, n,
      |    CAST(n AS DOUBLE) /
      |      CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE) AS share,
      |    log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS benford
      |  FROM c)
      |SELECT event_type, digit, n,
      |  CAST(round(CAST(share AS DECIMAL(28,12)), 6) AS DOUBLE) AS share,
      |  CAST(round(CAST(benford AS DECIMAL(28,12)), 6) AS DOUBLE) AS benford,
      |  CAST(round(CAST(abs(share - benford) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS abs_dev
      |FROM s""".stripMargin

  val q160Sql: String =
    """WITH d AS (
      |  SELECT user_id,
      |    CASE WHEN value = lag(value) OVER w
      |          AND epoch_us(ts) - epoch_us(lag(ts) OVER w) <= 5000000
      |         THEN 1 ELSE 0 END AS dup
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, count(*) AS n_events,
      |  CAST(sum(dup) AS BIGINT) AS n_suppressed
      |FROM d GROUP BY 1""".stripMargin

  /** q170_kyle_lambda — Kyle (1985) price-impact coefficient per
    * instrument: the OLS slope of the tick price change on SIGNED
    * flow, λ = cov(Δp, sign·size) / var(sign·size), scaled ×10⁶
    * (impact per million size units). Signs come from q156's
    * tick-rule recurrence (raw signum of the stored-double diff,
    * zero-ticks carry the last nonzero sign over the SAME ordered
    * frame); size is the props JSON `k` field (the q62 extraction),
    * so flow is independent of the price column. Both windows and
    * the final per-instrument rollup are user_id-clustered — the
    * whole regression runs on ONE tape exchange, and the slope is a
    * pair of streaming co-moments, never a row-matrix materialization.
    * Zero-variance flow (a one-sided or empty tape) nulls λ via the
    * divisor guard; cross-engine co-moment accumulation-order drift
    * is absorbed by the 6dp decimal round (the q167 discipline).
    */
  def q170KyleLambda(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts", $"value",
        Tables.tradeSize($"props").as("size"))
      .withColumn("dp", $"value" - lag($"value", 1).over(wOrd))
      .withColumn("raw", signum($"dp"))
      .withColumn("sign",
        last(when($"raw" =!= 0.0, $"raw"), ignoreNulls = true).over(wRun))
      .filter($"sign".isNotNull && $"dp".isNotNull)
      .withColumn("q", $"sign" * $"size".cast("double"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_obs"),
        decRound(covar_pop($"dp", $"q") /
          nullif(var_pop($"q"), lit(0.0)) * lit(1000000.0), 6)
          .as("kyle_lambda"))
  }

  val q170Sql: String =
    """WITH d AS (
      |  SELECT user_id, ts, event_id, value,
      |    CAST(json_extract(props, '$.k') AS BIGINT) AS size,
      |    value - lag(value) OVER w AS dp
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, dp, size,
      |    last_value(CASE WHEN sign(dp) <> 0.0 THEN sign(dp) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sgn
      |  FROM d),
      |f AS (
      |  SELECT user_id, dp, sgn * CAST(size AS DOUBLE) AS q
      |  FROM s WHERE sgn IS NOT NULL AND dp IS NOT NULL)
      |SELECT user_id, count(*) AS n_obs,
      |  CAST(round(CAST(covar_pop(dp, q) / nullif(var_pop(q), 0.0)
      |    * 1000000.0 AS DECIMAL(28,12)), 6) AS DOUBLE) AS kyle_lambda
      |FROM f GROUP BY 1""".stripMargin

  /** q173_quoted_spread_tw — TIME-weighted quoted spread per
    * (instrument, day): each book state (the q151 even/odd-side BBO
    * recurrence) holds from its print to the next same-day print, and
    * the spread is averaged by those holding times — the quoted-cost
    * figure an execution desk actually budgets against, where the
    * print-weighted average over-counts bursts of quote flicker.
    * Intervals with a one-sided or crossed book are unquotable and
    * drop (both their spread and their time), so the denominator is
    * two-sided-quoted time, not the calendar day.
    *
    * Scale shape: the book carry rides ONE user_id tape exchange
    * (same sorted frame as q151); the same-day lead and the rollup are
    * (user_id, day) — a subset-clustered re-sort, not a second
    * shuffle. Weights are exact integer µs; the Σ(spread·w) doubles
    * accumulate engine-side in different orders, absorbed by the 6dp
    * round. Same-µs consecutive prints carry zero weight, and a day
    * whose quoted time is entirely zero-weight nulls the average via
    * the divisor guard rather than dividing by zero (ANSI mode).
    */
  def q173QuotedSpreadTw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wBook = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDay = Window.partitionBy($"user_id", $"day").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .filter($"value" > 0)
      .select($"user_id", $"ts", $"event_id",
        when($"event_id" % 2 === 0, $"value").as("bid_px"),
        when($"event_id" % 2 =!= 0, $"value").as("ask_px"))
      .withColumn("best_bid", last($"bid_px", ignoreNulls = true).over(wBook))
      .withColumn("best_ask", last($"ask_px", ignoreNulls = true).over(wBook))
      .withColumn("day", date_trunc("day", $"ts"))
      .withColumn("w_us",
        unix_micros(lead($"ts", 1).over(wDay)) - unix_micros($"ts"))
      .filter($"w_us".isNotNull && $"best_bid".isNotNull &&
        $"best_ask".isNotNull && $"best_bid" < $"best_ask")
      .groupBy($"user_id", $"day")
      .agg(count(lit(1)).as("n_quoted"),
        sum($"w_us").as("quoted_us"),
        decRound(sum(($"best_ask" - $"best_bid") * $"w_us".cast("double")) /
          nullif(sum($"w_us"), lit(0L)).cast("double"), 6).as("tw_spread"))
  }

  val q173Sql: String =
    """WITH b AS (
      |  SELECT user_id, ts, event_id, date_trunc('day', ts) AS day,
      |    last_value(CASE WHEN event_id % 2 = 0 THEN value END IGNORE NULLS)
      |      OVER w AS best_bid,
      |    last_value(CASE WHEN event_id % 2 <> 0 THEN value END IGNORE NULLS)
      |      OVER w AS best_ask
      |  FROM events WHERE value > 0
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |l AS (
      |  SELECT user_id, day, best_bid, best_ask,
      |    epoch_us(lead(ts) OVER (PARTITION BY user_id, day
      |      ORDER BY ts, event_id)) - epoch_us(ts) AS w_us
      |  FROM b),
      |f AS (
      |  SELECT * FROM l
      |  WHERE w_us IS NOT NULL AND best_bid IS NOT NULL
      |    AND best_ask IS NOT NULL AND best_bid < best_ask)
      |SELECT user_id, day, count(*) AS n_quoted,
      |  CAST(sum(w_us) AS BIGINT) AS quoted_us,
      |  CAST(round(CAST(sum((best_ask - best_bid) * CAST(w_us AS DOUBLE)) /
      |    CAST(nullif(sum(w_us), 0) AS DOUBLE) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS tw_spread
      |FROM f GROUP BY 1, 2""".stripMargin

  /** q179_vpin — volume-synchronized order-flow toxicity (the VPIN
    * construction of Easley/López de Prado/O'Hara) per instrument:
    * signed prints (q156 tick-rule carry, q170 props-JSON size) are
    * cut into fixed 500-unit VOLUME buckets by the integer cumulative
    * volume, each bucket scores |Σ sign·size| / Σ size, and VPIN is
    * the mean bucket score. Trades are not split across bucket
    * boundaries (whole-print assignment by the volume cum BEFORE the
    * print — documented simplification, mirrored exactly in the
    * oracle). The pipeline is INTEGER until each bucket's single
    * division (sign cast to ±1 long, so the imbalance numerator is an
    * exact integer); only the final mean over buckets needs the 6dp
    * round. Zero-volume buckets null their score and drop from the
    * mean on both engines rather than dividing by zero.
    *
    * Scale shape: the sign carry, the cumulative volume, and both
    * rollups are all user_id-clustered — one tape exchange end to
    * end, the q156/q170 plan family; bucket count is data-volume /
    * 500 per instrument, never materialized beyond the agg.
    */
  def q179Vpin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts", $"value",
        Tables.tradeSize($"props").as("size"))
      .withColumn("raw", signum($"value" - lag($"value", 1).over(wOrd)))
      .withColumn("sign",
        last(when($"raw" =!= 0.0, $"raw"), ignoreNulls = true).over(wRun))
      .filter($"sign".isNotNull)
      .withColumn("sgn", $"sign".cast("long"))
      .withColumn("cum", sum($"size").over(wRun))
      .withColumn("bucket", expr("(cum - size) div 500"))
      .groupBy($"user_id", $"bucket")
      .agg(sum($"size").as("vol"), sum($"sgn" * $"size").as("snet"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_buckets"),
        decRound(avg(abs($"snet").cast("double") /
          nullif($"vol", lit(0L)).cast("double")), 6).as("vpin"))
  }

  /** q187_ofi_predictability — does today's order flow predict
    * tomorrow's return? Per instrument: corr(OFI_t, ret_{t+1}) over
    * its days — the standard signal-decay test run on the
    * order-flow-imbalance literature's headline claim. Daily OFI
    * reuses the exact q156 recurrence (tick-rule sign carry, ratio of
    * Σ sign·px to Σ px per day); next-day return is the q176
    * first-to-last convention; adjacency joins on exact integer
    * epoch-days. Both daily frames come off ONE tape scan each with
    * user-clustered windows; the join and correlation run on
    * day-cardinality data per instrument. 6dp absorbs corr's
    * accumulation order (its INPUTS are deterministic on both
    * engines: the OFI ratio divides two fully-reduced sums, the
    * return divides two picked prints).
    */
  def q187OfiPredictability(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts", $"value")
    val ofi = ev
      .withColumn("raw", signum($"value" - lag($"value", 1).over(wOrd)))
      .withColumn("sign",
        last(when($"raw" =!= 0.0, $"raw"), ignoreNulls = true).over(wRun))
      .filter($"sign".isNotNull)
      .groupBy($"user_id",
        (unix_micros(date_trunc("day", $"ts")) / lit(86400000000L))
          .cast("long").as("day_idx"))
      .agg((sum($"sign" * $"value") / nullif(sum($"value"), lit(0.0)))
        .as("ofi"))
    val wDay = Window.partitionBy($"user_id", $"day_idx")
      .orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rets = ev
      .withColumn("day_idx",
        (unix_micros(date_trunc("day", $"ts")) / lit(86400000000L))
          .cast("long"))
      .withColumn("first_px", first($"value").over(wDay))
      .withColumn("last_px", last($"value").over(wDay))
      .select($"user_id", $"day_idx", $"first_px", $"last_px").distinct()
      .select($"user_id", ($"day_idx" - 1L).as("day_idx"),
        (($"last_px" - $"first_px") / nullif($"first_px", lit(0.0)))
          .as("ret_next"))
      .filter($"ret_next".isNotNull)
    ofi.join(rets, Seq("user_id", "day_idx"))
      .filter($"ofi".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        decRound(corr($"ofi", $"ret_next"), 6).as("pred_corr"))
  }

  val q187Sql: String =
    """WITH d AS (
      |  SELECT user_id, ts, event_id, value,
      |    value - lag(value) OVER w AS dp
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, value,
      |    last_value(CASE WHEN sign(dp) <> 0.0 THEN sign(dp) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sgn
      |  FROM d),
      |o AS (
      |  SELECT user_id,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_idx,
      |    sum(sgn * value) / nullif(sum(value), 0.0) AS ofi
      |  FROM s WHERE sgn IS NOT NULL GROUP BY 1, 2),
      |px AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_idx,
      |    first_value(value) OVER w AS first_px,
      |    last_value(value) OVER w AS last_px
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, date_trunc('day', ts)
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      |r AS (
      |  SELECT user_id, day_idx - 1 AS day_idx,
      |    (last_px - first_px) / nullif(first_px, 0.0) AS ret_next
      |  FROM px
      |  WHERE (last_px - first_px) / nullif(first_px, 0.0) IS NOT NULL)
      |SELECT o.user_id, count(*) AS n_days,
      |  CAST(round(CAST(corr(o.ofi, r.ret_next) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS pred_corr
      |FROM o JOIN r ON r.user_id = o.user_id AND r.day_idx = o.day_idx
      |WHERE o.ofi IS NOT NULL
      |GROUP BY 1""".stripMargin

  val q179Sql: String =
    """WITH d AS (
      |  SELECT user_id, ts, event_id, value,
      |    CAST(json_extract(props, '$.k') AS BIGINT) AS size,
      |    value - lag(value) OVER w AS dp
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, event_id, size,
      |    last_value(CASE WHEN sign(dp) <> 0.0 THEN sign(dp) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sgn
      |  FROM d),
      |f AS (
      |  SELECT user_id, size, CAST(sgn AS BIGINT) AS sgn,
      |    sum(size) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM s WHERE sgn IS NOT NULL),
      |b AS (
      |  SELECT user_id, (cum - size) // 500 AS bucket,
      |    CAST(sum(size) AS BIGINT) AS vol,
      |    CAST(sum(sgn * size) AS BIGINT) AS snet
      |  FROM f GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_buckets,
      |  CAST(round(CAST(avg(CAST(abs(snet) AS DOUBLE) /
      |    CAST(nullif(vol, 0) AS DOUBLE)) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS vpin
      |FROM b GROUP BY 1""".stripMargin

  /** q200_liquidity_score — the composite liquidity screen: each
    * instrument ranked on THREE of the engine's own metrics — mean
    * daily Amihud illiquidity (q165, ascending = liquid), mean daily
    * time-weighted quoted spread (q173, ascending), and print count
    * (descending) — composite = mean of the three integer ranks. The
    * cross-metric table a trading-universe filter is actually built
    * from, and the capstone showing the engine's outputs COMPOSE: the
    * Spark side calls the q165/q173 builders, the oracle nests their
    * SQL verbatim as subqueries — one definition each, no drift.
    *
    * Determinism: the daily inputs are the queries' own 6dp-rounded
    * outputs (exact lattice points), per-instrument means reduce as
    * EXACT decimal sums (q178 discipline), ranks are row_number with
    * a user_id tiebreak, and the composite divides exact longs.
    * Instruments missing either daily frame drop (inner joins) —
    * you cannot rank what you cannot measure.
    */
  def q200LiquidityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val am = q165Amihud(spark, dir)
      .filter($"amihud".isNotNull)
      .groupBy($"user_id")
      .agg((sum($"amihud".cast(DecimalType(18, 6))).cast("double") /
        count(lit(1)).cast("double")).as("m_amihud"))
    val sp = q173QuotedSpreadTw(spark, dir)
      .filter($"tw_spread".isNotNull)
      .groupBy($"user_id")
      .agg((sum($"tw_spread".cast(DecimalType(18, 6))).cast("double") /
        count(lit(1)).cast("double")).as("m_spread"))
    val act = Tables.events(spark, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("n_prints"))
    val j = am.join(sp, "user_id").join(act, "user_id")
    def rk(c: org.apache.spark.sql.Column, asc: Boolean) =
      row_number().over(
        if (asc) Window.orderBy(c.asc, $"user_id")
        else Window.orderBy(c.desc, $"user_id")).cast("long")
    j.select($"user_id",
        rk($"m_amihud", asc = true).as("r_amihud"),
        rk($"m_spread", asc = true).as("r_spread"),
        rk($"n_prints", asc = false).as("r_activity"))
      .withColumn("composite",
        graft.functions.Num.decRound(
          ($"r_amihud" + $"r_spread" + $"r_activity").cast("double") /
            3.0, 4))
  }

  val q200Sql: String = {
    s"""WITH q165 AS ($q165Sql),
       |q173 AS ($q173Sql),
       |am AS (
       |  SELECT user_id,
       |    CAST(sum(CAST(amihud AS DECIMAL(18,6))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS m_amihud
       |  FROM q165 WHERE amihud IS NOT NULL GROUP BY 1),
       |sp AS (
       |  SELECT user_id,
       |    CAST(sum(CAST(tw_spread AS DECIMAL(18,6))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS m_spread
       |  FROM q173 WHERE tw_spread IS NOT NULL GROUP BY 1),
       |act AS (
       |  SELECT user_id, count(*) AS n_prints FROM events GROUP BY 1),
       |j AS (
       |  SELECT am.user_id, m_amihud, m_spread, n_prints
       |  FROM am JOIN sp USING (user_id) JOIN act USING (user_id)),
       |r AS (
       |  SELECT user_id,
       |    CAST(row_number() OVER (ORDER BY m_amihud, user_id)
       |      AS BIGINT) AS r_amihud,
       |    CAST(row_number() OVER (ORDER BY m_spread, user_id)
       |      AS BIGINT) AS r_spread,
       |    CAST(row_number() OVER (ORDER BY n_prints DESC, user_id)
       |      AS BIGINT) AS r_activity
       |  FROM j)
       |SELECT user_id, r_amihud, r_spread, r_activity,
       |  CAST(round(CAST(CAST(r_amihud + r_spread + r_activity
       |    AS DOUBLE) / 3.0 AS DECIMAL(28,12)), 4) AS DOUBLE)
       |    AS composite
       |FROM r""".stripMargin
  }

  /** q195_message_traffic — venue message-traffic audit per
    * (instrument, day): quote updates, trades, the order-to-trade
    * ratio (the quote-stuffing / MiFID II OTR surveillance metric),
    * and the PEAK minute (max quote messages in any one minute — the
    * burst statistic rate limits are written against). ALL-INTEGER
    * counts; the one ratio divides exact longs — deterministic on
    * both engines, 6dp presentation only.
    *
    * Scale shape: a (user, day, minute) pre-agg with map-side combine
    * collapses the tape to minute cardinality, then the (user, day)
    * rollup (sum + max over ≤1440 rows per group). The minute agg's
    * hash(u, day, min) partitioning does NOT satisfy the day rollup's
    * clustering (superset keys ≠ subset clustering), so this is a
    * two-exchange plan — but the second exchange moves minute-level
    * rows, ~10⁻³ of the tape.
    */
  def q195MessageTraffic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byMin = Tables.events(spark, dir)
      .filter($"value" > 0)
      .groupBy($"user_id", date_trunc("day", $"ts").as("day"),
        date_trunc("minute", $"ts").as("minute"))
      .agg(sum(when($"event_type" =!= "purchase", 1L).otherwise(0L))
          .as("q_min"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("t_min"))
    byMin.groupBy($"user_id", $"day")
      .agg(sum($"q_min").as("n_quotes"), sum($"t_min").as("n_trades"),
        max($"q_min").as("peak_minute_quotes"))
      .select($"user_id", $"day", $"n_quotes", $"n_trades",
        $"peak_minute_quotes",
        graft.functions.Num.decRound(
          $"n_quotes".cast("double") /
            nullif($"n_trades", lit(0L)).cast("double"), 6).as("otr"))
  }

  val q195Sql: String =
    """WITH m AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    date_trunc('minute', ts) AS minute,
      |    sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
      |      AS q_min,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS t_min
      |  FROM events WHERE value > 0 GROUP BY 1, 2, 3)
      |SELECT user_id, CAST(day AS TIMESTAMP) AS day,
      |  CAST(sum(q_min) AS BIGINT) AS n_quotes,
      |  CAST(sum(t_min) AS BIGINT) AS n_trades,
      |  CAST(max(q_min) AS BIGINT) AS peak_minute_quotes,
      |  CAST(round(CAST(CAST(sum(q_min) AS DOUBLE) /
      |    CAST(nullif(sum(t_min), 0) AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS otr
      |FROM m GROUP BY 1, 2""".stripMargin

  /** q188_realized_moments — higher realized moments of the tick
    * return distribution per instrument: realized variance (Σr²),
    * realized SKEWNESS (√n·Σr³/(Σr²)^{3/2}) and realized KURTOSIS
    * (n·Σr⁴/(Σr²)²) — the Amaya–Christoffersen–Jacobs–Vasquez
    * estimators — plus downside semivariance (Σr² over r<0), the
    * Sortino-style asymmetry input. RSkew < 0 flags crash-tilted
    * tapes, RKurt ≫ 3 jump-dominated ones — the distribution audit
    * that decides whether a variance-only risk model (q157/q134) is
    * even admissible per name. Returns reuse q157's log-return with
    * the zero-price CASE guard (Spark log() nulls where DuckDB ln()
    * throws — same pinned semantics).
    *
    * Scale shape: ONE tape window (the q156/q157 tape-exchange
    * discipline — lag over (user, ts, event_id)) feeding one
    * user-keyed agg of four power sums: everything after the lag is
    * map-side-combining arithmetic; nothing materializes per-pair or
    * per-window state. Power sums accumulate in tape order on both
    * engines; 6dp absorbs the reduction-order drift.
    */
  def q188RealizedMoments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts", $"value")
      .withColumn("ret", when($"value" > 0.0,
        log($"value" / nullif(lag($"value", 1).over(w), lit(0.0)))))
      .filter($"ret".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_rets"),
        sum($"ret" * $"ret").as("rv2"),
        sum($"ret" * $"ret" * $"ret").as("rv3"),
        sum($"ret" * $"ret" * $"ret" * $"ret").as("rv4"),
        sum(when($"ret" < 0.0, $"ret" * $"ret").otherwise(0.0)).as("sv"))
      .filter($"rv2" > 0.0)
      .select($"user_id", $"n_rets",
        decRound($"rv2", 6).as("rv"),
        decRound($"sv", 6).as("downside_sv"),
        decRound(sqrt($"n_rets".cast("double")) * $"rv3" /
          pow($"rv2", 1.5), 6).as("rskew"),
        decRound($"n_rets".cast("double") * $"rv4" /
          ($"rv2" * $"rv2"), 6).as("rkurt"))
  }

  /** q191_effective_spread — execution quality per (instrument, day):
    * each trade (purchase print) is priced against the PREVAILING
    * two-sided book — the q151 even/odd quote recurrence carried to
    * the trade's instant — giving the effective spread 2·|p−mid|/mid,
    * reported beside the quoted spread at trade (ask−bid)/mid and the
    * PRICE-IMPROVEMENT share (trades executing inside the quote).
    * Effective ≪ quoted = real fills beat the displayed market — the
    * standard best-execution audit (Rule 605 shape). Trades never
    * update the book; crossed or one-sided books price nothing
    * (q173's filter convention).
    *
    * Scale shape: the book carry is ONE tape window (running last per
    * side over (user, ts, event_id) — the q151 sort), the rollup one
    * (user, day) agg; every per-trade term is row-local arithmetic on
    * two picked doubles. 6dp absorbs the avg reduction order.
    */
  def q191EffectiveSpread(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter($"value" > 0)
      .select($"user_id", $"ts", $"event_id", $"value", $"event_type",
        when($"event_type" =!= "purchase" && $"event_id" % 2 === 0,
          $"value").as("bid_px"),
        when($"event_type" =!= "purchase" && $"event_id" % 2 =!= 0,
          $"value").as("ask_px"))
      .withColumn("bb", last($"bid_px", ignoreNulls = true).over(w))
      .withColumn("ba", last($"ask_px", ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase" &&
        $"bb".isNotNull && $"ba".isNotNull && $"bb" < $"ba")
      .withColumn("mid", ($"bb" + $"ba") / 2.0)
      .groupBy($"user_id", date_trunc("day", $"ts").as("day"))
      .agg(count(lit(1)).as("n_trades"),
        decRound(avg(lit(2.0) * abs($"value" - $"mid") / $"mid"), 6)
          .as("eff_spread"),
        decRound(avg(($"ba" - $"bb") / $"mid"), 6).as("quoted_at_trade"),
        decRound(avg(when(lit(2.0) * abs($"value" - $"mid") <
          $"ba" - $"bb", 1.0).otherwise(0.0)), 6).as("improve_share"))
  }

  val q191Sql: String =
    """WITH q AS (
      |  SELECT user_id, ts, event_id, value, event_type,
      |    CASE WHEN event_type <> 'purchase' AND event_id % 2 = 0
      |         THEN value END AS bid_px,
      |    CASE WHEN event_type <> 'purchase' AND event_id % 2 <> 0
      |         THEN value END AS ask_px
      |  FROM events WHERE value > 0),
      |b AS (
      |  SELECT user_id, ts, value, event_type,
      |    last_value(bid_px IGNORE NULLS) OVER w AS bb,
      |    last_value(ask_px IGNORE NULLS) OVER w AS ba
      |  FROM q
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |t AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, value,
      |    (bb + ba) / 2.0 AS mid, ba - bb AS qspread
      |  FROM b
      |  WHERE event_type = 'purchase' AND bb IS NOT NULL
      |    AND ba IS NOT NULL AND bb < ba)
      |SELECT user_id, CAST(day AS TIMESTAMP) AS day,
      |  count(*) AS n_trades,
      |  CAST(round(CAST(avg(2.0 * abs(value - mid) / mid)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS eff_spread,
      |  CAST(round(CAST(avg(qspread / mid) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS quoted_at_trade,
      |  CAST(round(CAST(avg(CASE WHEN 2.0 * abs(value - mid) < qspread
      |    THEN 1.0 ELSE 0.0 END) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS improve_share
      |FROM t GROUP BY 1, 2""".stripMargin

  val q188Sql: String =
    """WITH r AS (
      |  SELECT user_id,
      |    CASE WHEN value > 0.0 THEN
      |      ln(value / nullif(lag(value) OVER (
      |        PARTITION BY user_id ORDER BY ts, event_id), 0.0)) END AS ret
      |  FROM events),
      |m AS (
      |  SELECT user_id, count(*) AS n_rets,
      |    sum(ret * ret) AS rv2,
      |    sum(ret * ret * ret) AS rv3,
      |    sum(ret * ret * ret * ret) AS rv4,
      |    sum(CASE WHEN ret < 0.0 THEN ret * ret ELSE 0.0 END) AS sv
      |  FROM r WHERE ret IS NOT NULL GROUP BY 1)
      |SELECT user_id, n_rets,
      |  CAST(round(CAST(rv2 AS DECIMAL(28,12)), 6) AS DOUBLE) AS rv,
      |  CAST(round(CAST(sv AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS downside_sv,
      |  CAST(round(CAST(sqrt(CAST(n_rets AS DOUBLE)) * rv3 /
      |    pow(rv2, 1.5) AS DECIMAL(28,12)), 6) AS DOUBLE) AS rskew,
      |  CAST(round(CAST(CAST(n_rets AS DOUBLE) * rv4 / (rv2 * rv2)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS rkurt
      |FROM m WHERE rv2 > 0.0""".stripMargin

  /** q203_impl_shortfall — implementation-shortfall TCA per
    * (instrument, day): the size-weighted slippage of the day's
    * purchase prints against the ARRIVAL price (the first tape print
    * of the day — the price at decision time in the Perold decomposition),
    * in basis points: 10⁴ · (Σ k·px − arrival·Σ k) / (arrival·Σ k).
    * Positive = paid above arrival (adverse drift + impact). The
    * execution-desk complement of q155's markout (post-trade) and
    * q191's effective spread (midpoint benchmark): this one benchmarks
    * the whole day's flow against one decision price.
    * One tape pass: arrival via a (user_id, day)-keyed min_by window,
    * sums via the same clustered agg — the q191 subset-distribution
    * shape (hash(user_id) satisfies the (user_id, day) clustering), so
    * the whole query is ONE exchange. Prices lattice to 6dp decimals
    * before the k-weighted sums, so both engines aggregate identical
    * operands; size k stays integral.
    */
  def q203ImplShortfall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wDay = Window.partitionBy($"user_id", $"day")
      .orderBy($"ts", $"event_id")
    val tape = Tables.events(spark, dir)
      .filter($"value" > 0.0)
      .select($"user_id", date_trunc("day", $"ts").as("day"),
        $"ts", $"event_id", $"event_type", $"value",
        Tables.tradeSize($"props").as("k"))
      .withColumn("arrival",
        first($"value").over(wDay))
    val m = tape
      .filter($"event_type" === "purchase" && $"k" > 0L)
      .select($"user_id", $"day",
        decRound($"arrival", 6).cast(DecimalType(18, 6)).as("arr6"),
        decRound($"value", 6).cast(DecimalType(18, 6)).as("px6"), $"k")
      .groupBy($"user_id", $"day", $"arr6")
      .agg(count(lit(1)).as("n_trades"), sum($"k").as("qty"),
        sum($"px6" * $"k".cast(DecimalType(18, 0))).as("notional"))
    m.select($"user_id", $"day", $"n_trades", $"qty",
        decRound($"arr6".cast("double"), 6).as("arrival_px"),
        decRound(lit(10000.0) *
          ($"notional".cast("double") -
            $"arr6".cast("double") * $"qty".cast("double")) /
          ($"arr6".cast("double") * $"qty".cast("double")), 4)
          .as("is_bps"))
  }

  val q203Sql: String =
    """WITH t AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, ts, event_id,
      |    event_type, value,
      |    CAST(json_extract(props, '$.k') AS BIGINT) AS k,
      |    first_value(value) OVER (
      |      PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts, event_id) AS arrival
      |  FROM events WHERE value > 0.0),
      |m AS (
      |  SELECT user_id, day,
      |    CAST(round(CAST(arrival AS DECIMAL(28,12)), 6)
      |      AS DECIMAL(18,6)) AS arr6,
      |    CAST(count(*) AS BIGINT) AS n_trades,
      |    CAST(sum(k) AS BIGINT) AS qty,
      |    sum(CAST(round(CAST(value AS DECIMAL(28,12)), 6)
      |      AS DECIMAL(18,6)) * CAST(k AS DECIMAL(18,0))) AS notional
      |  FROM t WHERE event_type = 'purchase' AND k > 0
      |  GROUP BY 1, 2, 3)
      |SELECT user_id, day, n_trades, qty,
      |  CAST(round(CAST(CAST(arr6 AS DOUBLE) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS arrival_px,
      |  CAST(round(CAST(10000.0 * (CAST(notional AS DOUBLE)
      |      - CAST(arr6 AS DOUBLE) * CAST(qty AS DOUBLE))
      |    / (CAST(arr6 AS DOUBLE) * CAST(qty AS DOUBLE))
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS is_bps
      |FROM m""".stripMargin

  /** q212_adv_participation — each trading day's size as a fraction
    * of the instrument's trailing 20-day average daily volume (ADV):
    * the pre-trade capacity number every execution schedule is quoted
    * in ("x% of ADV"), and the surveillance flag for volume spikes.
    * Needs ≥ 5 prior trading days; flags days whose ROUNDED
    * participation exceeds 1.5 (the boundary discipline — both
    * engines compare the same latticed value). Daily sums are exact
    * longs; the trailing mean divides two exact integers, so the
    * ratio's operands are identical in any engine. One (user, day)
    * agg + one user-keyed window — rides a single hash(user_id)
    * exchange.
    */
  def q212AdvParticipation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // its own copy of the LedgerTable.Volume cell: the user-keyed
    // repartition serves the agg and the window on one exchange, where
    // Volume.fromTape costs a third stage and 5% more shuffle bytes
    val vol = Tables.events(spark, dir)
      .select($"user_id", date_trunc("day", $"ts").as("day"),
        Tables.tradeSize($"props").as("k"))
      .filter($"k" > 0L)
      .repartition($"user_id")
      .groupBy($"user_id", $"day").agg(sum($"k").as("vol"))
    val wTrail = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(-20, -1)
    val p = vol
      .withColumn("hist_days", count(lit(1)).over(wTrail))
      .withColumn("hist_vol", sum($"vol").over(wTrail))
      .filter($"hist_days" >= 5L)
      .withColumn("adv",
        $"hist_vol".cast("double") / $"hist_days".cast("double"))
      .withColumn("participation",
        decRound($"vol".cast("double") / $"adv", 6))
    p.select($"user_id", $"day", $"vol", $"hist_days",
      decRound($"adv", 4).as("adv"),
      $"participation",
      ($"participation" > 1.5).as("flag_spike"))
  }

  val q212Sql: String =
    """WITH vol AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |      AS vol
      |  FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 0
      |  GROUP BY 1, 2),
      |t AS (
      |  SELECT user_id, day, vol,
      |    CAST(count(*) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS BIGINT)
      |      AS hist_days,
      |    CAST(sum(vol) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS BIGINT)
      |      AS hist_vol
      |  FROM vol),
      |p AS (
      |  SELECT user_id, day, vol, hist_days,
      |    CAST(hist_vol AS DOUBLE) / CAST(hist_days AS DOUBLE) AS adv,
      |    CAST(round(CAST(CAST(vol AS DOUBLE)
      |      / (CAST(hist_vol AS DOUBLE) / CAST(hist_days AS DOUBLE))
      |      AS DECIMAL(28,12)), 6) AS DOUBLE) AS participation
      |  FROM t WHERE hist_days >= 5)
      |SELECT user_id, day, vol, hist_days,
      |  CAST(round(CAST(adv AS DECIMAL(28,12)), 4) AS DOUBLE) AS adv,
      |  participation,
      |  participation > 1.5 AS flag_spike
      |FROM p""".stripMargin

  /** q215_jump_detect — Barndorff-Nielsen–Shephard jump screen per
    * instrument: realized variance Σr² against bipower variation
    * (π/2)·Σ|r_t||r_t−1| over the print tape — BV is robust to jumps
    * while RV is not, so the relative jump statistic
    * max(0, 1 − BV/RV) isolates the jump share of variance;
    * instruments whose ROUNDED jump ratio exceeds 0.5 flag (boundary
    * discipline). The data-quality / event screen run next to q157's
    * RV and q188's moments before trusting a continuous-volatility
    * model. (Whole-tape granularity: this synthetic tape prints ~2×
    * per instrument-day — a per-day BV would be vacuous; on a dense
    * real tape the same plan regroups by (user, day) unchanged.)
    * One tape pass: returns lattice to 12dp decimals, |r_t||r_t−1|
    * products are exact decimal sums ((18,12)² under the cap), the
    * adjacent-|r| pair rides the same keyed lag window — one
    * hash(user_id) exchange end to end.
    */
  def q215JumpDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val rets = Tables.events(spark, dir)
      .filter($"value" > 0.0)
      .select($"user_id", $"ts", $"event_id",
        decRound(log($"value"), 12).cast(DecimalType(18, 12)).as("x"))
      .withColumn("r", ($"x" - lag($"x", 1).over(wOrd))
        .cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
      .withColumn("ar", abs($"r"))
      .withColumn("arp", lag($"ar", 1).over(wOrd))
    val m = rets.groupBy($"user_id")
      // the (38,24) product sums RE-NARROW to (28,10) before the
      // double cast: a 24-scale decimal carries 27 significant digits
      // and the two engines' decimal→double conversions round those
      // DIFFERENTLY (measured: 40/15000 rows at sf1); at scale 10 the
      // unscaled value sits under 2^53, so both conversions are one
      // exactly-rounded step and agree bitwise (positive values only —
      // HALF_UP equals round-half-away here)
      .agg(count(lit(1)).as("n_rets"),
        sum($"r" * $"r").cast(DecimalType(28, 10)).as("rv"),
        sum($"ar" * $"arp").cast(DecimalType(28, 10)).as("bp"),
        count($"arp").as("n_bp"))
      .filter($"n_rets" >= 20L)
    val rvD = $"rv".cast("double")
    val bvD = $"bp".cast("double") * (math.Pi / 2.0)
    val jump = decRound(
      when(rvD > 0.0, greatest(lit(0.0), lit(1.0) - bvD / rvD)), 6)
    // 6dp output round: a 1-ulp cross-engine ln() divergence flips a
    // 12dp return lattice point on ~0.3% of prints at sf1, perturbing
    // the variance sums at ~1e-11 — far below 5e-7, fatal at 10dp
    m.select($"user_id", $"n_rets",
      decRound(rvD, 6).as("rv"),
      decRound(bvD, 6).as("bv"),
      jump.as("jump_ratio"),
      (jump > 0.5).as("flag_jump"))
  }

  val q215Sql: String =
    """WITH x0 AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(round(CAST(ln(value) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS x
      |  FROM events WHERE value > 0.0),
      |r0 AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(x - lag(x) OVER w AS DECIMAL(18,12)) AS r
      |  FROM x0
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |r1 AS (
      |  SELECT user_id, r, abs(r) AS ar,
      |    lag(abs(r)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS arp
      |  FROM r0 WHERE r IS NOT NULL),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_rets,
      |    CAST(round(sum(r * r), 10) AS DECIMAL(28,10)) AS rv,
      |    CAST(round(sum(ar * arp), 10) AS DECIMAL(28,10)) AS bp,
      |    CAST(count(arp) AS BIGINT) AS n_bp
      |  FROM r1 GROUP BY 1),
      |f AS (
      |  SELECT user_id, n_rets,
      |    CAST(rv AS DOUBLE) AS rvd,
      |    CAST(bp AS DOUBLE) * (pi() / 2.0) AS bvd
      |  FROM m WHERE n_rets >= 20),
      |g AS (
      |  SELECT user_id, n_rets, rvd, bvd,
      |    CAST(round(CAST(CASE WHEN rvd > 0.0
      |      THEN greatest(0.0, 1.0 - bvd / rvd) END AS DECIMAL(28,12)),
      |      6) AS DOUBLE) AS jump_ratio
      |  FROM f)
      |SELECT user_id, n_rets,
      |  CAST(round(CAST(rvd AS DECIMAL(28,12)), 6) AS DOUBLE) AS rv,
      |  CAST(round(CAST(bvd AS DECIMAL(28,12)), 6) AS DOUBLE) AS bv,
      |  jump_ratio, jump_ratio > 0.5 AS flag_jump
      |FROM g""".stripMargin

  /** q218_sign_autocorr — order-flow sign persistence per instrument:
    * the autocorrelation of tick-rule trade signs at lags 1–3 — the
    * order-splitting footprint (Bouchaud/Lillo long memory: parents
    * sliced into child orders leave ρ₁ ≫ 0), read next to q156's OFI
    * and q187's predictability before interpreting any impact
    * regression. Signs reuse q170's carry-forward recurrence; the ACF
    * moments are EXACT INTEGER sums (signs are ±1 longs — no FP until
    * the final closed-form ratio), so the output is bit-deterministic
    * at any scale. Three lag columns ride one keyed sort window — one
    * tape exchange.
    */
  def q218SignAutocorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val signs = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"value")
      .withColumn("dp", $"value" - lag($"value", 1).over(wOrd))
      .withColumn("raw", signum($"dp"))
      .withColumn("sgn",
        last(when($"raw" =!= 0.0, $"raw"), ignoreNulls = true).over(wRun)
          .cast("long"))
      .filter($"sgn".isNotNull)
      .withColumn("s1", lag($"sgn", 1).over(wOrd))
      .withColumn("s2", lag($"sgn", 2).over(wOrd))
      .withColumn("s3", lag($"sgn", 3).over(wOrd))
    def acf(lagCol: org.apache.spark.sql.Column, tag: String) = Seq(
      count(lagCol).as(s"n_$tag"),
      sum(when(lagCol.isNotNull, $"sgn")).as(s"sx_$tag"),
      sum(lagCol).as(s"sy_$tag"),
      sum($"sgn" * lagCol).as(s"sxy_$tag"),
      sum(when(lagCol.isNotNull, $"sgn" * $"sgn")).as(s"sxx_$tag"),
      sum(lagCol * lagCol).as(s"syy_$tag"))
    val aggs = acf($"s1", "l1") ++ acf($"s2", "l2") ++ acf($"s3", "l3")
    val m = signs.groupBy($"user_id")
      .agg(count(lit(1)).as("n_signs"), aggs: _*)
      .filter($"n_signs" >= 20L)
    def rho(tag: String) = {
      val nD = col(s"n_$tag").cast("double")
      val (sx, sy, sxy, sxx, syy) = (col(s"sx_$tag").cast("double"),
        col(s"sy_$tag").cast("double"), col(s"sxy_$tag").cast("double"),
        col(s"sxx_$tag").cast("double"), col(s"syy_$tag").cast("double"))
      val vx = nD * sxx - sx * sx
      val vy = nD * syy - sy * sy
      when(col(s"n_$tag") >= 10L && vx > 0.0 && vy > 0.0,
        decRound((nD * sxy - sx * sy) / (sqrt(vx) * sqrt(vy)), 6))
    }
    m.select($"user_id", $"n_signs",
      rho("l1").as("rho1"), rho("l2").as("rho2"), rho("l3").as("rho3"))
  }

  val q218Sql: String =
    """WITH d AS (
      |  SELECT user_id, ts, event_id,
      |    value - lag(value) OVER w AS dp
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s0 AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(last_value(CASE WHEN sign(dp) <> 0.0 THEN sign(dp) END
      |        IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS sgn
      |  FROM d),
      |s AS (
      |  SELECT user_id, sgn,
      |    lag(sgn, 1) OVER w AS s1,
      |    lag(sgn, 2) OVER w AS s2,
      |    lag(sgn, 3) OVER w AS s3
      |  FROM s0 WHERE sgn IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_signs,
      |    CAST(count(s1) AS BIGINT) AS n_l1,
      |    CAST(sum(CASE WHEN s1 IS NOT NULL THEN sgn END) AS BIGINT) AS sx_l1,
      |    CAST(sum(s1) AS BIGINT) AS sy_l1,
      |    CAST(sum(sgn * s1) AS BIGINT) AS sxy_l1,
      |    CAST(sum(CASE WHEN s1 IS NOT NULL THEN sgn * sgn END) AS BIGINT) AS sxx_l1,
      |    CAST(sum(s1 * s1) AS BIGINT) AS syy_l1,
      |    CAST(count(s2) AS BIGINT) AS n_l2,
      |    CAST(sum(CASE WHEN s2 IS NOT NULL THEN sgn END) AS BIGINT) AS sx_l2,
      |    CAST(sum(s2) AS BIGINT) AS sy_l2,
      |    CAST(sum(sgn * s2) AS BIGINT) AS sxy_l2,
      |    CAST(sum(CASE WHEN s2 IS NOT NULL THEN sgn * sgn END) AS BIGINT) AS sxx_l2,
      |    CAST(sum(s2 * s2) AS BIGINT) AS syy_l2,
      |    CAST(count(s3) AS BIGINT) AS n_l3,
      |    CAST(sum(CASE WHEN s3 IS NOT NULL THEN sgn END) AS BIGINT) AS sx_l3,
      |    CAST(sum(s3) AS BIGINT) AS sy_l3,
      |    CAST(sum(sgn * s3) AS BIGINT) AS sxy_l3,
      |    CAST(sum(CASE WHEN s3 IS NOT NULL THEN sgn * sgn END) AS BIGINT) AS sxx_l3,
      |    CAST(sum(s3 * s3) AS BIGINT) AS syy_l3
      |  FROM s GROUP BY 1)
      |SELECT user_id, n_signs,
      |  CASE WHEN n_l1 >= 10
      |      AND CAST(n_l1 AS DOUBLE) * CAST(sxx_l1 AS DOUBLE) - CAST(sx_l1 AS DOUBLE) * CAST(sx_l1 AS DOUBLE) > 0.0
      |      AND CAST(n_l1 AS DOUBLE) * CAST(syy_l1 AS DOUBLE) - CAST(sy_l1 AS DOUBLE) * CAST(sy_l1 AS DOUBLE) > 0.0
      |    THEN CAST(round(CAST((CAST(n_l1 AS DOUBLE) * CAST(sxy_l1 AS DOUBLE) - CAST(sx_l1 AS DOUBLE) * CAST(sy_l1 AS DOUBLE))
      |      / (sqrt(CAST(n_l1 AS DOUBLE) * CAST(sxx_l1 AS DOUBLE) - CAST(sx_l1 AS DOUBLE) * CAST(sx_l1 AS DOUBLE))
      |        * sqrt(CAST(n_l1 AS DOUBLE) * CAST(syy_l1 AS DOUBLE) - CAST(sy_l1 AS DOUBLE) * CAST(sy_l1 AS DOUBLE)))
      |      AS DECIMAL(28,12)), 6) AS DOUBLE) END AS rho1,
      |  CASE WHEN n_l2 >= 10
      |      AND CAST(n_l2 AS DOUBLE) * CAST(sxx_l2 AS DOUBLE) - CAST(sx_l2 AS DOUBLE) * CAST(sx_l2 AS DOUBLE) > 0.0
      |      AND CAST(n_l2 AS DOUBLE) * CAST(syy_l2 AS DOUBLE) - CAST(sy_l2 AS DOUBLE) * CAST(sy_l2 AS DOUBLE) > 0.0
      |    THEN CAST(round(CAST((CAST(n_l2 AS DOUBLE) * CAST(sxy_l2 AS DOUBLE) - CAST(sx_l2 AS DOUBLE) * CAST(sy_l2 AS DOUBLE))
      |      / (sqrt(CAST(n_l2 AS DOUBLE) * CAST(sxx_l2 AS DOUBLE) - CAST(sx_l2 AS DOUBLE) * CAST(sx_l2 AS DOUBLE))
      |        * sqrt(CAST(n_l2 AS DOUBLE) * CAST(syy_l2 AS DOUBLE) - CAST(sy_l2 AS DOUBLE) * CAST(sy_l2 AS DOUBLE)))
      |      AS DECIMAL(28,12)), 6) AS DOUBLE) END AS rho2,
      |  CASE WHEN n_l3 >= 10
      |      AND CAST(n_l3 AS DOUBLE) * CAST(sxx_l3 AS DOUBLE) - CAST(sx_l3 AS DOUBLE) * CAST(sx_l3 AS DOUBLE) > 0.0
      |      AND CAST(n_l3 AS DOUBLE) * CAST(syy_l3 AS DOUBLE) - CAST(sy_l3 AS DOUBLE) * CAST(sy_l3 AS DOUBLE) > 0.0
      |    THEN CAST(round(CAST((CAST(n_l3 AS DOUBLE) * CAST(sxy_l3 AS DOUBLE) - CAST(sx_l3 AS DOUBLE) * CAST(sy_l3 AS DOUBLE))
      |      / (sqrt(CAST(n_l3 AS DOUBLE) * CAST(sxx_l3 AS DOUBLE) - CAST(sx_l3 AS DOUBLE) * CAST(sx_l3 AS DOUBLE))
      |        * sqrt(CAST(n_l3 AS DOUBLE) * CAST(syy_l3 AS DOUBLE) - CAST(sy_l3 AS DOUBLE) * CAST(sy_l3 AS DOUBLE)))
      |      AS DECIMAL(28,12)), 6) AS DOUBLE) END AS rho3
      |FROM m WHERE n_signs >= 20""".stripMargin

  /** q219_corwin_schultz — the Corwin–Schultz (2012) high–low spread
    * estimator per instrument: consecutive-trading-day (H, L) pairs
    * give β = Σ ln²(Hₜ/Lₜ) over the 2-day window, γ = ln²(H₂/L₂) over
    * the joint range, α = (√(2β)−√β)/(3−2√2) − √(γ/(3−2√2)), and
    * S = 2(eᵅ−1)/(1+eᵅ) — the standard daily-data proxy for the
    * effective spread when no quote tape exists (complements q167's
    * Roll autocovariance estimator with the range-based member).
    * Adjacency is OBSERVED-day adjacency (lead over the instrument's
    * own trading calendar), the estimator's trading-day convention.
    * Scale: one tape pass collapses ticks to (instrument, day) H/L —
    * all later frames are calendar-bounded; one hash(user) exchange.
    * Determinism: per-day ln ranges lattice to 12dp decimals, so β/γ
    * means reduce as exact decimal sums ((28,10) re-narrow before the
    * double cast, the q215 rule); α/S run in pure double arithmetic on
    * exactly-converted (18,12) operands — exp()'s 1-ulp surface is
    * absorbed by the 12dp per-pair lattice + 6dp output round.
    */
  def q219CorwinSchultz(spark: SparkSession, dir: String): DataFrame =
    csSpreadFromDaily(dailyHl(spark, dir))

  /** The (user_id, day, h, l) projection of [[dailyOhlc]]; column
    * pruning drops the open/close structs from its aggregate. */
  private def dailyHl(spark: SparkSession, dir: String): DataFrame =
    dailyOhlc(spark, dir).select(col("user_id"), col("day"), col("h"), col("l"))

  /** q219's estimator tail as a pure function of the (instrument, day)
    * H/L frame — shared verbatim by the batch query and the s65
    * streaming ledger's differential spec (the q200 composition
    * discipline: the spec proves the STREAM converges to the same
    * frame, then runs THIS tail, not a copy of it). Input contract:
    * one row per (user_id, day) with day-high `h` and day-low `l`,
    * both > 0.
    */
  def csSpreadFromDaily(hlDaily: DataFrame): DataFrame = {
    val spark = hlDaily.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wDay = Window.partitionBy($"user_id").orderBy($"day")
    val hl = hlDaily
      .withColumn("b1",
        decRound(log($"h" / $"l"), 12).cast(DecimalType(18, 12)))
    val pairs = hl
      .withColumn("hn", lead($"h", 1).over(wDay))
      .withColumn("lnx", lead($"l", 1).over(wDay))
      .withColumn("b1n", lead($"b1", 1).over(wDay))
      .filter($"b1n".isNotNull)
      .withColumn("g1",
        decRound(log(greatest($"h", $"hn") / least($"l", $"lnx")), 12)
          .cast(DecimalType(18, 12)))
    // α and S in pure double arithmetic on the latticed operands —
    // identical IEEE ops in both engines (sqrt is correctly rounded)
    val k = lit(3.0) - lit(2.0) * sqrt(lit(2.0))
    val bd = $"b1".cast("double")
    val bnd = $"b1n".cast("double")
    val gd = $"g1".cast("double")
    val betaD = bd * bd + bnd * bnd
    val alpha = (sqrt(lit(2.0) * betaD) - sqrt(betaD)) / k - sqrt(gd * gd / k)
    val s = lit(2.0) * (exp(alpha) - lit(1.0)) / (lit(1.0) + exp(alpha))
    val scored = pairs.withColumn("s12",
      decRound(greatest(s, lit(0.0)), 12).cast(DecimalType(18, 12)))
    val m = scored.groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"b1" * $"b1" + $"b1n" * $"b1n").cast(DecimalType(28, 10))
          .as("sb"),
        sum($"g1" * $"g1").cast(DecimalType(28, 10)).as("sg"),
        sum($"s12").as("ss"))
      .filter($"n_pairs" >= 10L)
    val nD = $"n_pairs".cast("double")
    m.select($"user_id", $"n_pairs",
      decRound($"sb".cast("double") / nD, 6).as("avg_beta"),
      decRound($"sg".cast("double") / nD, 6).as("avg_gamma"),
      decRound($"ss".cast("double") / nD, 6).as("cs_spread"))
  }

  val q219Sql: String =
    """WITH hl AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    max(value) AS h, min(value) AS l
      |  FROM events WHERE value > 0.0 GROUP BY 1, 2),
      |b AS (
      |  SELECT user_id, day, h, l,
      |    CAST(round(CAST(ln(h / l) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS b1
      |  FROM hl),
      |p AS (
      |  SELECT user_id, h, l, b1,
      |    lead(h) OVER w AS hn, lead(l) OVER w AS lnx,
      |    lead(b1) OVER w AS b1n
      |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |g AS (
      |  SELECT user_id, b1, b1n,
      |    CAST(round(CAST(ln(greatest(h, hn) / least(l, lnx))
      |      AS DECIMAL(28,12)), 12) AS DECIMAL(18,12)) AS g1
      |  FROM p WHERE b1n IS NOT NULL),
      |a AS (
      |  SELECT user_id, b1, b1n, g1,
      |    (sqrt(2.0 * (CAST(b1 AS DOUBLE) * CAST(b1 AS DOUBLE)
      |        + CAST(b1n AS DOUBLE) * CAST(b1n AS DOUBLE)))
      |      - sqrt(CAST(b1 AS DOUBLE) * CAST(b1 AS DOUBLE)
      |        + CAST(b1n AS DOUBLE) * CAST(b1n AS DOUBLE)))
      |      / (3.0 - 2.0 * sqrt(2.0))
      |      - sqrt(CAST(g1 AS DOUBLE) * CAST(g1 AS DOUBLE)
      |        / (3.0 - 2.0 * sqrt(2.0))) AS alpha
      |  FROM g),
      |sc AS (
      |  SELECT user_id, b1, b1n, g1,
      |    CAST(round(CAST(greatest(
      |      2.0 * (exp(alpha) - 1.0) / (1.0 + exp(alpha)), 0.0)
      |      AS DECIMAL(28,12)), 12) AS DECIMAL(18,12)) AS s12
      |  FROM a),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(round(sum(b1 * b1 + b1n * b1n), 10) AS DECIMAL(28,10)) AS sb,
      |    CAST(round(sum(g1 * g1), 10) AS DECIMAL(28,10)) AS sg,
      |    sum(s12) AS ss
      |  FROM sc GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_pairs,
      |  CAST(round(CAST(CAST(sb AS DOUBLE) / CAST(n_pairs AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_beta,
      |  CAST(round(CAST(CAST(sg AS DOUBLE) / CAST(n_pairs AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_gamma,
      |  CAST(round(CAST(CAST(ss AS DOUBLE) / CAST(n_pairs AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS cs_spread
      |FROM m""".stripMargin

  /** The (instrument, day) OHLC frame: H/L as plain extremes, O/C via
    * LEXICOGRAPHIC struct extremes over (ts, event_id, value) — one
    * aggregation, no window, ties broken by event_id (the q202/s67
    * total order): the [[graft.sources.LedgerTable.Ohlc]] cell, served.
    */
  def dailyOhlc(spark: SparkSession, dir: String): DataFrame =
    graft.sources.LedgerTable.Ohlc.fromTape(Tables.events(spark, dir))

  /** q220_garman_klass — the Garman–Klass (1980) OHLC variance
    * estimator per instrument: σ²_GK = mean(0.5·ln²(H/L) −
    * (2ln2−1)·ln²(C/O)) — ~7.4× more efficient than close-to-close
    * variance on the same tape, the estimator a daily-bar shop runs
    * next to q219's Corwin–Schultz spread (same H/L frame) and q223's
    * Parkinson (adds the open/close drift correction). One
    * aggregation to OHLC, one instrument rollup — two exchanges.
    * Determinism: ln ranges lattice to 12dp; Σln²(H/L) and Σln²(C/O)
    * reduce as exact decimal sums ((28,10) re-narrow before the
    * double cast, the q215 rule); the irrational coefficients apply
    * in pure IEEE double on the converged sums only.
    */
  def q220GarmanKlass(spark: SparkSession, dir: String): DataFrame =
    gkFromDailyOhlc(dailyOhlc(spark, dir))

  /** q220's estimator tail as a pure function of the OHLC frame —
    * shared verbatim by the batch query and the s68 ledger's
    * differential spec.
    */
  def gkFromDailyOhlc(ohlc: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val latticed = ohlc
      .withColumn("hl",
        decRound(log($"h" / $"l"), 12).cast(DecimalType(18, 12)))
      .withColumn("co",
        decRound(log($"c" / $"o"), 12).cast(DecimalType(18, 12)))
    val m = latticed.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"hl" * $"hl").cast(DecimalType(28, 10)).as("shl"),
        sum($"co" * $"co").cast(DecimalType(28, 10)).as("sco"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    val gkVar = (lit(0.5) * $"shl".cast("double") -
      (lit(2.0) * log(lit(2.0)) - lit(1.0)) * $"sco".cast("double")) / nD
    m.select($"user_id", $"n_days",
      decRound(gkVar, 6).as("gk_var"),
      decRound(sqrt(greatest(gkVar, lit(0.0))), 6).as("gk_vol"))
  }

  val q220Sql: String =
    """WITH r AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, ts, event_id, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts, event_id) AS rn_o,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn_c
      |  FROM events WHERE value > 0.0),
      |ohlc AS (
      |  SELECT user_id, day,
      |    max(CASE WHEN rn_o = 1 THEN value END) AS o,
      |    max(value) AS h, min(value) AS l,
      |    max(CASE WHEN rn_c = 1 THEN value END) AS c
      |  FROM r GROUP BY 1, 2),
      |lat AS (
      |  SELECT user_id,
      |    CAST(round(CAST(ln(h / l) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS hl,
      |    CAST(round(CAST(ln(c / o) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS co
      |  FROM ohlc),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(hl * hl), 10) AS DECIMAL(28,10)) AS shl,
      |    CAST(round(sum(co * co), 10) AS DECIMAL(28,10)) AS sco
      |  FROM lat GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days,
      |  CAST(round(CAST((0.5 * CAST(shl AS DOUBLE)
      |    - (2.0 * ln(2.0) - 1.0) * CAST(sco AS DOUBLE))
      |    / CAST(n_days AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS gk_var,
      |  CAST(round(CAST(sqrt(greatest((0.5 * CAST(shl AS DOUBLE)
      |    - (2.0 * ln(2.0) - 1.0) * CAST(sco AS DOUBLE))
      |    / CAST(n_days AS DOUBLE), 0.0)) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS gk_vol
      |FROM m""".stripMargin

  /** q223_parkinson — the Parkinson (1980) range variance estimator
    * per instrument: σ²_P = Σln²(H/L) / (4ln2·n) — the pure-range
    * member of the OHLC volatility family (q220 adds the drift
    * correction; q219 turns the same ranges into a spread). Pure
    * function of the s65 H/L ledger frame. Same lattice discipline
    * as q220; the 1/(4ln2) coefficient applies in IEEE double on the
    * converged sum.
    */
  def q223Parkinson(spark: SparkSession, dir: String): DataFrame =
    parkFromDailyHl(dailyHl(spark, dir))

  /** q223's tail over the (user_id, day, h, l) frame — shared by the
    * batch query and the s65/s68 ledger specs.
    */
  def parkFromDailyHl(hl: DataFrame): DataFrame = {
    val spark = hl.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val m = hl
      .withColumn("hlr",
        decRound(log($"h" / $"l"), 12).cast(DecimalType(18, 12)))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"hlr" * $"hlr").cast(DecimalType(28, 10)).as("shl"))
      .filter($"n_days" >= 10L)
    val pVar = $"shl".cast("double") /
      (lit(4.0) * log(lit(2.0)) * $"n_days".cast("double"))
    m.select($"user_id", $"n_days",
      decRound(pVar, 6).as("park_var"),
      decRound(sqrt(greatest(pVar, lit(0.0))), 6).as("park_vol"))
  }

  val q223Sql: String =
    """WITH hl AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    max(value) AS h, min(value) AS l
      |  FROM events WHERE value > 0.0 GROUP BY 1, 2),
      |lat AS (
      |  SELECT user_id,
      |    CAST(round(CAST(ln(h / l) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS hlr
      |  FROM hl),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(hlr * hlr), 10) AS DECIMAL(28,10)) AS shl
      |  FROM lat GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(CAST(shl AS DOUBLE)
      |    / (4.0 * ln(2.0) * CAST(n_days AS DOUBLE))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS park_var,
      |  CAST(round(CAST(sqrt(greatest(CAST(shl AS DOUBLE)
      |    / (4.0 * ln(2.0) * CAST(n_days AS DOUBLE)), 0.0))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS park_vol
      |FROM m""".stripMargin

  /** The shared OHLC oracle prelude: the tape collapsed to the
    * (instrument, day) OHLC frame with the q220 total order (O/C via
    * row_number over (ts, event_id)). Prepended to every round-14b
    * volatility oracle so the SQL frame is byte-identical across the
    * family.
    */
  private val ohlcSqlPrelude: String =
    """WITH r AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, ts, event_id, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts, event_id) AS rn_o,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn_c
      |  FROM events WHERE value > 0.0),
      |ohlc AS (
      |  SELECT user_id, day,
      |    max(CASE WHEN rn_o = 1 THEN value END) AS o,
      |    max(value) AS h, min(value) AS l,
      |    max(CASE WHEN rn_c = 1 THEN value END) AS c
      |  FROM r GROUP BY 1, 2),""".stripMargin

  /** q225_rogers_satchell — the Rogers–Satchell (1991) drift-independent
    * OHLC variance estimator per instrument: σ²_RS = mean over trading
    * days of u(u−c) + d(d−c), with u = ln(H/O), d = ln(L/O),
    * c = ln(C/O). The member of the q219/q220/q223 family that stays
    * unbiased under nonzero drift (GK and Parkinson both assume a
    * driftless day) — the estimator a daily-bar shop reads next to GK
    * when instruments trend. Pure function of the s68 OHLC ledger
    * frame (shared rsFromDailyOhlc tail): one tape-collapsing
    * aggregation + one instrument rollup — two exchanges, the q220
    * shape. Determinism: the three ln ratios lattice to 12dp decimals;
    * u−c and d−c are exact decimal differences and the per-day term an
    * exact decimal product, so Σ reduces as an exact decimal sum
    * ((28,10) re-narrow before the double cast, the q215 rule);
    * per-day terms are mathematically ≥ 0 (H ≥ C ⇒ u ≥ c; L ≤ C ⇒
    * d ≤ c with d ≤ 0).
    */
  def q225RogersSatchell(spark: SparkSession, dir: String): DataFrame =
    rsFromDailyOhlc(dailyOhlc(spark, dir))

  /** q225's estimator tail over the OHLC frame — shared by the batch
    * query and the s68 ledger's differential spec.
    */
  def rsFromDailyOhlc(ohlc: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val lat = ohlc
      .withColumn("u",
        decRound(log($"h" / $"o"), 12).cast(DecimalType(18, 12)))
      .withColumn("d",
        decRound(log($"l" / $"o"), 12).cast(DecimalType(18, 12)))
      .withColumn("cc",
        decRound(log($"c" / $"o"), 12).cast(DecimalType(18, 12)))
    val m = lat.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"u" * ($"u" - $"cc").cast(DecimalType(18, 12)) +
            $"d" * ($"d" - $"cc").cast(DecimalType(18, 12)))
          .cast(DecimalType(28, 10)).as("srs"))
      .filter($"n_days" >= 10L)
    val rsVar = $"srs".cast("double") / $"n_days".cast("double")
    m.select($"user_id", $"n_days",
      decRound(rsVar, 6).as("rs_var"),
      decRound(sqrt(greatest(rsVar, lit(0.0))), 6).as("rs_vol"))
  }

  val q225Sql: String =
    ohlcSqlPrelude + "\n" +
    """lat AS (
      |  SELECT user_id,
      |    CAST(round(CAST(ln(h / o) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS u,
      |    CAST(round(CAST(ln(l / o) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS d,
      |    CAST(round(CAST(ln(c / o) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS cc
      |  FROM ohlc),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(u * CAST(u - cc AS DECIMAL(18,12))
      |      + d * CAST(d - cc AS DECIMAL(18,12))), 10)
      |      AS DECIMAL(28,10)) AS srs
      |  FROM lat GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(CAST(srs AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS rs_var,
      |  CAST(round(CAST(sqrt(greatest(CAST(srs AS DOUBLE)
      |    / CAST(n_days AS DOUBLE), 0.0)) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS rs_vol
      |FROM m""".stripMargin

  /** q226_yang_zhang — the Yang–Zhang (2000) minimum-variance OHLC
    * estimator per instrument: σ²_YZ = σ²_overnight + k·σ²_open-close
    * + (1−k)·σ²_RS with k = 0.34/(1.34 + (n+1)/(n−1)) — the estimator
    * that handles BOTH drift and overnight jumps, i.e. the one a
    * 24h-gapped equity tape actually needs; completes the q219/q220/
    * q223/q225 volatility family. Day domain: days with a previous
    * trading day on the instrument's own calendar (the overnight
    * return needs lag(lnC)), identical n across all three components.
    * Pure function of the s68 OHLC ledger frame (shared
    * yzFromDailyOhlc tail): the lag window and the instrument rollup
    * ride ONE hash(user) exchange after the tape collapse — two
    * exchanges total. Determinism: lnO/lnC and the three ln ratios
    * lattice to 12dp; the overnight return is an exact decimal
    * difference of lattice points; all five moment sums are exact
    * decimal reductions ((28,10) re-narrow); the variance formulas,
    * k, and the YZ combination run in pure IEEE double on the
    * converged sums with the operation order mirrored in the oracle.
    */
  def q226YangZhang(spark: SparkSession, dir: String): DataFrame =
    yzFromDailyOhlc(dailyOhlc(spark, dir))

  /** q226's estimator tail over the OHLC frame — shared by the batch
    * query and the s68 ledger's differential spec.
    */
  def yzFromDailyOhlc(ohlc: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wDay = Window.partitionBy($"user_id").orderBy($"day")
    val lat = ohlc
      .withColumn("lno", decRound(log($"o"), 12).cast(DecimalType(18, 12)))
      .withColumn("lnc", decRound(log($"c"), 12).cast(DecimalType(18, 12)))
      .withColumn("u",
        decRound(log($"h" / $"o"), 12).cast(DecimalType(18, 12)))
      .withColumn("d",
        decRound(log($"l" / $"o"), 12).cast(DecimalType(18, 12)))
      .withColumn("cc",
        decRound(log($"c" / $"o"), 12).cast(DecimalType(18, 12)))
    val pairs = lat
      .withColumn("lncp", lag($"lnc", 1).over(wDay))
      .filter($"lncp".isNotNull)
      .withColumn("onr", ($"lno" - $"lncp").cast(DecimalType(18, 12)))
    val m = pairs.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"onr").cast(DecimalType(28, 10)).as("son"),
        sum($"onr" * $"onr").cast(DecimalType(28, 10)).as("son2"),
        sum($"cc").cast(DecimalType(28, 10)).as("scc"),
        sum($"cc" * $"cc").cast(DecimalType(28, 10)).as("scc2"),
        sum($"u" * ($"u" - $"cc").cast(DecimalType(18, 12)) +
            $"d" * ($"d" - $"cc").cast(DecimalType(18, 12)))
          .cast(DecimalType(28, 10)).as("srs"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    val vO = ($"son2".cast("double") -
      $"son".cast("double") * $"son".cast("double") / nD) / (nD - lit(1.0))
    val vC = ($"scc2".cast("double") -
      $"scc".cast("double") * $"scc".cast("double") / nD) / (nD - lit(1.0))
    val vRs = $"srs".cast("double") / nD
    val kC = lit(0.34) / (lit(1.34) + (nD + lit(1.0)) / (nD - lit(1.0)))
    val yz = vO + kC * vC + (lit(1.0) - kC) * vRs
    m.select($"user_id", $"n_days",
      decRound(kC, 6).as("k_shift"),
      decRound(yz, 6).as("yz_var"),
      decRound(sqrt(greatest(yz, lit(0.0))), 6).as("yz_vol"))
  }

  val q226Sql: String =
    ohlcSqlPrelude + "\n" +
    """lat AS (
      |  SELECT user_id, day,
      |    CAST(round(CAST(ln(o) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS lno,
      |    CAST(round(CAST(ln(c) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS lnc,
      |    CAST(round(CAST(ln(h / o) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS u,
      |    CAST(round(CAST(ln(l / o) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS d,
      |    CAST(round(CAST(ln(c / o) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS cc
      |  FROM ohlc),
      |p AS (
      |  SELECT user_id, lno, u, d, cc,
      |    lag(lnc) OVER (PARTITION BY user_id ORDER BY day) AS lncp
      |  FROM lat),
      |q AS (
      |  SELECT user_id, u, d, cc,
      |    CAST(lno - lncp AS DECIMAL(18,12)) AS onr
      |  FROM p WHERE lncp IS NOT NULL),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(onr), 10) AS DECIMAL(28,10)) AS son,
      |    CAST(round(sum(onr * onr), 10) AS DECIMAL(28,10)) AS son2,
      |    CAST(round(sum(cc), 10) AS DECIMAL(28,10)) AS scc,
      |    CAST(round(sum(cc * cc), 10) AS DECIMAL(28,10)) AS scc2,
      |    CAST(round(sum(u * CAST(u - cc AS DECIMAL(18,12))
      |      + d * CAST(d - cc AS DECIMAL(18,12))), 10)
      |      AS DECIMAL(28,10)) AS srs
      |  FROM q GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(0.34 / (1.34 + (CAST(n_days AS DOUBLE) + 1.0)
      |    / (CAST(n_days AS DOUBLE) - 1.0)) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS k_shift,
      |  CAST(round(CAST(
      |    (CAST(son2 AS DOUBLE) - CAST(son AS DOUBLE) * CAST(son AS DOUBLE)
      |      / CAST(n_days AS DOUBLE)) / (CAST(n_days AS DOUBLE) - 1.0)
      |    + 0.34 / (1.34 + (CAST(n_days AS DOUBLE) + 1.0)
      |      / (CAST(n_days AS DOUBLE) - 1.0))
      |      * ((CAST(scc2 AS DOUBLE) - CAST(scc AS DOUBLE)
      |        * CAST(scc AS DOUBLE) / CAST(n_days AS DOUBLE))
      |        / (CAST(n_days AS DOUBLE) - 1.0))
      |    + (1.0 - 0.34 / (1.34 + (CAST(n_days AS DOUBLE) + 1.0)
      |      / (CAST(n_days AS DOUBLE) - 1.0)))
      |      * (CAST(srs AS DOUBLE) / CAST(n_days AS DOUBLE))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS yz_var,
      |  CAST(round(CAST(sqrt(greatest(
      |    (CAST(son2 AS DOUBLE) - CAST(son AS DOUBLE) * CAST(son AS DOUBLE)
      |      / CAST(n_days AS DOUBLE)) / (CAST(n_days AS DOUBLE) - 1.0)
      |    + 0.34 / (1.34 + (CAST(n_days AS DOUBLE) + 1.0)
      |      / (CAST(n_days AS DOUBLE) - 1.0))
      |      * ((CAST(scc2 AS DOUBLE) - CAST(scc AS DOUBLE)
      |        * CAST(scc AS DOUBLE) / CAST(n_days AS DOUBLE))
      |        / (CAST(n_days AS DOUBLE) - 1.0))
      |    + (1.0 - 0.34 / (1.34 + (CAST(n_days AS DOUBLE) + 1.0)
      |      / (CAST(n_days AS DOUBLE) - 1.0)))
      |      * (CAST(srs AS DOUBLE) / CAST(n_days AS DOUBLE)), 0.0))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS yz_vol
      |FROM m""".stripMargin

  /** q227_stochastic — the stochastic oscillator (Lane %K/%D) summary
    * per instrument: %K = 100·(C − L14)/(H14 − L14) over the rolling
    * 14-trading-day high/low, %D the 3-day SMA of %K; reported as the
    * per-instrument regime profile (mean %K, mean %D, share of days
    * overbought %K>80 / oversold %K<20) — the bounded momentum read a
    * signal desk runs next to q106's RSI (same tape, range-normalized
    * instead of gain-normalized). Day domain: days with a FULL 14-day
    * frame (warm-up excluded, so the profile is frame-homogeneous);
    * %D only where 3 consecutive %K days exist. Pure function of the
    * s68 OHLC ledger frame (shared stochFromDailyOhlc tail): both
    * rolling frames and the instrument rollup ride ONE hash(user)
    * exchange after the tape collapse — two exchanges. Determinism:
    * H14/L14/C are STORED doubles (window max/min pick, never derive),
    * so %K is pure IEEE on exact operands; %K lattices to 12dp
    * (≤ 15 sig digits ⇒ exact double round-trip), the 3-day %D sum
    * and all moment sums reduce as exact decimals; the over/under
    * flags compare the decimal lattice (exact, no FP tie hazard).
    */
  def q227Stochastic(spark: SparkSession, dir: String): DataFrame =
    stochFromDailyOhlc(dailyOhlc(spark, dir))

  /** q227's oscillator tail over the OHLC frame — shared by the batch
    * query and the s68 ledger's differential spec.
    */
  def stochFromDailyOhlc(ohlc: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w14 = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(-13, Window.currentRow)
    val w3 = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(-2, Window.currentRow)
    val k = ohlc
      .withColumn("h14", max($"h").over(w14))
      .withColumn("l14", min($"l").over(w14))
      .withColumn("n_in", count(lit(1)).over(w14))
      .filter($"n_in" === 14L && $"h14" > $"l14")
      .withColumn("k",
        decRound(lit(100.0) * ($"c" - $"l14") / ($"h14" - $"l14"), 12)
          .cast(DecimalType(18, 12)))
    val withD = k
      .withColumn("dv", when(count(lit(1)).over(w3) === 3L,
        sum($"k").over(w3)))
    val m = withD.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"k").cast(DecimalType(28, 10)).as("sk"),
        count($"dv").as("n_d"),
        sum($"dv").cast(DecimalType(28, 10)).as("sd"),
        sum(when($"k" > lit(80), 1L).otherwise(0L)).as("n_over"),
        sum(when($"k" < lit(20), 1L).otherwise(0L)).as("n_under"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    m.select($"user_id", $"n_days",
      decRound($"sk".cast("double") / nD, 6).as("avg_k"),
      decRound($"sd".cast("double") /
        (lit(3.0) * $"n_d".cast("double")), 6).as("avg_d"),
      decRound($"n_over".cast("double") / nD, 6).as("over_share"),
      decRound($"n_under".cast("double") / nD, 6).as("under_share"))
  }

  val q227Sql: String =
    ohlcSqlPrelude + "\n" +
    """f AS (
      |  SELECT user_id, day, c,
      |    max(h) OVER w14 AS h14, min(l) OVER w14 AS l14,
      |    count(*) OVER w14 AS n_in
      |  FROM ohlc WINDOW w14 AS (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
      |k AS (
      |  SELECT user_id, day,
      |    CAST(round(CAST(100.0 * (c - l14) / (h14 - l14)
      |      AS DECIMAL(28,12)), 12) AS DECIMAL(18,12)) AS k
      |  FROM f WHERE n_in = 14 AND h14 > l14),
      |d AS (
      |  SELECT user_id, k,
      |    CASE WHEN count(*) OVER w3 = 3 THEN sum(k) OVER w3 END AS dv
      |  FROM k WINDOW w3 AS (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(k), 10) AS DECIMAL(28,10)) AS sk,
      |    CAST(count(dv) AS BIGINT) AS n_d,
      |    CAST(round(sum(dv), 10) AS DECIMAL(28,10)) AS sd,
      |    CAST(sum(CASE WHEN k > 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
      |    CAST(sum(CASE WHEN k < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_under
      |  FROM d GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(CAST(sk AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_k,
      |  CAST(round(CAST(CAST(sd AS DOUBLE)
      |    / (3.0 * CAST(n_d AS DOUBLE)) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS avg_d,
      |  CAST(round(CAST(CAST(n_over AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS over_share,
      |  CAST(round(CAST(CAST(n_under AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS under_share
      |FROM m""".stripMargin

  /** q228_cmf — Chaikin money flow per instrument over its trading
    * history: the money-flow multiplier MFM = ((C−L)−(H−C))/(H−L)
    * locates the close inside the day's range, MFV = MFM·V weights it
    * by traded size, CMF = ΣMFV/ΣV — the volume-confirmed
    * accumulation/distribution read next to q221's OBV (OBV signs the
    * WHOLE day's volume by close direction; CMF grades it by range
    * position). The second two-ledger composition: s68 OHLC × s60
    * integer volumes (the q221 discipline — inner join on days
    * carrying both a positive print and positive traded size). Scale:
    * both ledger frames arrive hash-partitioned on (user, day) from
    * their collapses, so the join adds no exchange; the instrument
    * rollup is the only extra shuffle. Determinism: MFM is pure IEEE
    * on stored doubles, latticed to 12dp ∈ [−1,1]; MFV = lattice ×
    * integer volume is an exact decimal product, so ΣMFV reduces
    * exactly ((28,10) re-narrow) and ΣV is an integer sum; the
    * positive-flow flag compares the decimal lattice.
    */
  def q228Cmf(spark: SparkSession, dir: String): DataFrame =
    cmfFromLedgers(dailyOhlc(spark, dir),
      graft.queries.Quant.dailyVolume(spark, dir))

  /** q228's tail over the two ledger frames — shared by the batch
    * query and the s68×s60 composition spec.
    */
  def cmfFromLedgers(ohlc: DataFrame, vol: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val j = ohlc.join(vol, Seq("user_id", "day"))
      .withColumn("mfm",
        decRound(when($"h" > $"l",
          (lit(2.0) * $"c" - $"h" - $"l") / ($"h" - $"l"))
          .otherwise(lit(0.0)), 12).cast(DecimalType(14, 12)))
    val m = j.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"mfm" * $"v").cast(DecimalType(28, 10)).as("smfv"),
        sum($"v").as("sv"),
        sum(when($"mfm" > lit(0), 1L).otherwise(0L)).as("n_pos"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    m.select($"user_id", $"n_days",
      decRound($"smfv".cast("double") / $"sv".cast("double"), 6).as("cmf"),
      decRound($"n_pos".cast("double") / nD, 6).as("pos_share"))
  }

  val q228Sql: String =
    ohlcSqlPrelude + "\n" +
    """vol AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS v
      |  FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 0
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT o.user_id,
      |    CAST(round(CAST(CASE WHEN o.h > o.l
      |      THEN (2.0 * o.c - o.h - o.l) / (o.h - o.l) ELSE 0.0 END
      |      AS DECIMAL(28,12)), 12) AS DECIMAL(14,12)) AS mfm,
      |    v.v
      |  FROM ohlc o JOIN vol v ON o.user_id = v.user_id AND o.day = v.day),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(mfm * CAST(v AS DECIMAL(20,0))), 10)
      |      AS DECIMAL(28,10)) AS smfv,
      |    CAST(sum(v) AS BIGINT) AS sv,
      |    CAST(sum(CASE WHEN mfm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
      |  FROM j GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(CAST(smfv AS DOUBLE) / CAST(sv AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS cmf,
      |  CAST(round(CAST(CAST(n_pos AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS pos_share
      |FROM m""".stripMargin

  /** q229_atr — Wilder's average true range per instrument:
    * TR = max(H−L, |H−C_prev|, |L−C_prev|) folds the overnight gap
    * into the day's range, ATR the per-day mean (SMA flavor — the
    * deterministic cousin of Wilder's recursive smoothing), NATR the
    * close-normalized version ΣTR/ΣC — the position-sizing /
    * stop-width primitive next to the variance family (q220/q225/q226
    * estimate σ²; ATR estimates the DOLLAR range a desk actually
    * budgets). Day domain: days with a previous trading day (TR needs
    * the prior close). Pure function of the s68 OHLC ledger frame
    * (shared atrFromDailyOhlc tail): lag window + instrument rollup
    * on one hash(user) exchange after the tape collapse — two
    * exchanges. Determinism: H−L, H−Cp, L−Cp are exact IEEE
    * differences of STORED doubles and greatest/abs are exact picks,
    * so TR is bit-identical cross-engine; TR and C lattice at 8dp
    * (price magnitude ⇒ ≤ 14 sig digits, exact double round-trip —
    * the 12dp ln-lattice convention shifted to price scale), sums
    * reduce exactly, ratios in IEEE double on converged sums.
    */
  def q229Atr(spark: SparkSession, dir: String): DataFrame =
    atrFromDailyOhlc(dailyOhlc(spark, dir))

  /** q229's tail over the OHLC frame — shared by the batch query and
    * the s68 ledger's differential spec.
    */
  def atrFromDailyOhlc(ohlc: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wDay = Window.partitionBy($"user_id").orderBy($"day")
    val t = ohlc
      .withColumn("cp", lag($"c", 1).over(wDay))
      .filter($"cp".isNotNull)
      .withColumn("tr",
        decRound(greatest($"h" - $"l", abs($"h" - $"cp"),
          abs($"l" - $"cp")), 8).cast(DecimalType(18, 8)))
      .withColumn("c8", decRound($"c", 8).cast(DecimalType(18, 8)))
    val m = t.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"tr").cast(DecimalType(28, 8)).as("str"),
        max($"tr").as("trmax"),
        sum($"c8").cast(DecimalType(28, 8)).as("sc"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    m.select($"user_id", $"n_days",
      decRound($"str".cast("double") / nD, 6).as("atr"),
      decRound($"trmax".cast("double"), 6).as("tr_max"),
      decRound($"str".cast("double") / $"sc".cast("double"), 6).as("natr"))
  }

  val q229Sql: String =
    ohlcSqlPrelude + "\n" +
    """p AS (
      |  SELECT user_id, day, h, l, c,
      |    lag(c) OVER (PARTITION BY user_id ORDER BY day) AS cp
      |  FROM ohlc),
      |t AS (
      |  SELECT user_id,
      |    CAST(round(CAST(greatest(h - l, abs(h - cp), abs(l - cp))
      |      AS DECIMAL(28,12)), 8) AS DECIMAL(18,8)) AS tr,
      |    CAST(round(CAST(c AS DECIMAL(28,12)), 8) AS DECIMAL(18,8)) AS c8
      |  FROM p WHERE cp IS NOT NULL),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(tr), 8) AS DECIMAL(28,8)) AS str,
      |    max(tr) AS trmax,
      |    CAST(round(sum(c8), 8) AS DECIMAL(28,8)) AS sc
      |  FROM t GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(CAST(str AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS atr,
      |  CAST(round(CAST(CAST(trmax AS DOUBLE) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS tr_max,
      |  CAST(round(CAST(CAST(str AS DOUBLE) / CAST(sc AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS natr
      |FROM m""".stripMargin

  /** q230_ulcer — the ulcer index per instrument (Martin 1987):
    * dd_t = 100·(C_t/runmax(C) − 1) is the percent drawdown from the
    * running close peak, UI = √(Σdd²/n) — the RMS-drawdown risk
    * measure that, unlike σ, punishes DEPTH × DURATION of underwater
    * stretches (the denominator of the Martin ratio); reported with
    * the max drawdown and the mean drawdown ("pain index"). The
    * daily-bar relative cousin of tick-level q73 (absolute peak gap)
    * and q196 (underwater episode segmentation). Pure function of the
    * s68 OHLC ledger frame: running-max window + instrument rollup on
    * ONE hash(user) exchange after the tape collapse — two exchanges.
    * Determinism: runmax is an exact window pick of stored doubles,
    * dd pure IEEE on exact operands latticed at 12dp (|dd| ≤ 100 ⇒
    * 15 sig digits, exact round-trip), dd² exact decimal products,
    * sums exact ((28,10) re-narrow), √ and ratios in IEEE double on
    * converged sums.
    */
  def q230Ulcer(spark: SparkSession, dir: String): DataFrame =
    ulcerFromDailyOhlc(dailyOhlc(spark, dir))

  /** q230's tail over the OHLC frame — shared by the batch query and
    * the s68 ledger's differential spec.
    */
  def ulcerFromDailyOhlc(ohlc: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wRun = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = ohlc
      .withColumn("peak", max($"c").over(wRun))
      .withColumn("dd",
        decRound(lit(100.0) * ($"c" / $"peak" - lit(1.0)), 12)
          .cast(DecimalType(18, 12)))
    val m = dd.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"dd" * $"dd").cast(DecimalType(28, 10)).as("sdd2"),
        sum($"dd").cast(DecimalType(28, 10)).as("sdd"),
        min($"dd").as("ddmin"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    m.select($"user_id", $"n_days",
      decRound(sqrt($"sdd2".cast("double") / nD), 6).as("ulcer"),
      decRound($"sdd".cast("double") / nD, 6).as("pain"),
      decRound($"ddmin".cast("double"), 6).as("max_dd_pct"))
  }

  val q230Sql: String =
    ohlcSqlPrelude + "\n" +
    """dd AS (
      |  SELECT user_id,
      |    CAST(round(CAST(100.0 * (c / max(c) OVER (PARTITION BY user_id
      |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - 1.0) AS DECIMAL(28,12)), 12) AS DECIMAL(18,12)) AS dd
      |  FROM ohlc),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(dd * dd), 10) AS DECIMAL(28,10)) AS sdd2,
      |    CAST(round(sum(dd), 10) AS DECIMAL(28,10)) AS sdd,
      |    min(dd) AS ddmin
      |  FROM dd GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(sqrt(CAST(sdd2 AS DOUBLE) / CAST(n_days AS DOUBLE))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS ulcer,
      |  CAST(round(CAST(CAST(sdd AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS pain,
      |  CAST(round(CAST(CAST(ddmin AS DOUBLE) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS max_dd_pct
      |FROM m""".stripMargin

  /** q231_donchian — Donchian channel breakout census per instrument:
    * the 10-day channel is [min(L), max(H)] over the PRIOR 10 trading
    * days (frame ends 1 BEFORE the current row — today's print can't
    * define its own breakout level, the turtle-rule convention); a
    * day is an up-break when C > channel high, a down-break when
    * C < channel low; reported with the mean relative channel width
    * (H20−L20)/C — the breakout-frequency / range-regime read next to
    * q227's %K (which normalizes INSIDE the channel; Donchian counts
    * EXITS from it). Full-frame days only. Pure function of the s68
    * OHLC ledger frame: both prior-frame extremes and the rollup ride
    * ONE hash(user) exchange — two exchanges. Determinism: channel
    * bounds are exact window picks, breakout flags exact double
    * compares (stored vs picked), width pure IEEE latticed at 12dp
    * with exact Σ.
    */
  def q231Donchian(spark: SparkSession, dir: String): DataFrame =
    donchianFromDailyOhlc(dailyOhlc(spark, dir))

  /** q231's tail over the OHLC frame — shared by the batch query and
    * the s68 ledger's differential spec.
    */
  def donchianFromDailyOhlc(ohlc: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wPrior = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(-10, -1)
    val f = ohlc
      .withColumn("h20", max($"h").over(wPrior))
      .withColumn("l20", min($"l").over(wPrior))
      .withColumn("n_in", count(lit(1)).over(wPrior))
      .filter($"n_in" === 10L)
      .withColumn("w12",
        decRound(($"h20" - $"l20") / $"c", 12).cast(DecimalType(18, 12)))
    val m = f.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum(when($"c" > $"h20", 1L).otherwise(0L)).as("up_breaks"),
        sum(when($"c" < $"l20", 1L).otherwise(0L)).as("down_breaks"),
        sum($"w12").cast(DecimalType(28, 10)).as("sw"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    m.select($"user_id", $"n_days", $"up_breaks", $"down_breaks",
      decRound(($"up_breaks" + $"down_breaks").cast("double") / nD, 6)
        .as("break_share"),
      decRound($"sw".cast("double") / nD, 6).as("avg_width"))
  }

  val q231Sql: String =
    ohlcSqlPrelude + "\n" +
    """f AS (
      |  SELECT user_id, day, c,
      |    max(h) OVER wp AS h20, min(l) OVER wp AS l20,
      |    count(*) OVER wp AS n_in
      |  FROM ohlc WINDOW wp AS (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
      |k AS (
      |  SELECT user_id, c, h20, l20,
      |    CAST(round(CAST((h20 - l20) / c AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS w12
      |  FROM f WHERE n_in = 10),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(CASE WHEN c > h20 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS up_breaks,
      |    CAST(sum(CASE WHEN c < l20 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS down_breaks,
      |    CAST(round(sum(w12), 10) AS DECIMAL(28,10)) AS sw
      |  FROM k GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days, up_breaks, down_breaks,
      |  CAST(round(CAST(CAST(up_breaks + down_breaks AS DOUBLE)
      |    / CAST(n_days AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS break_share,
      |  CAST(round(CAST(CAST(sw AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_width
      |FROM m""".stripMargin

  /** q232_overnight_gap — the overnight gap census per instrument:
    * gap_t = O_t/C_{t−1} − 1 (the return the session NEVER trades —
    * q226's σ²_overnight measures its variance; this profiles its
    * shape); days beyond ±1% count as gap-ups/downs, with the mean
    * and max |gap| — the risk read that decides whether overnight
    * exposure needs its own limit. Day domain: days with a prior
    * trading day. Pure function of the s68 OHLC ledger frame: lag
    * window + rollup on ONE hash(user) exchange — two exchanges.
    * Determinism: gap is pure IEEE on stored doubles latticed at
    * 12dp, the ±1% flags compare the decimal lattice against exact
    * decimal literals, |gap| sums reduce exactly.
    */
  def q232OvernightGap(spark: SparkSession, dir: String): DataFrame =
    gapFromDailyOhlc(dailyOhlc(spark, dir))

  /** q232's tail over the OHLC frame — shared by the batch query and
    * the s68 ledger's differential spec.
    */
  def gapFromDailyOhlc(ohlc: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wDay = Window.partitionBy($"user_id").orderBy($"day")
    val g = ohlc
      .withColumn("cp", lag($"c", 1).over(wDay))
      .filter($"cp".isNotNull)
      .withColumn("gap",
        decRound($"o" / $"cp" - lit(1.0), 12).cast(DecimalType(18, 12)))
    val m = g.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum(when($"gap" > lit(new java.math.BigDecimal("0.01")), 1L)
          .otherwise(0L)).as("n_gap_up"),
        sum(when($"gap" < lit(new java.math.BigDecimal("-0.01")), 1L)
          .otherwise(0L)).as("n_gap_down"),
        sum(abs($"gap")).cast(DecimalType(28, 10)).as("sabs"),
        max(abs($"gap")).as("gmax"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    m.select($"user_id", $"n_days", $"n_gap_up", $"n_gap_down",
      decRound($"sabs".cast("double") / nD, 6).as("avg_abs_gap"),
      decRound($"gmax".cast("double"), 6).as("max_abs_gap"))
  }

  val q232Sql: String =
    ohlcSqlPrelude + "\n" +
    """p AS (
      |  SELECT user_id, day, o,
      |    lag(c) OVER (PARTITION BY user_id ORDER BY day) AS cp
      |  FROM ohlc),
      |g AS (
      |  SELECT user_id,
      |    CAST(round(CAST(o / cp - 1.0 AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS gap
      |  FROM p WHERE cp IS NOT NULL),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(CASE WHEN gap > 0.01 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_gap_up,
      |    CAST(sum(CASE WHEN gap < -0.01 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_gap_down,
      |    CAST(round(sum(abs(gap)), 10) AS DECIMAL(28,10)) AS sabs,
      |    max(abs(gap)) AS gmax
      |  FROM g GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days, n_gap_up, n_gap_down,
      |  CAST(round(CAST(CAST(sabs AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_abs_gap,
      |  CAST(round(CAST(CAST(gmax AS DOUBLE) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS max_abs_gap
      |FROM m""".stripMargin

  /** q235_realized_kernel — the flat-top Parzen realized kernel
    * (Barndorff-Nielsen–Hansen–Lunde–Shephard 2008) per (instrument,
    * day): RK = γ₀ + 2·Σ_{h=1..5} k((h−1)/5)·γ_h with γ_h =
    * Σ r_t·r_{t−h} — the noise-robust realized variance that q157's
    * plain RV is not (microstructure noise biases RV upward at tick
    * frequency; the kernel's autocovariance terms cancel the iid-noise
    * component). Reported next to rv = γ₀ so the noise correction
    * ratio is one subtraction away. The Parzen weights at x = 0, .2,
    * .4, .6, .8 are EXACT decimals (1, 0.808, 0.424, 0.128, 0.016) —
    * no irrational coefficient enters before the final sum. Per
    * INSTRUMENT over its full tick series (this tape carries a
    * handful of prints per day — a day-keyed kernel would filter
    * itself empty; at intraday densities the same shape re-keys on
    * (user, day) untouched); zero prices excluded on both engines
    * (the q157 guard); all six lag windows and the rollup ride ONE
    * user_id tape exchange (the keyed-window + same-key-agg plan
    * family). Determinism: returns and products are raw IEEE (the
    * q157 precedent), sums rounded at 6dp output where ulp-order
    * noise is far below the lattice.
    */
  def q235RealizedKernel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val r = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts", $"value")
      .withColumn("ret", when($"value" > 0.0,
        log($"value" / nullif(lag($"value", 1).over(w), lit(0.0)))))
    val g = r
      .withColumn("r1", lag($"ret", 1).over(w))
      .withColumn("r2", lag($"ret", 2).over(w))
      .withColumn("r3", lag($"ret", 3).over(w))
      .withColumn("r4", lag($"ret", 4).over(w))
      .withColumn("r5", lag($"ret", 5).over(w))
      .groupBy($"user_id")
      .agg(count($"ret").as("n_rets"),
        sum($"ret" * $"ret").as("g0"),
        sum($"ret" * $"r1").as("g1"),
        sum($"ret" * $"r2").as("g2"),
        sum($"ret" * $"r3").as("g3"),
        sum($"ret" * $"r4").as("g4"),
        sum($"ret" * $"r5").as("g5"))
      .filter($"n_rets" >= 30L)
    g.select($"user_id", $"n_rets",
      decRound($"g0", 6).as("rv"),
      decRound($"g0"
        + lit(2.0) * (lit(1.0) * $"g1" + lit(0.808) * $"g2"
          + lit(0.424) * $"g3" + lit(0.128) * $"g4"
          + lit(0.016) * $"g5"), 6).as("rk"))
  }

  val q235Sql: String =
    """WITH r AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN value > 0.0 THEN
      |      ln(value / nullif(lag(value) OVER w, 0.0)) END AS ret
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |l AS (
      |  SELECT user_id, ret,
      |    lag(ret, 1) OVER w AS r1, lag(ret, 2) OVER w AS r2,
      |    lag(ret, 3) OVER w AS r3, lag(ret, 4) OVER w AS r4,
      |    lag(ret, 5) OVER w AS r5
      |  FROM r
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |g AS (
      |  SELECT user_id, count(ret) AS n_rets,
      |    sum(ret * ret) AS g0, sum(ret * r1) AS g1,
      |    sum(ret * r2) AS g2, sum(ret * r3) AS g3,
      |    sum(ret * r4) AS g4, sum(ret * r5) AS g5
      |  FROM l GROUP BY 1 HAVING count(ret) >= 30)
      |SELECT user_id, n_rets,
      |  CAST(round(CAST(g0 AS DECIMAL(28,12)), 6) AS DOUBLE) AS rv,
      |  CAST(round(CAST(g0 + 2.0 * (1.0 * g1 + 0.808 * g2 + 0.424 * g3
      |    + 0.128 * g4 + 0.016 * g5) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS rk
      |FROM g""".stripMargin

  /** q236_calmar — the Calmar ratio per instrument from the daily
    * close ledger: annualized LOG return (252-day convention) over
    * the maximum percent drawdown — THE drawdown-adjusted
    * performance read next to q118's Sharpe (σ-adjusted) and q230's
    * ulcer (RMS-drawdown); reported with both legs so the ratio is
    * auditable. The log-return flavor: this synthetic tape's
    * close ratios are arbitrary, so exp-compounding overflows any
    * fixed-precision lattice — ln keeps the numerator linear in the
    * ratio's magnitude (|ln| < 25 at any plausible ratio) and the
    * exp flavor is one expression away on a real price tape.
    * Instruments with no drawdown are excluded (the ratio is
    * undefined — mirrored HAVING). Pure function of the s68 OHLC
    * ledger frame: running-max window + min_by/max_by rollup on ONE
    * hash(user) exchange — two exchanges. Determinism: first/last
    * closes are exact arg-extreme picks on the unique day order, dd
    * reuses the q230 12dp lattice, max-dd is an exact decimal pick;
    * ln runs in IEEE double on exactly-stored operands with the
    * operation order mirrored token-for-token, output at 6dp.
    */
  def q236Calmar(spark: SparkSession, dir: String): DataFrame =
    calmarFromDailyOhlc(dailyOhlc(spark, dir))

  /** q236's tail over the OHLC frame — shared by the batch query and
    * the s68 ledger's differential spec.
    */
  def calmarFromDailyOhlc(ohlc: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wRun = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = ohlc
      .withColumn("peak", max($"c").over(wRun))
      .withColumn("dd",
        decRound(lit(100.0) * ($"c" / $"peak" - lit(1.0)), 12)
          .cast(DecimalType(18, 12)))
    val m = dd.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        min_by($"c", $"day").as("c_first"),
        max_by($"c", $"day").as("c_last"),
        min($"dd").as("ddmin"))
      .filter($"n_days" >= 10L && $"ddmin" < 0)
    val nD = $"n_days".cast("double")
    val annLogRet = log($"c_last" / $"c_first") * (lit(252.0) / nD)
    m.select($"user_id", $"n_days",
      decRound(annLogRet, 6).as("ann_log_return"),
      decRound($"ddmin".cast("double"), 6).as("max_dd_pct"),
      decRound(annLogRet / (-$"ddmin".cast("double") / lit(100.0)), 6)
        .as("calmar"))
  }

  /** q241_aroon — the 20-bar Aroon trend census per instrument:
    * aroon-up = 100·(20 − bars since 20-bar HIGH)/20, aroon-down the
    * same off the 20-bar LOW — the "how fresh is the extreme" trend
    * read a desk runs next to q231's Donchian breakout census (which
    * counts TOUCHES; Aroon measures the AGE of the extreme). 20-bar
    * window because the synthetic tape carries 22–30 trading days per
    * instrument, and because 100/20 = 5 keeps every Aroon value a
    * pure INTEGER (age ∈ [0,19] ⇒ aroon = 100 − 5·age) — zero FP
    * anywhere before the final share/mean division. Ties on the
    * extreme take the most RECENT bar (max(struct(price, rn)) — the
    * lexicographic struct max both engines share). s68 OHLC ledger
    * tail: row_number, both extreme-arg windows, and the instrument
    * rollup all ride one hash(user) exchange after the tape collapse
    * (plan-pinned 2). Reported per instrument: mean up/down, the
    * share of days in up-dominance (up > down), and the fresh-high
    * share (aroon-up = 100: the bar IS the 20-bar high — the q231
    * breakout read, re-derived from age).
    *
    * Ref: Chande (1995), standard TA definition.
    */
  def q241Aroon(spark: SparkSession, dir: String): DataFrame =
    aroonFromDailyOhlc(dailyOhlc(spark, dir))

  /** q241's tail over the OHLC ledger frame — shared by the batch
    * query and the s68 ledger spec.
    */
  def aroonFromDailyOhlc(ohlc: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    val wSeq = Window.partitionBy($"user_id").orderBy($"day")
    val w20 = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(-19, Window.currentRow)
    val a = ohlc
      .withColumn("rn", row_number().over(wSeq))
      .withColumn("hiRn", max(struct($"h", $"rn")).over(w20)("rn"))
      .withColumn("loRn", max(struct(-$"l", $"rn")).over(w20)("rn"))
      .withColumn("n_in", count(lit(1)).over(w20))
      .filter($"n_in" === 20L)
      .withColumn("up", lit(100) - lit(5) * ($"rn" - $"hiRn"))
      .withColumn("down", lit(100) - lit(5) * ($"rn" - $"loRn"))
    val m = a.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"up").as("sup"), sum($"down").as("sdown"),
        sum(when($"up" > $"down", 1L).otherwise(0L)).as("n_updom"),
        sum(when($"up" === 100, 1L).otherwise(0L)).as("n_fresh_high"))
    val nD = $"n_days".cast("double")
    m.select($"user_id", $"n_days",
      decRound($"sup".cast("double") / nD, 6).as("avg_aroon_up"),
      decRound($"sdown".cast("double") / nD, 6).as("avg_aroon_down"),
      decRound($"n_updom".cast("double") / nD, 6).as("updom_share"),
      $"n_fresh_high")
  }

  val q241Sql: String =
    ohlcSqlPrelude + "\n" +
    """sq AS (
      |  SELECT user_id, day, h, l,
      |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      |  FROM ohlc),
      |a0 AS (
      |  SELECT user_id, rn,
      |    (max(struct_pack(v := h, rn := rn)) OVER w20).rn AS hi_rn,
      |    (max(struct_pack(v := -l, rn := rn)) OVER w20).rn AS lo_rn,
      |    count(*) OVER w20 AS n_in
      |  FROM sq WINDOW w20 AS (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
      |a AS (
      |  SELECT user_id, 100 - 5 * (rn - hi_rn) AS up,
      |    100 - 5 * (rn - lo_rn) AS down
      |  FROM a0 WHERE n_in = 20),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(up) AS BIGINT) AS sup,
      |    CAST(sum(down) AS BIGINT) AS sdown,
      |    CAST(sum(CASE WHEN up > down THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_updom,
      |    CAST(sum(CASE WHEN up = 100 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_fresh_high
      |  FROM a GROUP BY 1)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(CAST(sup AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_aroon_up,
      |  CAST(round(CAST(CAST(sdown AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_aroon_down,
      |  CAST(round(CAST(CAST(n_updom AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS updom_share,
      |  n_fresh_high
      |FROM m""".stripMargin

  /** q242_mfi — the 14-day Money Flow Index per instrument: typical
    * price (H+L+C)/3 × day volume = raw money flow, split by the
    * typical-price direction, MFI = 100·posflow/(posflow+negflow)
    * over the trailing 14 full days — volume-weighted RSI, the
    * overbought/oversold read that sees FLOW where q106's RSI sees
    * only price. FOURTH two-ledger composition (s68 OHLC × s60
    * volumes, the q221/q228/q239 discipline). Scale: both ledgers
    * arrive keyed (user, day); the join rides the collapse exchanges
    * (or AQE broadcasts the volume side), and the direction lag, the
    * 14-day flow windows, and the instrument rollup share one
    * hash(user) exchange — plan-pinned ≤ 4. Determinism: tp lattices
    * to 8dp at price scale; flow = tp × v is an EXACT decimal
    * product rounded half-up to integer units (flow ≤ 560·699 ≈
    * 3.9e5, so integer units lose <1.3e-6 relative and the window
    * sums reduce as LONGS — associative, exact in both engines);
    * equal-tp days carry no flow (the standard MFI convention,
    * mirrored); the single ratio runs once in IEEE double on
    * converged longs (≤ 5.5e6 < 2^53 — exactly convertible).
    *
    * Ref: Quong & Soudack (1989), standard TA definition.
    */
  def q242Mfi(spark: SparkSession, dir: String): DataFrame =
    mfiFromLedgers(dailyOhlc(spark, dir),
      graft.queries.Quant.dailyVolume(spark, dir))

  /** q242's tail over the two ledger frames — shared by the batch
    * query and the s68×s60 composition spec.
    */
  def mfiFromLedgers(ohlc: DataFrame, vol: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wSeq = Window.partitionBy($"user_id").orderBy($"day")
    val w14 = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(-13, Window.currentRow)
    val f = ohlc.join(vol, Seq("user_id", "day"))
      .withColumn("tp",
        decRound(($"h" + $"l" + $"c") / lit(3.0), 8)
          .cast(DecimalType(18, 8)))
      .withColumn("tpp", lag($"tp", 1).over(wSeq))
      .filter($"tpp".isNotNull)
      // v stays a NARROW decimal: tp(18,8) × bigint would exceed
      // Spark's precision cap (39 > 38) and silently drop the 8th
      // fraction digit (precision-loss mode trims SCALE — a 447.49999995
      // flow became 447.5 and rounded the other way; measured at sf0.01)
      .withColumn("flow",
        round($"tp" * $"v".cast(DecimalType(10, 0)), 0).cast("long"))
      .withColumn("pos", when($"tp" > $"tpp", $"flow").otherwise(0L))
      .withColumn("neg", when($"tp" < $"tpp", $"flow").otherwise(0L))
    val k = f
      .withColumn("p14", sum($"pos").over(w14))
      .withColumn("n14", sum($"neg").over(w14))
      .withColumn("n_in", count(lit(1)).over(w14))
      .filter($"n_in" === 14L && ($"p14" + $"n14") > 0L)
      .withColumn("mfi",
        decRound(lit(100.0) * $"p14".cast("double")
          / ($"p14" + $"n14").cast("double"), 6)
          .cast(DecimalType(18, 6)))
    val m = k.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"mfi").cast(DecimalType(28, 6)).as("sm"),
        sum(when($"mfi" > lit(80), 1L).otherwise(0L)).as("n_over"),
        sum(when($"mfi" < lit(20), 1L).otherwise(0L)).as("n_under"))
    val nD = $"n_days".cast("double")
    m.select($"user_id", $"n_days",
      decRound($"sm".cast("double") / nD, 6).as("avg_mfi"),
      decRound($"n_over".cast("double") / nD, 6).as("over_share"),
      decRound($"n_under".cast("double") / nD, 6).as("under_share"))
  }

  val q242Sql: String =
    ohlcSqlPrelude + "\n" +
    """vol AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |      AS v
      |  FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 0
      |  GROUP BY 1, 2),
      |tp0 AS (
      |  SELECT o.user_id, o.day,
      |    CAST(round(CAST((o.h + o.l + o.c) / 3.0 AS DECIMAL(28,12)), 8)
      |      AS DECIMAL(18,8)) AS tp, vol.v
      |  FROM ohlc o JOIN vol ON o.user_id = vol.user_id
      |    AND o.day = vol.day),
      |f AS (
      |  SELECT user_id, day, tp, v,
      |    lag(tp) OVER (PARTITION BY user_id ORDER BY day) AS tpp
      |  FROM tp0),
      |g AS (
      |  SELECT user_id, day, tp, tpp,
      |    CAST(round(CAST(tp AS DECIMAL(28,8)) * v, 0) AS BIGINT) AS flow
      |  FROM f WHERE tpp IS NOT NULL),
      |k0 AS (
      |  SELECT user_id, day,
      |    sum(CASE WHEN tp > tpp THEN flow ELSE 0 END) OVER w14 AS p14,
      |    sum(CASE WHEN tp < tpp THEN flow ELSE 0 END) OVER w14 AS n14,
      |    count(*) OVER w14 AS n_in
      |  FROM g WINDOW w14 AS (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
      |k AS (
      |  SELECT user_id,
      |    CAST(CAST(round(CAST(100.0 * CAST(p14 AS DOUBLE)
      |      / CAST(p14 + n14 AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |      AS DECIMAL(18,6)) AS mfi
      |  FROM k0 WHERE n_in = 14 AND (p14 + n14) > 0),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(mfi) AS DECIMAL(28,6)) AS sm,
      |    CAST(sum(CASE WHEN mfi > 80 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_over,
      |    CAST(sum(CASE WHEN mfi < 20 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_under
      |  FROM k GROUP BY 1)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(CAST(sm AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_mfi,
      |  CAST(round(CAST(CAST(n_over AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS over_share,
      |  CAST(round(CAST(CAST(n_under AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS under_share
      |FROM m""".stripMargin

  /** q243_vortex — the 14-day Vortex indicator per instrument:
    * VI+ = Σ|H_t − L_{t−1}| / ΣTR, VI− = Σ|L_t − H_{t−1}| / ΣTR over
    * the trailing 14 full days — the trend-direction read built from
    * the SAME true-range denominator as q229's ATR (upward vortex
    * movement reaches from yesterday's low, downward from yesterday's
    * high). s68 OHLC ledger tail: the lag, both 14-day sums, and the
    * instrument rollup ride one hash(user) exchange after the tape
    * collapse (plan-pinned 2). Determinism: VM+ / VM− / TR all
    * lattice to 8dp at price scale (the q229 rule); the 14-day window
    * sums reduce exactly as decimals (≤ 14·560 at 8dp — far under
    * 2^53 unscaled); each per-day VI is one IEEE division of exact
    * converged operands latticed to 12dp; the rollup re-narrows
    * (28,10) before the final double pass.
    *
    * Ref: Botes & Siepman (2010), standard TA definition.
    */
  def q243Vortex(spark: SparkSession, dir: String): DataFrame =
    vortexFromDailyOhlc(dailyOhlc(spark, dir))

  /** q243's tail over the OHLC ledger frame — shared by the batch
    * query and the s68 ledger spec.
    */
  def vortexFromDailyOhlc(ohlc: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wSeq = Window.partitionBy($"user_id").orderBy($"day")
    val w14 = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(-13, Window.currentRow)
    val t = ohlc
      .withColumn("hp", lag($"h", 1).over(wSeq))
      .withColumn("lp", lag($"l", 1).over(wSeq))
      .withColumn("cp", lag($"c", 1).over(wSeq))
      .filter($"cp".isNotNull)
      .withColumn("vmp",
        decRound(abs($"h" - $"lp"), 8).cast(DecimalType(18, 8)))
      .withColumn("vmm",
        decRound(abs($"l" - $"hp"), 8).cast(DecimalType(18, 8)))
      .withColumn("tr",
        decRound(greatest($"h" - $"l", abs($"h" - $"cp"),
          abs($"l" - $"cp")), 8).cast(DecimalType(18, 8)))
    val k = t
      .withColumn("svmp", sum($"vmp").over(w14))
      .withColumn("svmm", sum($"vmm").over(w14))
      .withColumn("str", sum($"tr").over(w14))
      .withColumn("n_in", count(lit(1)).over(w14))
      .filter($"n_in" === 14L && $"str" > 0)
      .withColumn("vip",
        decRound($"svmp".cast("double") / $"str".cast("double"), 12)
          .cast(DecimalType(18, 12)))
      .withColumn("vim",
        decRound($"svmm".cast("double") / $"str".cast("double"), 12)
          .cast(DecimalType(18, 12)))
    val m = k.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"vip").cast(DecimalType(28, 10)).as("svip"),
        sum($"vim").cast(DecimalType(28, 10)).as("svim"),
        sum(when($"vip" > $"vim", 1L).otherwise(0L)).as("n_uptrend"))
    val nD = $"n_days".cast("double")
    m.select($"user_id", $"n_days",
      decRound($"svip".cast("double") / nD, 6).as("avg_vi_plus"),
      decRound($"svim".cast("double") / nD, 6).as("avg_vi_minus"),
      decRound($"n_uptrend".cast("double") / nD, 6).as("uptrend_share"))
  }

  val q243Sql: String =
    ohlcSqlPrelude + "\n" +
    """p AS (
      |  SELECT user_id, day, h, l,
      |    lag(h) OVER w AS hp, lag(l) OVER w AS lp, lag(c) OVER w AS cp
      |  FROM ohlc WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |t AS (
      |  SELECT user_id, day,
      |    CAST(round(CAST(abs(h - lp) AS DECIMAL(28,12)), 8)
      |      AS DECIMAL(18,8)) AS vmp,
      |    CAST(round(CAST(abs(l - hp) AS DECIMAL(28,12)), 8)
      |      AS DECIMAL(18,8)) AS vmm,
      |    CAST(round(CAST(greatest(h - l, abs(h - cp), abs(l - cp))
      |      AS DECIMAL(28,12)), 8) AS DECIMAL(18,8)) AS tr
      |  FROM p WHERE cp IS NOT NULL),
      |k0 AS (
      |  SELECT user_id, day,
      |    sum(vmp) OVER w14 AS svmp, sum(vmm) OVER w14 AS svmm,
      |    sum(tr) OVER w14 AS str, count(*) OVER w14 AS n_in
      |  FROM t WINDOW w14 AS (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
      |k AS (
      |  SELECT user_id,
      |    CAST(round(CAST(CAST(svmp AS DOUBLE) / CAST(str AS DOUBLE)
      |      AS DECIMAL(28,12)), 12) AS DECIMAL(18,12)) AS vip,
      |    CAST(round(CAST(CAST(svmm AS DOUBLE) / CAST(str AS DOUBLE)
      |      AS DECIMAL(28,12)), 12) AS DECIMAL(18,12)) AS vim
      |  FROM k0 WHERE n_in = 14 AND str > 0),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(vip), 10) AS DECIMAL(28,10)) AS svip,
      |    CAST(round(sum(vim), 10) AS DECIMAL(28,10)) AS svim,
      |    CAST(sum(CASE WHEN vip > vim THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_uptrend
      |  FROM k GROUP BY 1)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(CAST(svip AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_vi_plus,
      |  CAST(round(CAST(CAST(svim AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_vi_minus,
      |  CAST(round(CAST(CAST(n_uptrend AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS uptrend_share
      |FROM m""".stripMargin

  val q236Sql: String =
    ohlcSqlPrelude + "\n" +
    """dd AS (
      |  SELECT user_id, day, c,
      |    CAST(round(CAST(100.0 * (c / max(c) OVER (PARTITION BY user_id
      |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - 1.0) AS DECIMAL(28,12)), 12) AS DECIMAL(18,12)) AS dd
      |  FROM ohlc),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    arg_min(c, day) AS c_first, arg_max(c, day) AS c_last,
      |    min(dd) AS ddmin
      |  FROM dd GROUP BY 1
      |  HAVING count(*) >= 10 AND min(dd) < 0)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(ln(c_last / c_first)
      |    * (252.0 / CAST(n_days AS DOUBLE))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS ann_log_return,
      |  CAST(round(CAST(CAST(ddmin AS DOUBLE) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS max_dd_pct,
      |  CAST(round(CAST((ln(c_last / c_first)
      |    * (252.0 / CAST(n_days AS DOUBLE)))
      |    / (-CAST(ddmin AS DOUBLE) / 100.0)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS calmar
      |FROM m""".stripMargin

  /** q254_price_clustering — round-number affinity census of the
    * tape (Harris 1991): prints cluster on round prices when traders
    * negotiate on coarse grids; the census reports, per final cent
    * digit (price in integer cents mod 10), the print count and
    * share, plus each digit's round-dollar and nickel sub-shares,
    * and the pooled χ² against the uniform-digit null — the
    * forensic cousin of q164's Benford first-digit test (that one
    * audits magnitudes, this audits the PRICE GRID). Scale:
    * row-local digit projection, ONE map-side-combined ≤10-group
    * rollup, then the pooled total is an all-rows window over the
    * ALREADY-REDUCED ≤10-row frame (Exchange SinglePartition carries
    * ten rows — the broadcast-scalar alternative re-SCANNED the tape
    * for the total because column pruning defeats exchange reuse,
    * measured: two FileScans in the static plan). One tape scan
    * total (plan-pinned). Determinism: cents =
    * round(decimal(28,12)(value)·100) — the ×100 runs IN exact
    * decimal against a (3,0) literal (lesson-3: a (10,0) literal
    * would push precision past 38 and silently drop scale), and the
    * 12dp lattice of a ~1e2 price is 15 significant digits, inside
    * the engines' double→decimal agreement zone (lesson-1); all
    * counts and digit classes are then PURE INTEGERS; shares and χ²
    * run once in IEEE on converged longs, latticed 6dp.
    */
  def q254PriceClustering(spark: SparkSession, dir: String): DataFrame =
    clusteringFromDigitCounts(digitCounts(Tables.events(spark, dir)))

  /** The ≤10-row (digit, n, n_dollar, n_nickel) count frame — a pure
    * monoid (three long sums), so the SAME expression runs as the
    * batch collapse and as the s69 streaming ledger (counts only
    * grow: converged = max emission per digit under update mode).
    */
  def digitCounts(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val cents = round($"value".cast(DecimalType(28, 12))
      * lit(100).cast(DecimalType(3, 0)), 0).cast("long")
    events
      .filter($"value" > 0.0)
      .select((cents % 10L).as("digit"),
        (cents % 100L === 0L).cast("long").as("is_dollar"),
        (cents % 5L === 0L).cast("long").as("is_nickel"))
      .groupBy($"digit")
      .agg(count(lit(1)).as("n"),
        sum($"is_dollar").as("n_dollar"),
        sum($"is_nickel").as("n_nickel"))
  }

  /** q254's census tail over the converged digit-count frame —
    * shared verbatim by the batch query and the s69 ledger spec.
    */
  def clusteringFromDigitCounts(g: DataFrame): DataFrame = {
    val spark = g.sparkSession
    import spark.implicits._
    val j = g.withColumn("n_total",
      sum($"n").over(Window.partitionBy()))
    val nD = $"n".cast("double")
    val expect = $"n_total".cast("double") / lit(10.0)
    j.select($"digit", $"n",
        decRound(nD / $"n_total".cast("double"), 6).as("share"),
        decRound($"n_dollar".cast("double") / nD, 6).as("dollar_share"),
        decRound($"n_nickel".cast("double") / nD, 6).as("nickel_share"),
        decRound((nD - expect) * (nD - expect) / expect, 6)
          .as("chi2_term"))
  }

  val q254Sql: String =
    """WITH d AS (
      |  SELECT CAST(round(CAST(value AS DECIMAL(28,12))
      |      * CAST(100 AS DECIMAL(3,0)), 0) AS BIGINT) AS cents
      |  FROM events WHERE value > 0.0),
      |g AS (
      |  SELECT cents % 10 AS digit, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_dollar,
      |    CAST(sum(CASE WHEN cents % 5 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_nickel
      |  FROM d GROUP BY 1),
      |t AS (
      |  SELECT digit, n, n_dollar, n_nickel,
      |    CAST(sum(n) OVER () AS BIGINT) AS n_total
      |  FROM g)
      |SELECT digit, n,
      |  CAST(round(CAST(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS share,
      |  CAST(round(CAST(CAST(n_dollar AS DOUBLE) / CAST(n AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS dollar_share,
      |  CAST(round(CAST(CAST(n_nickel AS DOUBLE) / CAST(n AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS nickel_share,
      |  CAST(round(CAST((CAST(n AS DOUBLE)
      |      - CAST(n_total AS DOUBLE) / 10.0)
      |    * (CAST(n AS DOUBLE) - CAST(n_total AS DOUBLE) / 10.0)
      |    / (CAST(n_total AS DOUBLE) / 10.0)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS chi2_term
      |FROM t""".stripMargin

  /** q272_eom — the Arms (1989) Ease of Movement per instrument:
    * EMV_t = (mid_t − mid_{t−1}) · (H_t − L_t) / V_t where mid is the
    * daily H/L midpoint — price progress per unit of volume-scaled
    * effort, positive when price advances on light volume (an "easy"
    * move), negative when it retreats; the flow-efficiency read next
    * to q242's MFI (which weights DIRECTION by flow) and q239's
    * Amihud (which sizes IMPACT per flow). FIFTH two-ledger
    * composition (s68 OHLC × s60 volumes, the q221/q228/q239/q242
    * discipline). Scale: both ledgers arrive keyed (user, day); the
    * join rides the collapse exchanges, and the midpoint lag plus the
    * instrument rollup share one hash(user) exchange — plan-pinned
    * ≤ 4 (the q242 budget). Determinism: mid and the day range
    * lattice to 8dp at price scale (the q242 tp rule); the midpoint
    * move is an exact decimal diff; EMV is ONE IEEE expression of
    * exactly-converted operands (dist × range / volume — all three
    * bit-identical across engines) latticed to 6dp (≤ 2.4e5 at 6dp =
    * 12 significant digits, inside the engines' double→decimal
    * agreement zone — the r14 lesson-1/lesson-4 bound), so the
    * per-instrument mean reduces as an exact decimal sum; zero-range
    * days are excluded (no 0/0 — mirrored WHERE).
    */
  def q272Eom(spark: SparkSession, dir: String): DataFrame =
    eomFromLedgers(dailyOhlc(spark, dir),
      graft.queries.Quant.dailyVolume(spark, dir))

  /** q272's tail over the two ledger frames — shared by the batch
    * query and the s68×s60 composition spec.
    */
  def eomFromLedgers(ohlc: DataFrame, vol: DataFrame): DataFrame = {
    val spark = ohlc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wSeq = Window.partitionBy($"user_id").orderBy($"day")
    val f = ohlc.join(vol, Seq("user_id", "day"))
      .withColumn("mid",
        decRound(($"h" + $"l") / lit(2.0), 8).cast(DecimalType(18, 8)))
      .withColumn("rng",
        decRound($"h" - $"l", 8).cast(DecimalType(18, 8)))
      .withColumn("midp", lag($"mid", 1).over(wSeq))
      .filter($"midp".isNotNull && $"rng" > lit(0).cast(DecimalType(18, 8)))
      .withColumn("dist", ($"mid" - $"midp").cast(DecimalType(18, 8)))
      .withColumn("emv",
        decRound($"dist".cast("double") * $"rng".cast("double")
          / $"v".cast("double"), 6).cast(DecimalType(18, 6)))
    val m = f.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"emv").cast(DecimalType(28, 6)).as("se"),
        sum(when($"emv" > lit(0).cast(DecimalType(18, 6)), 1L)
          .otherwise(0L)).as("n_pos"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    m.select($"user_id", $"n_days",
      decRound($"se".cast("double") / nD, 6).as("avg_emv"),
      decRound($"n_pos".cast("double") / nD, 6).as("pos_share"))
  }

  val q272Sql: String =
    ohlcSqlPrelude + "\n" +
    """vol AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |      AS v
      |  FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 0
      |  GROUP BY 1, 2),
      |f0 AS (
      |  SELECT o.user_id, o.day,
      |    CAST(round(CAST((o.h + o.l) / 2.0 AS DECIMAL(28,12)), 8)
      |      AS DECIMAL(18,8)) AS mid,
      |    CAST(round(CAST(o.h - o.l AS DECIMAL(28,12)), 8)
      |      AS DECIMAL(18,8)) AS rng, vol.v
      |  FROM ohlc o JOIN vol ON o.user_id = vol.user_id
      |    AND o.day = vol.day),
      |f1 AS (
      |  SELECT user_id, day, mid, rng, v,
      |    lag(mid) OVER (PARTITION BY user_id ORDER BY day) AS midp
      |  FROM f0),
      |f AS (
      |  SELECT user_id,
      |    CAST(CAST(round(CAST(CAST(CAST(mid - midp AS DECIMAL(18,8))
      |      AS DOUBLE) * CAST(rng AS DOUBLE) / CAST(v AS DOUBLE)
      |      AS DECIMAL(28,12)), 6) AS DOUBLE) AS DECIMAL(18,6)) AS emv
      |  FROM f1
      |  WHERE midp IS NOT NULL AND rng > CAST(0 AS DECIMAL(18,8))),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(emv) AS DECIMAL(28,6)) AS se,
      |    CAST(sum(CASE WHEN emv > CAST(0 AS DECIMAL(18,6)) THEN 1
      |      ELSE 0 END) AS BIGINT) AS n_pos
      |  FROM f GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(CAST(se AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_emv,
      |  CAST(round(CAST(CAST(n_pos AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS pos_share
      |FROM m""".stripMargin

  /** q283_price_clustering — the PER-INSTRUMENT cut of q254's pooled
    * digit census: the share of each instrument's prints landing on
    * whole dollars, quarters, dimes, and nickels, plus the dime-level
    * clustering EXCESS over the uniform 10% benchmark. q254 answers
    * "does the tape as a whole price-cluster" (ten digit rows, χ² vs
    * uniform); this answers "WHICH names trade on a coarse grid" —
    * the per-name screen that feeds tick-size studies and the q200
    * liquidity score (grid-bound names quote wider). Scale: one
    * map-side-combined groupBy(user_id) over the
    * tape — no window, no join, ONE exchange carrying |instruments|
    * rows (plan-pinned 1). Determinism: cents are PURE INTEGER —
    * price → DECIMAL(28,12) (2dp stored doubles ≤ 491 convert
    * identically in both engines), ×100 exact, round-0 exact, so
    * every mod test and count is integer; the four shares and the
    * excess are one IEEE division each, latticed 6dp. Instruments
    * with < 20 prints excluded (mirrored HAVING).
    */
  def q283PriceClustering(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val cents = round($"value".cast(DecimalType(28, 12)) * 100, 0)
      .cast("long")
    val m = Tables.events(spark, dir)
      .filter($"value" > 0.0)
      .select($"user_id", cents.as("cents"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_prints"),
        sum(when($"cents" % 100L === 0L, 1L).otherwise(0L)).as("n_dollar"),
        sum(when($"cents" % 25L === 0L, 1L).otherwise(0L)).as("n_quarter"),
        sum(when($"cents" % 10L === 0L, 1L).otherwise(0L)).as("n_dime"),
        sum(when($"cents" % 5L === 0L, 1L).otherwise(0L)).as("n_nickel"))
      .filter($"n_prints" >= 20L)
    val nD = $"n_prints".cast("double")
    m.select($"user_id", $"n_prints",
      decRound($"n_dollar".cast("double") / nD, 6).as("dollar_share"),
      decRound($"n_quarter".cast("double") / nD, 6).as("quarter_share"),
      decRound($"n_dime".cast("double") / nD, 6).as("dime_share"),
      decRound($"n_nickel".cast("double") / nD, 6).as("nickel_share"),
      decRound($"n_dime".cast("double") / nD - lit(0.1), 6)
        .as("dime_excess"))
  }

  val q283Sql: String =
    """WITH t AS (
      |  SELECT user_id,
      |    CAST(round(CAST(value AS DECIMAL(28,12)) * 100, 0) AS BIGINT)
      |      AS cents
      |  FROM events WHERE value > 0.0),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_prints,
      |    CAST(sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_dollar,
      |    CAST(sum(CASE WHEN cents % 25 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_quarter,
      |    CAST(sum(CASE WHEN cents % 10 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_dime,
      |    CAST(sum(CASE WHEN cents % 5 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_nickel
      |  FROM t GROUP BY 1 HAVING count(*) >= 20)
      |SELECT user_id, n_prints,
      |  CAST(round(CAST(CAST(n_dollar AS DOUBLE) / CAST(n_prints AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS dollar_share,
      |  CAST(round(CAST(CAST(n_quarter AS DOUBLE) / CAST(n_prints AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS quarter_share,
      |  CAST(round(CAST(CAST(n_dime AS DOUBLE) / CAST(n_prints AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS dime_share,
      |  CAST(round(CAST(CAST(n_nickel AS DOUBLE) / CAST(n_prints AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS nickel_share,
      |  CAST(round(CAST(CAST(n_dime AS DOUBLE) / CAST(n_prints AS DOUBLE)
      |    - 0.1 AS DECIMAL(28,12)), 6) AS DOUBLE) AS dime_excess
      |FROM m""".stripMargin
}
