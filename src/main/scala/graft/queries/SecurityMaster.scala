package graft.queries

import graft.Tables
import graft.operators.{AsOf, Bitemporal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Security-master reference-data pipelines (SURVEY §2, q135–q138):
  * point-in-time symbology resolution, corporate-action back-
  * adjustment, trading-calendar completeness, and bitemporal
  * corrections — the four capabilities a reference-data consumer uses
  * daily on top of the raw time-series operators (q21–q30).
  *
  * The events table plays the securities feed: user_id is the
  * security, 'signup' rows are reference/action records, 'purchase'
  * rows are trades. Every plan shuffles on user_id (high-cardinality)
  * or joins a broadcast dim — no low-cardinality windows. FP and type
  * discipline follow the module-wide rules: ln/exp chains stay in one
  * pinned-order window sum; integral aggregates are CAST to BIGINT at
  * oracle emission.
  */
object SecurityMaster {

  private def decRound(c: org.apache.spark.sql.Column, scale: Int) =
    graft.functions.Num.decRound(c, scale)

  /** q135_symbology — point-in-time identifier cross-reference: each
    * user's signup stream mints successive symbols (SCD2-style epochs:
    * symbol i is in effect from its signup until the next), trades
    * resolve the symbol in effect AT trade time via the as-of join,
    * and the rollup reports per-symbol trade totals. Same-instant
    * signups dedupe to the latest record first (q29 shape) so both
    * engines see a unique epoch per (user, ts). One keyed window for
    * the dim + the single-exchange as-of plan; the rollup groups on
    * the same user key, so the fact table shuffles once end to end.
    */
  def q135Symbology(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val wDedup = Window.partitionBy($"user_id", $"ts").orderBy($"event_id".desc)
    val wSeq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val xref = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"event_id")
      .withColumn("dup", row_number().over(wDedup)).filter($"dup" === 1)
      .withColumn("seq", row_number().over(wSeq))
      .select($"user_id", $"ts".as("eff_from"),
        concat(lit("SYM-"), $"user_id", lit("-"), $"seq").as("symbol"))
    val trades = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    AsOf.join(trades, xref, key = "user_id",
        leftTs = "ts", rightTs = "eff_from",
        rightVals = Seq("symbol" -> "symbol"))
      .groupBy($"user_id", $"symbol")
      // money lattice (q5's sf1.0 lesson): per-symbol totals grow with
      // trade volume, drift with them
      .agg(count(lit(1)).as("n_trades"),
        round(sum($"value"
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))), 2)
          .cast("double").as("total_value"))
  }

  val q135Sql: String =
    """WITH su AS (
      |  SELECT user_id, ts, event_id FROM (
      |    SELECT user_id, ts, event_id,
      |      row_number() OVER (PARTITION BY user_id, ts
      |        ORDER BY event_id DESC) AS dup
      |    FROM events WHERE event_type = 'signup')
      |  WHERE dup = 1),
      |x AS (
      |  SELECT user_id, ts AS eff_from,
      |    'SYM-' || user_id || '-' ||
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS symbol
      |  FROM su),
      |t AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
      |SELECT t.user_id, x.symbol, count(*) AS n_trades,
      |  CAST(round(sum(CAST(t.value AS DECIMAL(18,2))), 2) AS DOUBLE)
      |    AS total_value
      |FROM t ASOF JOIN x
      |  ON t.user_id = x.user_id AND t.ts >= x.eff_from
      |GROUP BY t.user_id, x.symbol""".stripMargin

  /** q136_corp_actions — corporate-action back-adjustment: signup rows
    * are the action feed (factor 1 + value/1000, the q25 convention),
    * daily closes come from the purchase stream, and each bar's
    * adjusted close multiplies in every action AFTER its day. The
    * suffix log-factor is a per-user DESCENDING cumulative window over
    * the (tiny) action frame — a pinned summation order both engines
    * replay bit-identically — and bars pick it up with one forward
    * as-of join, so the adjustment is O(bars + actions) with no
    * quadratic action×bar product. Emitted in log space at 6dp (the
    * q25 discipline) plus the exp-applied close at 4dp.
    */
  def q136CorpActions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val wBar = Window.partitionBy($"user_id", $"day")
      .orderBy($"ts".desc, $"event_id".desc)
    val bars = ev.filter($"event_type" === "purchase")
      .select($"user_id", date_trunc("day", $"ts").as("day"),
        $"ts", $"event_id", $"value")
      .withColumn("rn", row_number().over(wBar)).filter($"rn" === 1)
      .select($"user_id", $"day", $"value".as("close"),
        ($"day" + expr("interval 1 day")).as("bar_end"))
    val wDedup = Window.partitionBy($"user_id", $"ts").orderBy($"event_id".desc)
    val wSfx = Window.partitionBy($"user_id").orderBy($"ts".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val actions = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"event_id", $"value")
      .withColumn("dup", row_number().over(wDedup)).filter($"dup" === 1)
      .withColumn("lf", log(lit(1.0) + $"value" / 1000.0))
      .withColumn("sfx", sum($"lf").over(wSfx))
      .select($"user_id", $"ts", $"sfx")
    AsOf.join(bars, actions, key = "user_id",
        leftTs = "bar_end", rightTs = "ts",
        rightVals = Seq("sfx" -> "sfx"),
        inner = false, direction = "forward")
      .select($"user_id", $"day", $"close",
        decRound(coalesce($"sfx", lit(0.0)), 6).as("log_adj"),
        decRound($"close" * exp(coalesce($"sfx", lit(0.0))), 4).as("adj_close"))
  }

  val q136Sql: String =
    """WITH bars AS (
      |  SELECT user_id, day, value AS close, day + INTERVAL 1 DAY AS bar_end
      |  FROM (
      |    SELECT user_id, date_trunc('day', ts) AS day, value,
      |      row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_type = 'purchase')
      |  WHERE rn = 1),
      |su AS (
      |  SELECT user_id, ts, ln(1.0 + value / 1000.0) AS lf FROM (
      |    SELECT user_id, ts, value,
      |      row_number() OVER (PARTITION BY user_id, ts
      |        ORDER BY event_id DESC) AS dup
      |    FROM events WHERE event_type = 'signup')
      |  WHERE dup = 1),
      |actions AS (
      |  SELECT user_id, ts,
      |    sum(lf) OVER (PARTITION BY user_id ORDER BY ts DESC
      |      ROWS UNBOUNDED PRECEDING) AS sfx
      |  FROM su)
      |SELECT b.user_id, CAST(b.day AS TIMESTAMP) AS day, b.close,
      |  CAST(round(CAST(coalesce(a.sfx, 0.0) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS log_adj,
      |  CAST(round(CAST(b.close * exp(coalesce(a.sfx, 0.0))
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS adj_close
      |FROM bars b LEFT JOIN LATERAL (
      |  SELECT sfx FROM actions a
      |  WHERE a.user_id = b.user_id AND a.ts >= b.bar_end
      |  ORDER BY a.ts ASC LIMIT 1) a ON true""".stripMargin

  /** q137_trading_calendar — calendar-aware completeness audit: the
    * exchange calendar (weekdays minus month-first holidays, generated
    * from the global data span) is a tiny broadcast dim; each user's
    * expected trading days are the calendar days inside their own
    * activity span, and users missing any expected day are reported
    * with the gap count and first missing session. This is q26's gap
    * detector made calendar-aware — weekends and holidays stop firing
    * false alerts. The fact table contributes one distinct-presence
    * aggregate and one span aggregate, both keyed on user_id; the
    * calendar join is broadcast, so nothing data-sized shuffles twice.
    */
  def q137TradingCalendar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select($"user_id", date_trunc("day", $"ts").as("day"))
    val present = days.distinct()
    val spine = days.agg(min($"day").as("mn"), max($"day").as("mx"))
      .select(explode(sequence($"mn", $"mx", expr("interval 1 day"))).as("day"))
      .filter(dayofweek($"day").between(2, 6) && dayofmonth($"day") =!= 1)
    val span = days.groupBy($"user_id")
      .agg(min($"day").as("umn"), max($"day").as("umx"))
    val expected = span.join(broadcast(spine),
      $"day".between($"umn", $"umx"))
    val nExp = expected.groupBy($"user_id")
      .agg(count(lit(1)).as("n_expected"))
    val missing = expected.select($"user_id", $"day")
      .join(present, Seq("user_id", "day"), "left_anti")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_missing"), min($"day").as("first_missing"))
    nExp.join(missing, "user_id")
      .select($"user_id", $"n_expected",
        ($"n_expected" - $"n_missing").as("n_present"),
        $"n_missing", $"first_missing")
  }

  val q137Sql: String =
    """WITH d AS (
      |  SELECT user_id, date_trunc('day', ts) AS day FROM events),
      |span AS (SELECT min(day) AS mn, max(day) AS mx FROM d),
      |trading AS (
      |  SELECT day FROM (
      |    SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
      |    FROM span)
      |  WHERE isodow(day) BETWEEN 1 AND 5 AND extract(day FROM day) <> 1),
      |uspan AS (
      |  SELECT user_id, min(day) AS umn, max(day) AS umx FROM d GROUP BY 1),
      |expected AS (
      |  SELECT u.user_id, t.day FROM uspan u
      |  JOIN trading t ON t.day BETWEEN u.umn AND u.umx),
      |present AS (SELECT DISTINCT user_id, day FROM d),
      |missing AS (
      |  SELECT e.user_id, e.day FROM expected e
      |  WHERE NOT EXISTS (SELECT 1 FROM present p
      |    WHERE p.user_id = e.user_id AND p.day = e.day)),
      |ne AS (SELECT user_id, count(*) AS n_expected FROM expected GROUP BY 1),
      |nm AS (SELECT user_id, count(*) AS n_missing, min(day) AS first_missing
      |       FROM missing GROUP BY 1)
      |SELECT ne.user_id, ne.n_expected,
      |  ne.n_expected - nm.n_missing AS n_present,
      |  nm.n_missing, nm.first_missing
      |FROM ne JOIN nm ON ne.user_id = nm.user_id""".stripMargin

  /** q138_bitemporal — valid-time × transaction-time corrections audit:
    * each event corrects a (user, day) fact at knowledge time ts, with
    * the VALID day lagging the record time by 0–2 days (event_id mod 3
    * — the deterministic stand-in for a feed that restates recent
    * sessions); the query rebuilds the snapshot "as known at" the
    * start of the last feed day and compares it with the final state —
    * which facts were believed differently, how many corrections ever
    * arrived, how many landed after the cutoff. See [[Bitemporal]];
    * everything is the one (user, day)-keyed shuffle, with the scalar
    * cutoff riding in as a broadcast single-row frame.
    */
  def q138Bitemporal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.events(spark, dir)
      .select($"user_id",
        expr("date_trunc('day', ts) - make_dt_interval(cast(event_id % 3 as int), 0, 0, 0)")
          .as("day"),
        $"ts", $"event_id", $"value")
    val cut = base.agg(date_trunc("day", max($"ts")).as("kts"))
    val iv = Bitemporal.intervals(base.crossJoin(broadcast(cut)),
      keys = Seq("user_id"), validTs = "day", txTs = "ts", tie = "event_id")
    val fin = iv.filter($"tx_to".isNull)
      .select($"user_id", $"day", $"value".as("final_value"))
    val known = Bitemporal.asKnownAt(iv, "ts", $"kts")
      .select($"user_id", $"day", $"value".as("known_value"))
    val stats = base.crossJoin(broadcast(cut))
      .groupBy($"user_id", $"day")
      .agg(count(lit(1)).as("n_corrections"),
        sum(when($"ts" > $"kts", 1L).otherwise(0L)).as("n_late"))
    stats.join(fin, Seq("user_id", "day"))
      .join(known, Seq("user_id", "day"), "left_outer")
      .select($"user_id", $"day", $"final_value", $"known_value",
        $"n_corrections", $"n_late",
        when($"known_value".isNotNull && $"known_value" =!= $"final_value",
          1).otherwise(0).as("revised"))
  }

  /** q141_rolling_beta — 10-day rolling beta per user vs the all-user
    * market series: covar_samp(user, market)/var_samp(market) over the
    * trailing 10 daily means, emitted for full windows only — the
    * time-varying exposure estimate behind q76's full-period beta. The
    * market frame is a tiny daily aggregate broadcast onto each user's
    * series; one keyed sort-window pass computes both moments (two
    * frames share the sort). Sliding-window moment folds may associate
    * differently across engines, so the ratio is decimal-rounded (the
    * q51 rolling-corr precedent).
    */
  def q141RollingBeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", date_trunc("day", $"ts").as("d"), $"value")
    val userDaily = ev.groupBy($"user_id", $"d").agg(avg($"value").as("uv"))
    val market = ev.groupBy($"d").agg(avg($"value").as("mv"))
    val w = Window.partitionBy($"user_id").orderBy($"d")
    val w10 = w.rowsBetween(-9, 0)
    userDaily.join(broadcast(market), Seq("d"))
      .withColumn("rn", row_number().over(w))
      .withColumn("beta_raw",
        covar_samp($"uv", $"mv").over(w10) / var_samp($"mv").over(w10))
      .filter($"rn" >= 10)
      .select($"user_id", $"d".as("day"), decRound($"beta_raw", 4).as("beta10"))
  }

  val q141Sql: String =
    """WITH ud AS (
      |  SELECT user_id, date_trunc('day', ts) AS d, avg(value) AS uv
      |  FROM events GROUP BY 1, 2),
      |mkt AS (
      |  SELECT date_trunc('day', ts) AS d, avg(value) AS mv
      |  FROM events GROUP BY 1),
      |j AS (
      |  SELECT ud.user_id, ud.d, ud.uv, mkt.mv FROM ud JOIN mkt USING (d)),
      |r AS (
      |  SELECT user_id, d,
      |    row_number() OVER o AS rn,
      |    covar_samp(uv, mv) OVER f / var_samp(mv) OVER f AS beta_raw
      |  FROM j
      |  WINDOW o AS (PARTITION BY user_id ORDER BY d),
      |    f AS (PARTITION BY user_id ORDER BY d
      |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
      |SELECT user_id, CAST(d AS TIMESTAMP) AS day,
      |  CAST(round(CAST(beta_raw AS DECIMAL(28,12)), 4) AS DOUBLE) AS beta10
      |FROM r WHERE rn >= 10""".stripMargin

  /** q142_pit_universe — point-in-time universe construction with
    * rebalance diffs: each week's top-5 parts by revenue form the
    * index membership, and consecutive memberships are diffed into
    * adds/drops — the index-rebalance audit a securities master
    * publishes. Weekly revenue is decimal-latticed (q129's lesson) so
    * the rank order is engine-exact; the membership frames are
    * week-keyed and tiny after the top-k, so the self-join diff is
    * broadcast-scale. WindowGroupLimit pushes the rank cut below the
    * shuffle (the q78 plan shape).
    */
  def q142PitUniverse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wRank = Window.partitionBy($"wk").orderBy($"rev".desc, $"l_partkey")
    // the membership frame (full tape roll-up + rank window, ≤ 5 rows
    // per week) feeds FIVE consumers (wks, prev, the added/dropped
    // anti-joins, the final census) — one eager checkpoint replaces
    // five re-runs of the window over the reused roll-up exchange
    val members = Tables.lineitem(spark, dir)
      .groupBy(date_trunc("week", $"l_shipdate").as("wk"), $"l_partkey")
      .agg(decRound(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
        .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("rev"))
      .withColumn("rk", row_number().over(wRank))
      .filter($"rk" <= 5)
      .select($"wk", $"l_partkey")
      .localCheckpoint(eager = true)
    val wks = members.select($"wk").distinct()
      .withColumn("prev_wk", lag($"wk", 1).over(Window.orderBy($"wk")))
    val prev = members.select($"wk".as("prev_wk"), $"l_partkey")
    val added = members.join(wks, "wk")
      .join(prev, Seq("prev_wk", "l_partkey"), "left_anti")
      .filter($"prev_wk".isNotNull)
      .groupBy($"wk").agg(count(lit(1)).as("n_added"))
    val dropped = prev.join(wks.filter($"prev_wk".isNotNull), "prev_wk")
      .join(members, Seq("wk", "l_partkey"), "left_anti")
      .groupBy($"wk").agg(count(lit(1)).as("n_dropped"))
    members.groupBy($"wk").agg(count(lit(1)).as("n_members"))
      .join(added, Seq("wk"), "left_outer")
      .join(dropped, Seq("wk"), "left_outer")
      .select($"wk", $"n_members",
        coalesce($"n_added", lit(0L)).as("n_added"),
        coalesce($"n_dropped", lit(0L)).as("n_dropped"))
  }

  val q142Sql: String =
    """WITH rev AS (
      |  SELECT date_trunc('week', l_shipdate) AS wk, l_partkey,
      |    CAST(CAST(round(CAST(sum(l_extendedprice * (1.0 - l_discount))
      |      AS DECIMAL(28,12)), 4) AS DOUBLE) AS DECIMAL(18,4)) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |members AS (
      |  SELECT wk, l_partkey FROM (
      |    SELECT wk, l_partkey,
      |      row_number() OVER (PARTITION BY wk ORDER BY rev DESC, l_partkey)
      |        AS rk
      |    FROM rev) WHERE rk <= 5),
      |wks AS (
      |  SELECT wk, lag(wk) OVER (ORDER BY wk) AS prev_wk
      |  FROM (SELECT DISTINCT wk FROM members)),
      |added AS (
      |  SELECT m.wk, count(*) AS n_added
      |  FROM members m JOIN wks ON m.wk = wks.wk
      |  WHERE wks.prev_wk IS NOT NULL AND NOT EXISTS (
      |    SELECT 1 FROM members p
      |    WHERE p.wk = wks.prev_wk AND p.l_partkey = m.l_partkey)
      |  GROUP BY m.wk),
      |dropped AS (
      |  SELECT wks.wk, count(*) AS n_dropped
      |  FROM members p JOIN wks ON p.wk = wks.prev_wk
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM members m
      |    WHERE m.wk = wks.wk AND m.l_partkey = p.l_partkey)
      |  GROUP BY wks.wk),
      |base AS (
      |  SELECT wk, count(*) AS n_members FROM members GROUP BY wk)
      |SELECT CAST(base.wk AS TIMESTAMP) AS wk, base.n_members,
      |  coalesce(added.n_added, 0) AS n_added,
      |  coalesce(dropped.n_dropped, 0) AS n_dropped
      |FROM base
      |LEFT JOIN added ON base.wk = added.wk
      |LEFT JOIN dropped ON base.wk = dropped.wk""".stripMargin

  /** q143_golden_master — the capstone composition: every trade
    * enriched in ONE pipeline with (a) the identifier in effect at
    * trade time (q135's as-of resolution), (b) the cumulative
    * corporate-action log-adjustment after the trade (q136's suffix
    * window picked up by a forward as-of), and (c) whether the trade
    * printed on a calendar session (q137's weekday/holiday rule — a
    * row-local predicate here, no spine needed), rolled up per
    * (symbol, session flag). This is the enriched-trades view a
    * securities master actually serves: three reference surfaces, one
    * fact scan, two as-of exchanges on the same user key, zero
    * low-cardinality windows.
    */
  def q143GoldenMaster(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val wDedup = Window.partitionBy($"user_id", $"ts").orderBy($"event_id".desc)
    val wSeq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val refs = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"event_id", $"value")
      .withColumn("dup", row_number().over(wDedup)).filter($"dup" === 1)
    val xref = refs
      .withColumn("seq", row_number().over(wSeq))
      .select($"user_id", $"ts".as("eff_from"),
        concat(lit("SYM-"), $"user_id", lit("-"), $"seq").as("symbol"))
    val wSfx = Window.partitionBy($"user_id").orderBy($"ts".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val actions = refs
      .withColumn("lf", log(lit(1.0) + $"value" / 1000.0))
      .withColumn("sfx", sum($"lf").over(wSfx))
      .select($"user_id", $"ts", $"sfx")
    val trades = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    val withSym = AsOf.join(trades, xref, key = "user_id",
      leftTs = "ts", rightTs = "eff_from",
      rightVals = Seq("symbol" -> "symbol"))
    val enriched = AsOf.join(withSym, actions, key = "user_id",
        leftTs = "ts", rightTs = "ts",
        rightVals = Seq("sfx" -> "sfx"),
        inner = false, direction = "forward")
      .withColumn("on_session",
        when(dayofweek($"ts").between(2, 6) && dayofmonth($"ts") =!= 1, 1)
          .otherwise(0))
    enriched.groupBy($"symbol", $"on_session")
      .agg(count(lit(1)).as("n_trades"),
        round(sum($"value"
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))), 2)
          .cast("double").as("notional"),
        decRound(avg(coalesce($"sfx", lit(0.0))), 6).as("avg_log_adj"))
  }

  val q143Sql: String =
    """WITH su AS (
      |  SELECT user_id, ts, event_id, value FROM (
      |    SELECT user_id, ts, event_id, value,
      |      row_number() OVER (PARTITION BY user_id, ts
      |        ORDER BY event_id DESC) AS dup
      |    FROM events WHERE event_type = 'signup')
      |  WHERE dup = 1),
      |x AS (
      |  SELECT user_id, ts AS eff_from,
      |    'SYM-' || user_id || '-' ||
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS symbol
      |  FROM su),
      |actions AS (
      |  SELECT user_id, ts,
      |    sum(ln(1.0 + value / 1000.0)) OVER (PARTITION BY user_id
      |      ORDER BY ts DESC ROWS UNBOUNDED PRECEDING) AS sfx
      |  FROM su),
      |t AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
      |ws AS (
      |  SELECT t.user_id, t.ts, t.value, x.symbol
      |  FROM t ASOF JOIN x
      |    ON t.user_id = x.user_id AND t.ts >= x.eff_from),
      |en AS (
      |  SELECT ws.*, a.sfx,
      |    CASE WHEN isodow(ws.ts) BETWEEN 1 AND 5
      |          AND extract(day FROM ws.ts) <> 1 THEN 1 ELSE 0 END
      |      AS on_session
      |  FROM ws LEFT JOIN LATERAL (
      |    SELECT sfx FROM actions a
      |    WHERE a.user_id = ws.user_id AND a.ts >= ws.ts
      |    ORDER BY a.ts ASC LIMIT 1) a ON true)
      |SELECT symbol, on_session, count(*) AS n_trades,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
      |    AS notional,
      |  CAST(round(CAST(avg(coalesce(sfx, 0.0)) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS avg_log_adj
      |FROM en GROUP BY symbol, on_session""".stripMargin

  val q138Sql: String =
    """WITH base AS (
      |  SELECT user_id,
      |    date_trunc('day', ts) - (event_id % 3) * INTERVAL 1 DAY AS day,
      |    ts, event_id, value
      |  FROM events),
      |k AS (SELECT date_trunc('day', max(ts)) AS kts FROM base),
      |iv AS (
      |  SELECT user_id, day, ts, value,
      |    lead(ts) OVER (PARTITION BY user_id, day ORDER BY ts, event_id)
      |      AS tx_to
      |  FROM base),
      |fin AS (
      |  SELECT user_id, day, value AS final_value FROM iv WHERE tx_to IS NULL),
      |known AS (
      |  SELECT user_id, day, value AS known_value FROM iv, k
      |  WHERE ts <= kts AND (tx_to IS NULL OR kts < tx_to)),
      |stats AS (
      |  SELECT user_id, day, count(*) AS n_corrections,
      |    CAST(sum(CASE WHEN ts > (SELECT kts FROM k) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_late
      |  FROM base GROUP BY 1, 2)
      |SELECT s.user_id, s.day, f.final_value, kn.known_value,
      |  s.n_corrections, s.n_late,
      |  CASE WHEN kn.known_value IS NOT NULL
      |        AND kn.known_value <> f.final_value THEN 1 ELSE 0 END AS revised
      |FROM stats s
      |JOIN fin f ON s.user_id = f.user_id AND s.day = f.day
      |LEFT JOIN known kn ON s.user_id = kn.user_id AND s.day = kn.day""".stripMargin

  /** q145_factor_decomposition — split vs dividend adjustment series:
    * the q136 action feed split into TWO action types (even event_id =
    * split, factor 1 + value/1000; odd = cash dividend, reinvestment
    * factor 1 + value/2000 — the deterministic stand-in convention of
    * q138), producing the standard PAIR of adjusted outputs: the
    * price-only series multiplies in only future splits (charts,
    * stop-loss levels), the total-return series multiplies in splits
    * AND dividends (performance, index replication). Both suffix
    * log-factors compose in ONE descending window pass — two sums
    * over the same (user, ts desc) spec share the exchange and sort —
    * and bars pick BOTH up through one forward as-of join (two value
    * columns in the same ride-along struct), so the whole
    * decomposition costs exactly what q136's single series cost:
    * O(bars + actions), one keyed shuffle, no action×bar product.
    * Log space at 6dp + exp-applied closes at 4dp (q25 discipline).
    */
  def q145FactorDecomposition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val wBar = Window.partitionBy($"user_id", $"day")
      .orderBy($"ts".desc, $"event_id".desc)
    val bars = ev.filter($"event_type" === "purchase")
      .select($"user_id", date_trunc("day", $"ts").as("day"),
        $"ts", $"event_id", $"value")
      .withColumn("rn", row_number().over(wBar)).filter($"rn" === 1)
      .select($"user_id", $"day", $"value".as("close"),
        ($"day" + expr("interval 1 day")).as("bar_end"))
    val wDedup = Window.partitionBy($"user_id", $"ts").orderBy($"event_id".desc)
    val wSfx = Window.partitionBy($"user_id").orderBy($"ts".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val actions = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"event_id", $"value")
      .withColumn("dup", row_number().over(wDedup)).filter($"dup" === 1)
      .withColumn("lf_split",
        when($"event_id" % 2 === 0, log(lit(1.0) + $"value" / 1000.0))
          .otherwise(lit(0.0)))
      .withColumn("lf_div",
        when($"event_id" % 2 =!= 0, log(lit(1.0) + $"value" / 2000.0))
          .otherwise(lit(0.0)))
      // one pass: both suffix sums share wSfx's exchange + sort
      .withColumn("sfx_px", sum($"lf_split").over(wSfx))
      .withColumn("sfx_tr", sum($"lf_split" + $"lf_div").over(wSfx))
      .select($"user_id", $"ts", $"sfx_px", $"sfx_tr")
    AsOf.join(bars, actions, key = "user_id",
        leftTs = "bar_end", rightTs = "ts",
        rightVals = Seq("sfx_px" -> "sfx_px", "sfx_tr" -> "sfx_tr"),
        inner = false, direction = "forward")
      .select($"user_id", $"day", $"close",
        decRound(coalesce($"sfx_px", lit(0.0)), 6).as("log_adj_px"),
        decRound(coalesce($"sfx_tr", lit(0.0)), 6).as("log_adj_tr"),
        decRound($"close" * exp(coalesce($"sfx_px", lit(0.0))), 4)
          .as("adj_close_px"),
        decRound($"close" * exp(coalesce($"sfx_tr", lit(0.0))), 4)
          .as("adj_close_tr"))
  }

  val q145Sql: String =
    """WITH bars AS (
      |  SELECT user_id, day, value AS close, day + INTERVAL 1 DAY AS bar_end
      |  FROM (
      |    SELECT user_id, date_trunc('day', ts) AS day, value,
      |      row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_type = 'purchase')
      |  WHERE rn = 1),
      |su AS (
      |  SELECT user_id, ts,
      |    CASE WHEN event_id % 2 = 0
      |      THEN ln(1.0 + value / 1000.0) ELSE 0.0 END AS lf_split,
      |    CASE WHEN event_id % 2 <> 0
      |      THEN ln(1.0 + value / 2000.0) ELSE 0.0 END AS lf_div
      |  FROM (
      |    SELECT user_id, ts, event_id, value,
      |      row_number() OVER (PARTITION BY user_id, ts
      |        ORDER BY event_id DESC) AS dup
      |    FROM events WHERE event_type = 'signup')
      |  WHERE dup = 1),
      |actions AS (
      |  SELECT user_id, ts,
      |    sum(lf_split) OVER (PARTITION BY user_id ORDER BY ts DESC
      |      ROWS UNBOUNDED PRECEDING) AS sfx_px,
      |    sum(lf_split + lf_div) OVER (PARTITION BY user_id ORDER BY ts DESC
      |      ROWS UNBOUNDED PRECEDING) AS sfx_tr
      |  FROM su)
      |SELECT b.user_id, CAST(b.day AS TIMESTAMP) AS day, b.close,
      |  CAST(round(CAST(coalesce(a.sfx_px, 0.0) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS log_adj_px,
      |  CAST(round(CAST(coalesce(a.sfx_tr, 0.0) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS log_adj_tr,
      |  CAST(round(CAST(b.close * exp(coalesce(a.sfx_px, 0.0))
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS adj_close_px,
      |  CAST(round(CAST(b.close * exp(coalesce(a.sfx_tr, 0.0))
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS adj_close_tr
      |FROM bars b LEFT JOIN LATERAL (
      |  SELECT sfx_px, sfx_tr FROM actions a
      |  WHERE a.user_id = b.user_id AND a.ts >= b.bar_end
      |  ORDER BY a.ts ASC LIMIT 1) a ON true""".stripMargin

  /** Exchange reference dim for the timezone-aware calendar (q144):
    * securities map to exchanges by id hash; each exchange carries its
    * IANA timezone and a deterministic holiday rule (the day-of-month
    * its synthetic holiday list marks). Three rows — the broadcast /
    * local-relation end of every calendar join.
    */
  def exchangeDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (0, "XNYS", "America/New_York", 1),
      (1, "XLON", "Europe/London", 15),
      (2, "XTKS", "Asia/Tokyo", 8)
    ).toDF("ex_id", "exch", "tz", "hol_dom")
  }

  /** q144_exchange_calendar — the q137 completeness audit keyed to
    * EXCHANGE-LOCAL time: each security trades on an exchange whose
    * sessions are local-calendar days, so "weekday" and "holiday" are
    * decided on the wall clock of the exchange's IANA timezone, not
    * UTC (a Friday 23:00 UTC trade is Saturday in Tokyo — off
    * session). The machinery: a 3-row exchange dim (tz + holiday
    * rule), from_utc_timestamp per event against the dim's tz column,
    * an explicit per-exchange holiday LIST built over each exchange's
    * own local-day span (broadcast table, anti-joined — a real
    * holiday file drops in without touching the plan), and the same
    * spine/present/missing audit as q137 per exchange. The fact scan
    * shuffles once (the per-exchange aggregate); every calendar frame
    * is model-sized and broadcast. Oracle: DuckDB
    * timezone(tz, timezone('UTC', ts)) — the AT TIME ZONE two-step.
    */
  /** The synthetic rule-derived holiday list as a REAL file would
    * carry it — one (exch, local_day) row per exchange holiday. This
    * is exactly the frame [[q144ExchangeCalendar]]'s `holidayFile`
    * parameter accepts, so the spec can round-trip it through the
    * [[graft.sources.Ingest.holidayCsv]] loader and prove a
    * file-sourced calendar drops in without a plan change.
    */
  def q144HolidayList(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ex = exchangeDim(spark)
    q144SpanDays(spark, dir)
      .join(broadcast(ex.select($"ex_id", $"exch", $"hol_dom")), "ex_id")
      .filter(dayofmonth($"local_day") === $"hol_dom")
      .select($"exch", $"local_day")
  }

  private def q144Tagged(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"user_id", $"ts")
      .withColumn("ex_id", pmod($"user_id", lit(3)).cast("int"))
      .join(broadcast(exchangeDim(spark)), "ex_id")
      .withColumn("local_day",
        date_trunc("day", from_utc_timestamp($"ts", $"tz")))
  }

  // per-exchange local-day span -> candidate days (tiny: 3 x span)
  private def q144SpanDays(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    q144Tagged(spark, dir).groupBy($"ex_id")
      .agg(min($"local_day").as("mn"), max($"local_day").as("mx"))
      .select($"ex_id",
        explode(sequence($"mn", $"mx", expr("interval 1 day"))).as("local_day"))
  }

  /** @param holidayFile an externally loaded (exch, local_day) holiday
    *                    calendar (e.g. [[graft.sources.Ingest.holidayCsv]]);
    *                    None derives the synthetic day-of-month rule.
    *                    Either way the list is a model-sized broadcast
    *                    anti-join — the plan does not change.
    */
  def q144ExchangeCalendar(spark: SparkSession, dir: String,
                           holidayFile: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val ex = exchangeDim(spark)
    val tagged = q144Tagged(spark, dir)
    val spanDays = q144SpanDays(spark, dir)
    // the holiday LIST: one row per (exchange, holiday local day)
    val holidays = holidayFile match {
      case Some(h) => h
        .join(broadcast(ex.select($"ex_id", $"exch")), "exch")
        .select($"ex_id", $"local_day")
      case None => spanDays
        .join(broadcast(ex.select($"ex_id", $"hol_dom")), "ex_id")
        .filter(dayofmonth($"local_day") === $"hol_dom")
        .select($"ex_id", $"local_day")
    }
    val sessions = spanDays
      .filter(dayofweek($"local_day").between(2, 6))
      .join(broadcast(holidays), Seq("ex_id", "local_day"), "left_anti")
    // classify every event against the session set of ITS exchange
    val classified = tagged
      .join(broadcast(sessions.withColumn("on", lit(1))),
        Seq("ex_id", "local_day"), "left")
      .withColumn("on_session", coalesce($"on", lit(0)))
    val evAgg = classified.groupBy($"ex_id", $"exch")
      .agg(count(lit(1)).as("n_events"),
        sum($"on_session").as("n_on"),
        (count(lit(1)) - sum($"on_session")).as("n_off"),
        countDistinct(when($"on_session" === 1, $"local_day")).as("n_present"))
    val nExp = sessions.groupBy($"ex_id").agg(count(lit(1)).as("n_expected"))
    evAgg.join(broadcast(nExp), "ex_id")
      .select($"exch", $"n_events", $"n_on", $"n_off", $"n_expected",
        $"n_present", ($"n_expected" - $"n_present").as("n_missing"))
  }

  val q144Sql: String =
    """WITH ex(ex_id, exch, tz, hol_dom) AS (
      |  VALUES (0, 'XNYS', 'America/New_York', 1),
      |         (1, 'XLON', 'Europe/London', 15),
      |         (2, 'XTKS', 'Asia/Tokyo', 8)),
      |loc AS (
      |  SELECT e.ex_id, e.exch,
      |    date_trunc('day', timezone(e.tz, timezone('UTC', v.ts)))
      |      AS local_day
      |  FROM events v JOIN ex e ON CAST(v.user_id % 3 AS INT) = e.ex_id),
      |spanx AS (
      |  SELECT ex_id, min(local_day) AS mn, max(local_day) AS mx
      |  FROM loc GROUP BY 1),
      |days AS (
      |  SELECT ex_id,
      |    unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS local_day
      |  FROM spanx),
      |hol AS (
      |  SELECT d.ex_id, d.local_day
      |  FROM days d JOIN ex e ON d.ex_id = e.ex_id
      |  WHERE extract(day FROM d.local_day) = e.hol_dom),
      |sess AS (
      |  SELECT d.ex_id, d.local_day FROM days d
      |  WHERE isodow(d.local_day) BETWEEN 1 AND 5
      |    AND NOT EXISTS (SELECT 1 FROM hol h
      |      WHERE h.ex_id = d.ex_id AND h.local_day = d.local_day)),
      |cls AS (
      |  SELECT l.ex_id, l.exch, l.local_day,
      |    CASE WHEN s.local_day IS NULL THEN 0 ELSE 1 END AS on_session
      |  FROM loc l LEFT JOIN sess s
      |    ON s.ex_id = l.ex_id AND s.local_day = l.local_day),
      |ea AS (
      |  SELECT ex_id, exch, CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(on_session) AS BIGINT) AS n_on,
      |    CAST(count(*) - sum(on_session) AS BIGINT) AS n_off,
      |    CAST(count(DISTINCT CASE WHEN on_session = 1 THEN local_day END)
      |      AS BIGINT) AS n_present
      |  FROM cls GROUP BY 1, 2),
      |ne AS (SELECT ex_id, CAST(count(*) AS BIGINT) AS n_expected
      |       FROM sess GROUP BY 1)
      |SELECT ea.exch, ea.n_events, ea.n_on, ea.n_off, ne.n_expected,
      |  ea.n_present, ne.n_expected - ea.n_present AS n_missing
      |FROM ea JOIN ne ON ea.ex_id = ne.ex_id""".stripMargin

  /** q147_fifo_pnl — FIFO lot-matching realized P&L and open-inventory
    * cost: 'click' rows are buy lots, 'purchase' rows are sell lots
    * (qty from the props payload, price from value), matched
    * first-in-first-out per user. The matching itself is the
    * cumulative-quantity interval trick: each lot occupies the
    * half-open interval [cum−qty, cum) in its side's running total,
    * and FIFO matched quantity between a buy and a sell is EXACTLY the
    * overlap of their intervals — so the sequential "consume lots in
    * order" loop becomes one keyed equi-join (user) with a range
    * residual, no iteration, no UDF. A buy overlaps a contiguous run
    * of sells, so output pairs are O(nb+ns) per user; the join itself
    * is bounded by per-user pair volume and shuffles on the
    * high-cardinality user key — the 100-TB plan. Unsold inventory
    * falls out of the same frame: open qty of a buy lot is its
    * interval beyond the user's total sold. FP discipline: prices are
    * latticed to DECIMAL(28,12) before any arithmetic, so every P&L
    * term and sum is exact-decimal (order-independent) and only the
    * final emission rounds to a double — no cross-engine sum-order
    * drift by construction.
    */
  def q147FifoPnl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val propsSchema = StructType(Seq(StructField("k", LongType)))
    val trades = Tables.events(spark, dir)
      .filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"ts", $"event_id",
        from_json($"props", propsSchema).getField("k").as("qty"),
        // (18,6) lattice (not the usual 28,12): qty × price products must
        // stay inside DECIMAL(38) under BOTH engines' promotion rules
        // (DuckDB multiply = p1+p2, which overflows 38 from a (28,12))
        $"value".cast(DecimalType(18, 6)).as("price"),
        when($"event_type" === "click", lit("B")).otherwise(lit("S"))
          .as("side"))
      .filter($"qty" > 0)
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def lots(side: String, pfx: String): DataFrame =
      trades.filter($"side" === side)
        .withColumn("e", sum($"qty").over(w))
        .select($"user_id", ($"e" - $"qty").as(s"${pfx}_start"),
          $"e".as(s"${pfx}_end"), $"price".as(s"${pfx}_price"))
    val buys = lots("B", "b")
    val sells = lots("S", "s")
    val matched = buys.join(sells,
        buys("user_id") === sells("user_id") &&
          $"b_start" < $"s_end" && $"s_start" < $"b_end")
      .select(buys("user_id"),
        (least($"b_end", $"s_end") - greatest($"b_start", $"s_start"))
          .as("mq"),
        ($"s_price" - $"b_price").as("dp"))
      .groupBy($"user_id")
      .agg(sum($"mq").as("matched_qty"),
        sum($"mq".cast(DecimalType(14, 0)) * $"dp").as("pnl"))
    val sold = sells.groupBy($"user_id")
      .agg(max($"s_end").as("sold"))
    val open = buys.join(sold, Seq("user_id"), "left")
      .withColumn("oq", greatest(lit(0L),
        $"b_end" - greatest($"b_start", coalesce($"sold", lit(0L)))))
      .groupBy($"user_id")
      .agg(sum($"oq").as("open_qty"),
        sum($"oq".cast(DecimalType(14, 0)) * $"b_price").as("open_cost"))
    trades.select($"user_id").distinct()
      .join(matched, Seq("user_id"), "left")
      .join(open, Seq("user_id"), "left")
      .select($"user_id",
        coalesce($"matched_qty", lit(0L)).cast("long").as("matched_qty"),
        decRound(coalesce($"pnl", lit(0)), 4).as("realized_pnl"),
        coalesce($"open_qty", lit(0L)).cast("long").as("open_qty"),
        decRound(coalesce($"open_cost", lit(0)), 4).as("open_cost"))
  }

  val q147Sql: String =
    """WITH t AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(json_extract(props, '$.k') AS BIGINT) AS qty,
      |    CAST(value AS DECIMAL(18,6)) AS price,
      |    CASE WHEN event_type = 'click' THEN 'B' ELSE 'S' END AS side
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |    AND CAST(json_extract(props, '$.k') AS BIGINT) > 0),
      |b AS (
      |  SELECT user_id, price AS b_price,
      |    CAST(sum(qty) OVER w - qty AS BIGINT) AS b_start,
      |    CAST(sum(qty) OVER w AS BIGINT) AS b_end
      |  FROM t WHERE side = 'B'
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s AS (
      |  SELECT user_id, price AS s_price,
      |    CAST(sum(qty) OVER w - qty AS BIGINT) AS s_start,
      |    CAST(sum(qty) OVER w AS BIGINT) AS s_end
      |  FROM t WHERE side = 'S'
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |m AS (
      |  SELECT b.user_id,
      |    CAST(least(b.b_end, s.s_end) - greatest(b.b_start, s.s_start)
      |      AS BIGINT) AS mq,
      |    s.s_price - b.b_price AS dp
      |  FROM b JOIN s ON b.user_id = s.user_id
      |    AND b.b_start < s.s_end AND s.s_start < b.b_end),
      |magg AS (
      |  SELECT user_id, sum(mq) AS matched_qty,
      |    sum(CAST(mq AS DECIMAL(14,0)) * dp) AS pnl
      |  FROM m GROUP BY 1),
      |sold AS (SELECT user_id, max(s_end) AS sold FROM s GROUP BY 1),
      |oagg AS (
      |  SELECT b.user_id,
      |    sum(greatest(0, b.b_end - greatest(b.b_start,
      |      coalesce(sd.sold, 0)))) AS open_qty,
      |    sum(CAST(greatest(0, b.b_end - greatest(b.b_start,
      |      coalesce(sd.sold, 0))) AS DECIMAL(14,0)) * b.b_price)
      |      AS open_cost
      |  FROM b LEFT JOIN sold sd ON b.user_id = sd.user_id
      |  GROUP BY 1),
      |base AS (SELECT DISTINCT user_id FROM t)
      |SELECT base.user_id,
      |  CAST(coalesce(magg.matched_qty, 0) AS BIGINT) AS matched_qty,
      |  CAST(round(CAST(coalesce(magg.pnl, 0) AS DECIMAL(38,12)), 4)
      |    AS DOUBLE) AS realized_pnl,
      |  CAST(coalesce(oagg.open_qty, 0) AS BIGINT) AS open_qty,
      |  CAST(round(CAST(coalesce(oagg.open_cost, 0) AS DECIMAL(38,12)), 4)
      |    AS DOUBLE) AS open_cost
      |FROM base
      |LEFT JOIN magg ON base.user_id = magg.user_id
      |LEFT JOIN oagg ON base.user_id = oagg.user_id""".stripMargin

  /** q148_fx_normalize — multi-currency as-of normalization: trades in
    * four local currencies (user_id-derived), a per-currency rate feed
    * (signup events, deduped to point-in-time-latest per instant, the
    * q29 shape), each trade converted at the rate in effect AT trade
    * time, rolled up per (currency, day). The as-of key here is
    * LOW-cardinality (4 currencies) — exactly where the keyed window
    * as-of would serialize each currency's entire fact partition into
    * one task — so the resolve runs as [[AsOf.broadcastJoin]] with its
    * new per-key intervalization: the rate dim broadcasts, the fact
    * side never shuffles until the final (ccy, day) rollup. The rate
    * dim here is FACT-DERIVED (grows with events), so the broadcast is
    * legal only under the operator's stats guard: past
    * [[AsOf.BroadcastDimByteLimit]] the operator itself degrades to
    * the keyed window as-of (slower, never OOM) — the fallback is
    * spec-proven identical and priced by the bench's x_fx_window
    * forced entry via `dimBroadcast`. Per-row
    * USD conversion is one IEEE double divide (bit-identical across
    * engines); the division results are latticed to DECIMAL(28,12)
    * before summing, so the rollup is order-independent exact.
    */
  def q148FxNormalize(spark: SparkSession, dir: String,
                      dimBroadcast: Option[Boolean] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val ev = Tables.events(spark, dir)
      .withColumn("ccy", element_at(
        array(lit("USD"), lit("EUR"), lit("JPY"), lit("GBP")),
        ($"user_id" % 4).cast("int") + 1))
    val rates = ev.filter($"event_type" === "signup" && $"value" > 0)
      .groupBy($"ccy", $"ts")
      .agg(max_by($"value", $"event_id").as("rate"))
    // spread the streamed side: the broadcast as-of probe is
    // compute-dense here (each trade range-scans its currency's whole
    // rate curve — only 4 keys), and the purchase slice arrives as one
    // parquet split, serializing that compute into a single task
    // (see Ann.spreadForCompute — no-op once the slice has a split
    // per core)
    val trades = graft.operators.Ann.spreadForCompute(
      ev.filter($"event_type" === "purchase")
        .select($"event_id", $"ccy", $"ts", $"value".as("amount")))
    AsOf.broadcastJoin(trades, rates, leftTs = "ts", rightTs = "ts",
        rightVals = Seq("rate" -> "rate"), inner = true, key = Some("ccy"),
        dimBroadcast = dimBroadcast)
      .groupBy($"ccy", date_trunc("day", $"ts").as("day"))
      .agg(count(lit(1)).as("n_trades"),
        decRound(sum(($"amount" / $"rate").cast(DecimalType(28, 12))), 4)
          .as("total_usd"))
  }

  val q148Sql: String =
    """WITH e AS (
      |  SELECT *, ['USD','EUR','JPY','GBP'][CAST(user_id % 4 AS INT) + 1]
      |    AS ccy
      |  FROM events),
      |r AS (
      |  SELECT ccy, ts, arg_max(value, event_id) AS rate
      |  FROM e WHERE event_type = 'signup' AND value > 0
      |  GROUP BY ccy, ts),
      |t AS (
      |  SELECT event_id, ccy, ts, value AS amount
      |  FROM e WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT t.ccy, t.ts, t.amount, r.rate
      |  FROM t ASOF JOIN r ON t.ccy = r.ccy AND t.ts >= r.ts)
      |SELECT ccy, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |  CAST(count(*) AS BIGINT) AS n_trades,
      |  CAST(round(sum(CAST(amount / rate AS DECIMAL(28,12))), 4) AS DOUBLE)
      |    AS total_usd
      |FROM j GROUP BY 1, 2""".stripMargin

  /** q149_survivorship — survivorship-bias quantification: the reason
    * a securities master keeps point-in-time universes at all. Per
    * week, compare (a) the PIT backtest — that week's revenue summed
    * over the members selected AS OF that week (q142's universe) —
    * against (b) the naive backtest — the same week's revenue summed
    * over the FINAL week's members applied retroactively (the classic
    * look-ahead mistake). The delta IS the bias. Weekly revenue is
    * decimal-latticed (q142's discipline) so both sums and their
    * difference are exact; the final-week membership is 5 rows,
    * broadcast. Window ranks run over the aggregated |wk|×|part|
    * frame, never fact cardinality.
    */
  def q149Survivorship(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wRank = Window.partitionBy($"wk").orderBy($"rev".desc, $"l_partkey")
    // the (week, part) revenue roll-up is consumed FOUR times (the
    // membership window, the lastWk scalar, the pit join, the naive
    // join) — without a lineage cut each consumer re-ran the full
    // lineitem scan + aggregation. One eager layout-keeping checkpoint
    // (the frame is weeks×parts sized, far smaller than the tape)
    // materializes it once; its hash(wk, l_partkey) layout then feeds
    // the pit join's equi-keys with no re-shuffle. members (≤ 5 rows
    // per week) is checkpointed for the same reason: three consumers,
    // one of them a driver scalar.
    val rev = Tables.lineitem(spark, dir)
      .groupBy(date_trunc("week", $"l_shipdate").as("wk"), $"l_partkey")
      .agg(decRound(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
        .cast(DecimalType(18, 4)).as("rev"))
      .localCheckpoint(eager = true)
    val members = rev.withColumn("rk", row_number().over(wRank))
      .filter($"rk" <= 5).select($"wk", $"l_partkey")
      .localCheckpoint(eager = true)
    val lastWk = members.agg(max($"wk")).first().getTimestamp(0)
    val finalMembers = members.filter($"wk" === lit(lastWk))
      .select($"l_partkey").withColumn("in_final", lit(1))
    val pit = members.join(rev, Seq("wk", "l_partkey"))
      .groupBy($"wk").agg(sum($"rev").as("pit_rev"))
    val naive = rev.join(broadcast(finalMembers), Seq("l_partkey"))
      .groupBy($"wk").agg(sum($"rev").as("naive_rev"),
        count(lit(1)).as("n_final_present"))
    pit.join(naive, Seq("wk"), "left")
      .select($"wk",
        decRound($"pit_rev", 4).as("pit_rev"),
        decRound(coalesce($"naive_rev", lit(0)), 4).as("naive_rev"),
        coalesce($"n_final_present", lit(0L)).cast("long")
          .as("n_final_present"),
        decRound(coalesce($"naive_rev", lit(0)) - $"pit_rev", 4)
          .as("bias"))
  }

  val q149Sql: String =
    """WITH rev AS (
      |  SELECT date_trunc('week', l_shipdate) AS wk, l_partkey,
      |    CAST(CAST(round(CAST(sum(l_extendedprice * (1.0 - l_discount))
      |      AS DECIMAL(28,12)), 4) AS DOUBLE) AS DECIMAL(18,4)) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |members AS (
      |  SELECT wk, l_partkey FROM (
      |    SELECT wk, l_partkey,
      |      row_number() OVER (PARTITION BY wk ORDER BY rev DESC, l_partkey)
      |        AS rk
      |    FROM rev) WHERE rk <= 5),
      |finalm AS (
      |  SELECT l_partkey FROM members
      |  WHERE wk = (SELECT max(wk) FROM members)),
      |pit AS (
      |  SELECT m.wk, sum(r.rev) AS pit_rev
      |  FROM members m JOIN rev r
      |    ON m.wk = r.wk AND m.l_partkey = r.l_partkey
      |  GROUP BY m.wk),
      |naive AS (
      |  SELECT r.wk, sum(r.rev) AS naive_rev,
      |    count(*) AS n_final_present
      |  FROM rev r JOIN finalm f ON r.l_partkey = f.l_partkey
      |  GROUP BY r.wk)
      |SELECT CAST(p.wk AS TIMESTAMP) AS wk,
      |  CAST(round(CAST(p.pit_rev AS DECIMAL(28,12)), 4) AS DOUBLE)
      |    AS pit_rev,
      |  CAST(round(CAST(coalesce(n.naive_rev, 0) AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS naive_rev,
      |  CAST(coalesce(n.n_final_present, 0) AS BIGINT) AS n_final_present,
      |  CAST(round(CAST(coalesce(n.naive_rev, 0) - p.pit_rev
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS bias
      |FROM pit p LEFT JOIN naive n ON p.wk = n.wk""".stripMargin

  /** q151_bbo — best-bid/offer reconstruction from a quote stream: the
    * events feed plays a per-instrument (user_id) quote tape, the
    * even/odd event_id split derives the side (the q145 second-column
    * convention — even = bid update, odd = ask update), and each
    * update REPLACES its side of the book. Every event then carries
    * the book state at that instant: latest bid, latest ask, their
    * spread, and a crossed-book flag (bid >= ask — the data-quality
    * signal a real consolidated tape monitors).
    *
    * Scale plan: one keyed window per instrument (the same
    * partition-by-key sort every as-of rides), running
    * last(..., ignoreNulls) for each side — O(n) per partition,
    * no self-join, no state explosion: the "book" here is the
    * two-level BBO, so the carried state is two doubles. spread is a
    * single subtraction of the two picked doubles — bit-identical
    * across engines, no rounding needed. The streaming twin (s25)
    * replays the identical recurrence in [[graft.streaming.Streams]].
    */
  def q151Bbo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter($"value" > 0)
      .select($"user_id", $"ts", $"event_id",
        when($"event_id" % 2 === 0, $"value").as("bid_px"),
        when($"event_id" % 2 =!= 0, $"value").as("ask_px"))
      .withColumn("best_bid", last($"bid_px", ignoreNulls = true).over(w))
      .withColumn("best_ask", last($"ask_px", ignoreNulls = true).over(w))
      .select($"event_id", $"user_id", $"ts", $"best_bid", $"best_ask",
        ($"best_ask" - $"best_bid").as("spread"),
        ($"best_bid" >= $"best_ask").cast("int").as("crossed"))
  }

  val q151Sql: String =
    """WITH q AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN event_id % 2 = 0 THEN value END AS bid_px,
      |    CASE WHEN event_id % 2 <> 0 THEN value END AS ask_px
      |  FROM events WHERE value > 0),
      |b AS (
      |  SELECT event_id, user_id, ts,
      |    last_value(bid_px IGNORE NULLS) OVER w AS best_bid,
      |    last_value(ask_px IGNORE NULLS) OVER w AS best_ask
      |  FROM q
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |  best_bid, best_ask,
      |  best_ask - best_bid AS spread,
      |  CAST(best_bid >= best_ask AS INT) AS crossed
      |FROM b""".stripMargin

  /** q152_book_depth — multi-level depth-of-book over the quote tape:
    * at every event, the top-3 bid levels (highest) and top-3 ask
    * levels (lowest) among the trailing 50 quote events of that
    * instrument — the depth ladder a consolidated feed publishes next
    * to the BBO (q151), with the trailing-window bound playing the
    * role of order expiry (no cancel stream exists in a quote tape).
    *
    * Scale plan: a BOUNDED sliding frame (ROWS 49 PRECEDING) over the
    * same per-instrument keyed sort q151 pays — collect_list skips the
    * other side's NULLs, sort+slice is O(50 log 50) row-local, so the
    * whole ladder is O(n·50) per partition with two-double-digit
    * constants, never O(n²): the frame bound is what makes running
    * top-k window-safe at 100 TB. Levels emit as 6 scalar columns
    * (try_element_at → NULL when fewer quotes exist), so the oracle
    * hash needs no array support; values are picked doubles, no
    * rounding needed. Streaming twin s26 carries the ≤50-quote ring
    * buffer as state.
    */
  def q152BookDepth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w50 = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-49, Window.currentRow)
    Tables.events(spark, dir)
      .filter($"value" > 0)
      .select($"user_id", $"ts", $"event_id",
        when($"event_id" % 2 === 0, $"value").as("bid_px"),
        when($"event_id" % 2 =!= 0, $"value").as("ask_px"))
      .withColumn("bids", array_sort(collect_list($"bid_px").over(w50)))
      .withColumn("asks", array_sort(collect_list($"ask_px").over(w50)))
      .select($"event_id", $"user_id", $"ts",
        expr("try_element_at(bids, -1)").as("bid1"),
        expr("try_element_at(bids, -2)").as("bid2"),
        expr("try_element_at(bids, -3)").as("bid3"),
        expr("try_element_at(asks, 1)").as("ask1"),
        expr("try_element_at(asks, 2)").as("ask2"),
        expr("try_element_at(asks, 3)").as("ask3"),
        size($"bids").as("depth_bid"), size($"asks").as("depth_ask"))
  }

  val q152Sql: String =
    """WITH q AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN event_id % 2 = 0 THEN value END AS bid_px,
      |    CASE WHEN event_id % 2 <> 0 THEN value END AS ask_px
      |  FROM events WHERE value > 0),
      |w AS (
      |  SELECT event_id, user_id, ts,
      |    list_sort(list_filter(list(bid_px) OVER w50, x -> x IS NOT NULL))
      |      AS bids,
      |    list_sort(list_filter(list(ask_px) OVER w50, x -> x IS NOT NULL))
      |      AS asks
      |  FROM q
      |  WINDOW w50 AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 49 PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |  bids[-1] AS bid1, bids[-2] AS bid2, bids[-3] AS bid3,
      |  asks[1] AS ask1, asks[2] AS ask2, asks[3] AS ask3,
      |  CAST(len(bids) AS INT) AS depth_bid,
      |  CAST(len(asks) AS INT) AS depth_ask
      |FROM w""".stripMargin

  /** Per-trade signs for q153 — exposed separately so the streaming
    * twin's differential can compare trade-by-trade, not just the
    * rollup. Purchases are the TRADES; every other positive-value
    * event is a QUOTE (even/odd side, the q151 convention). Each
    * trade classifies against the BBO midpoint in effect AT trade
    * time (quote test), falling back to the tick test (sign of the
    * price change vs the previous trade; a zero-tick carries the last
    * non-zero direction) when the midpoint is absent or hit exactly —
    * the classic Lee–Ready composition of quote-rule + tick-rule.
    */
  def q153TradeSigns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).filter($"value" > 0)
    // BBO state series from the quote tape (q151 recurrence), deduped
    // to the post-instant state per (user, ts) so the as-of right side
    // meets the distinct-(key, rts) contract
    val wQ = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDedup = Window.partitionBy($"user_id", $"ts")
      .orderBy($"event_id".desc)
    val bbo = ev.filter($"event_type" =!= "purchase")
      .select($"user_id", $"ts", $"event_id",
        when($"event_id" % 2 === 0, $"value").as("bid_px"),
        when($"event_id" % 2 =!= 0, $"value").as("ask_px"))
      .withColumn("bb", last($"bid_px", ignoreNulls = true).over(wQ))
      .withColumn("ba", last($"ask_px", ignoreNulls = true).over(wQ))
      .withColumn("__rn", row_number().over(wDedup))
      .filter($"__rn" === 1)
      .select($"user_id", $"ts", $"bb", $"ba")
    val trades = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value".as("px"))
    val withMid = AsOf.join(trades, bbo, key = "user_id",
        leftTs = "ts", rightTs = "ts",
        rightVals = Seq("bb" -> "bb", "ba" -> "ba"), inner = false)
      .withColumn("mid",
        when($"bb".isNotNull && $"ba".isNotNull, ($"bb" + $"ba") / 2))
    // tick rule: direction of the price change vs the previous trade,
    // zero-ticks carrying the last non-zero direction forward
    val wT = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLag = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    withMid
      .withColumn("__prev", lag($"px", 1).over(wLag))
      .withColumn("__dir",
        when($"px" > $"__prev", 1).when($"px" < $"__prev", -1))
      .withColumn("__eff", last($"__dir", ignoreNulls = true).over(wT))
      .withColumn("sign",
        when($"mid".isNotNull && $"px" > $"mid", 1)
          .when($"mid".isNotNull && $"px" < $"mid", -1)
          .otherwise(coalesce($"__eff", lit(0))))
      .select($"event_id", $"user_id", $"ts", $"px", $"mid", $"sign")
  }

  /** q153_trade_sign — Lee–Ready buyer/seller-initiated classification
    * rolled up per instrument: buy/sell/unclassified counts and the
    * signed notional (order-flow imbalance), the microstructure
    * aggregate a consolidated tape publishes from exactly this
    * composition. Plan: one keyed window pass for the BBO recurrence
    * (q151), ONE keyed union-window as-of (user_id is the
    * high-cardinality key — precisely where [[AsOf.join]]'s shape is
    * right and the broadcast-interval as-of would be wrong), two more
    * frames on the trade sequence for the tick rule, then a hash
    * rollup. Signed notional is latticed to DECIMAL(28,12) per trade
    * before summing, so the imbalance is order-independent exact.
    */
  def q153TradeSign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    q153TradeSigns(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_trades"),
        sum(when($"sign" === 1, 1L).otherwise(0L)).as("n_buy"),
        sum(when($"sign" === -1, 1L).otherwise(0L)).as("n_sell"),
        sum(when($"sign" === 0, 1L).otherwise(0L)).as("n_unclass"),
        decRound(sum(($"sign" * $"px").cast(DecimalType(28, 12))), 4)
          .as("signed_notional"))
  }

  val q153Sql: String =
    """WITH ev AS (SELECT * FROM events WHERE value > 0),
      |q AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN event_id % 2 = 0 THEN value END AS bid_px,
      |    CASE WHEN event_id % 2 <> 0 THEN value END AS ask_px
      |  FROM ev WHERE event_type <> 'purchase'),
      |bseries AS (
      |  SELECT user_id, ts, event_id,
      |    last_value(bid_px IGNORE NULLS) OVER w AS bb,
      |    last_value(ask_px IGNORE NULLS) OVER w AS ba
      |  FROM q
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |bbo AS (
      |  SELECT user_id, ts, bb, ba FROM (
      |    SELECT user_id, ts, bb, ba,
      |      row_number() OVER (PARTITION BY user_id, ts
      |        ORDER BY event_id DESC) AS rn
      |    FROM bseries) WHERE rn = 1),
      |t AS (
      |  SELECT event_id, user_id, ts, value AS px
      |  FROM ev WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT t.event_id, t.user_id, t.ts, t.px,
      |    CASE WHEN b.bb IS NOT NULL AND b.ba IS NOT NULL
      |      THEN (b.bb + b.ba) / 2 END AS mid
      |  FROM t ASOF LEFT JOIN bbo b
      |    ON t.user_id = b.user_id AND t.ts >= b.ts),
      |d AS (
      |  SELECT *,
      |    CASE WHEN px > lag(px) OVER wl THEN 1
      |         WHEN px < lag(px) OVER wl THEN -1 END AS dir
      |  FROM m
      |  WINDOW wl AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, px,
      |    CASE WHEN mid IS NOT NULL AND px > mid THEN 1
      |         WHEN mid IS NOT NULL AND px < mid THEN -1
      |         ELSE coalesce(last_value(dir IGNORE NULLS) OVER wt, 0)
      |    END AS sign
      |  FROM d
      |  WINDOW wt AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id,
      |  CAST(count(*) AS BIGINT) AS n_trades,
      |  CAST(sum(CASE WHEN sign = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_buy,
      |  CAST(sum(CASE WHEN sign = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sell,
      |  CAST(sum(CASE WHEN sign = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unclass,
      |  CAST(round(sum(CAST(sign * px AS DECIMAL(28,12))), 4) AS DOUBLE)
      |    AS signed_notional
      |FROM s GROUP BY user_id""".stripMargin

  /** q199_settlement — the T+2 settlement ledger: every trade
    * (purchase print) maps to its settlement SESSION — the second
    * trading day after its effective session on the q137 calendar
    * (weekdays minus the synthetic first-of-month holiday) — and the
    * ledger projects cash needs per settle day: trade count + gross
    * notional on the 2dp money lattice (exact decimal sum, the q5
    * discipline). A trade printed on a non-session day (weekend
    * prints exist in a 24/7 event tape) settles from the NEXT session
    * — the standard convention. Business-day arithmetic is integer
    * rank arithmetic on the session spine: rank(effective) + 2 looked
    * up by equi-join, never date addition.
    *
    * Scale shape: the spine is ~span-days rows — broadcast both times
    * (interval forward-match + rank lookup); the fact side never
    * shuffles before the settle-day rollup.
    */
  def q199Settlement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val trades = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select(date_trunc("day", $"ts").as("day"), $"value")
    val spine = Tables.events(spark, dir)
      .agg(date_trunc("day", min($"ts")).as("mn"),
        date_trunc("day", max($"ts")).as("mx"))
      .select(explode(sequence($"mn", $"mx", expr("interval 1 day")))
        .as("sday"))
      .filter(dayofweek($"sday").between(2, 6) && dayofmonth($"sday") =!= 1)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"sday"))
        .cast("long"))
    // each session covers (previous session, itself]: the forward
    // next-session-at-or-after match becomes a broadcast range join
    val covers = spine.withColumn("prev",
      coalesce(lag($"sday", 1).over(
        org.apache.spark.sql.expressions.Window.orderBy($"sday")),
        lit("1900-01-01").cast("timestamp")))
    val settled = trades
      .join(broadcast(covers), $"day" > $"prev" && $"day" <= $"sday")
      .select(($"rk" + 2L).as("srk"), $"value")
      .join(broadcast(spine.select($"rk".as("srk"),
        $"sday".as("settle_day"))), "srk")
    settled.groupBy($"settle_day")
      .agg(count(lit(1)).as("n_trades"),
        round(sum($"value".cast(
          org.apache.spark.sql.types.DecimalType(18, 2))), 2)
          .cast("double").as("gross_notional"))
  }

  val q199Sql: String =
    """WITH bounds AS (
      |  SELECT date_trunc('day', min(ts)) AS mn,
      |    date_trunc('day', max(ts)) AS mx FROM events),
      |spine AS (
      |  SELECT sday, CAST(row_number() OVER (ORDER BY sday) AS BIGINT)
      |    AS rk
      |  FROM (SELECT unnest(generate_series(
      |      (SELECT mn FROM bounds), (SELECT mx FROM bounds),
      |      INTERVAL 1 DAY)) AS sday)
      |  WHERE isodow(sday) BETWEEN 1 AND 5
      |    AND extract(day FROM sday) <> 1),
      |covers AS (
      |  SELECT sday, rk,
      |    coalesce(lag(sday) OVER (ORDER BY sday),
      |      TIMESTAMP '1900-01-01') AS prev
      |  FROM spine),
      |t AS (
      |  SELECT date_trunc('day', ts) AS day, value FROM events
      |  WHERE event_type = 'purchase'),
      |s AS (
      |  SELECT c.rk + 2 AS srk, t.value
      |  FROM t JOIN covers c ON t.day > c.prev AND t.day <= c.sday)
      |SELECT CAST(p.sday AS TIMESTAMP) AS settle_day,
      |  count(*) AS n_trades,
      |  CAST(round(sum(CAST(s.value AS DECIMAL(18,2))), 2) AS DOUBLE)
      |    AS gross_notional
      |FROM s JOIN spine p ON p.rk = s.srk
      |GROUP BY 1""".stripMargin

  /** q213_index_level — a divisor-continuous equal-weight price index
    * with WEEKLY reconstitution: each week's universe is the top-20
    * most-printed instruments; the raw level is the mean member close;
    * at each reconstitution the divisor rescales by (new-universe
    * mean / old-universe mean on the changeover day) so membership
    * churn never jumps the published level — the S&P-style divisor
    * mechanism, the missing piece between q142's PIT universe and any
    * index-relative analytics. Base 100 at the first day.
    * Determinism/scale: ticks collapse to daily closes once (the q202
    * shape); universes, boundary ratios and divisors live on
    * calendar-bounded frames (weeks × 20); the divisor's running
    * product is the q25 ln-sum idiom over the WEEK frame (a handful of
    * terms — drift orders below the 4dp output round); member means
    * are exact decimal sums over 6dp-latticed closes.
    */
  def q213IndexLevel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wDay = Window.partitionBy($"user_id", $"day")
      .orderBy($"ts".desc, $"event_id".desc)
    // eager cut (the q142/q149 single-materialization discipline, r17):
    // closes feeds THREE consumers (universe, member join, oldBar) and
    // each re-ran the full tape sort + close-pick window above the
    // reused exchange (QBench: wall 1.92 s / CPU 2.4 s); the frame is
    // instruments × days — tiny
    val closes = (Tables.events(spark, dir)
      .filter($"value" > 0.0)
      .select($"user_id", date_trunc("day", $"ts").as("day"),
        $"ts", $"event_id", $"value")
      .withColumn("rn", row_number().over(wDay))
      .filter($"rn" === 1)
      .select($"user_id", $"day", date_trunc("week", $"day").as("wk"),
        decRound($"value", 6).cast(DecimalType(18, 6)).as("px")))
      .localCheckpoint(true)
    val wRank = Window.partitionBy($"wk").orderBy($"n".desc, $"user_id".asc)
    val universe = closes.groupBy($"wk", $"user_id")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(wRank))
      .filter($"rk" <= 20)
      .select($"wk", $"user_id")
    val member = closes.join(universe, Seq("wk", "user_id"))
    // weeks × days rows; three consumers (firstDay, newBar, final join)
    val daily = member.groupBy($"wk", $"day")
      .agg(count(lit(1)).as("n_members"),
        (sum($"px").cast("double") / count(lit(1)).cast("double"))
          .as("rbar"))
      .localCheckpoint(true)
    // changeover day = the week's first trading day; the OLD universe's
    // mean on that same day prices the continuity ratio
    val firstDay = daily.groupBy($"wk").agg(min($"day").as("d0"))
    val oldU = universe.select(($"wk" + expr("INTERVAL 7 DAYS")).as("wk"),
      $"user_id")
    val oldBar = closes.join(oldU, Seq("wk", "user_id"))
      .join(firstDay.withColumnRenamed("d0", "day")
        .select($"wk", $"day"), Seq("wk", "day"))
      .groupBy($"wk")
      .agg((sum($"px").cast("double") / count(lit(1)).cast("double"))
        .as("obar"))
    val newBar = daily.join(firstDay, Seq("wk"))
      .filter($"day" === $"d0")
      .select($"wk", $"rbar".as("nbar"))
    val wWeeks = Window.orderBy($"wk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ratios = newBar.join(oldBar, Seq("wk"), "left_outer")
      .withColumn("lr", when($"obar".isNotNull && $"obar" > 0.0,
        decRound(log($"nbar" / $"obar"), 12)).otherwise(lit(0.0)))
      .withColumn("base", first($"nbar").over(wWeeks))
      .withColumn("first_lr",
        when(row_number().over(Window.orderBy($"wk")) === 1, lit(0.0))
          .otherwise($"lr"))
      .withColumn("ln_div",
        sum($"first_lr").over(wWeeks) + log($"base" / lit(100.0)))
      .select($"wk", $"ln_div")
    daily.join(ratios, Seq("wk"))
      .select($"day", $"n_members",
        decRound($"rbar" / exp($"ln_div"), 4).as("index_level"))
  }

  val q213Sql: String =
    """WITH c0 AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE value > 0.0),
      |closes AS (
      |  SELECT user_id, day, date_trunc('week', day) AS wk,
      |    CAST(round(CAST(value AS DECIMAL(28,12)), 6) AS DECIMAL(18,6))
      |      AS px
      |  FROM c0 WHERE rn = 1),
      |uni AS (
      |  SELECT wk, user_id FROM (
      |    SELECT wk, user_id,
      |      row_number() OVER (PARTITION BY wk
      |        ORDER BY count(*) DESC, user_id ASC) AS rk
      |    FROM closes GROUP BY wk, user_id)
      |  WHERE rk <= 20),
      |daily AS (
      |  SELECT c.wk, c.day, CAST(count(*) AS BIGINT) AS n_members,
      |    CAST(sum(c.px) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rbar
      |  FROM closes c JOIN uni USING (wk, user_id)
      |  GROUP BY 1, 2),
      |firstday AS (SELECT wk, min(day) AS d0 FROM daily GROUP BY wk),
      |oldu AS (SELECT wk + INTERVAL 7 DAY AS wk, user_id FROM uni),
      |oldbar AS (
      |  SELECT c.wk,
      |    CAST(sum(c.px) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS obar
      |  FROM closes c JOIN oldu USING (wk, user_id)
      |    JOIN firstday f ON f.wk = c.wk AND c.day = f.d0
      |  GROUP BY 1),
      |newbar AS (
      |  SELECT d.wk, d.rbar AS nbar
      |  FROM daily d JOIN firstday f ON f.wk = d.wk AND d.day = f.d0),
      |ratios AS (
      |  SELECT n.wk, n.nbar,
      |    CASE WHEN o.obar IS NOT NULL AND o.obar > 0.0
      |      THEN CAST(round(CAST(ln(n.nbar / o.obar) AS DECIMAL(28,12)),
      |        12) AS DOUBLE) ELSE 0.0 END AS lr,
      |    row_number() OVER (ORDER BY n.wk) AS wrk
      |  FROM newbar n LEFT JOIN oldbar o USING (wk)),
      |div AS (
      |  SELECT wk,
      |    sum(CASE WHEN wrk = 1 THEN 0.0 ELSE lr END)
      |      OVER (ORDER BY wk ROWS BETWEEN UNBOUNDED PRECEDING
      |        AND CURRENT ROW)
      |    + ln(first_value(nbar) OVER (ORDER BY wk ROWS BETWEEN
      |        UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0) AS ln_div
      |  FROM ratios)
      |SELECT d.day, d.n_members,
      |  CAST(round(CAST(d.rbar / exp(v.ln_div) AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS index_level
      |FROM daily d JOIN div v USING (wk)""".stripMargin
}
