package graft

import org.apache.spark.sql.functions._

/** Hand-computable fixtures for the security-master batch (q135–q138)
  * and the Bitemporal operator's late-correction contract. Value-level
  * correctness at data scale is the DuckDB oracle gate; these pin the
  * semantics on scenarios small enough to reason through.
  */
class SecurityMasterSpec extends SparkTestBase {
  import spark.implicits._

  private def writeEvents(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_synth").toString
    rows.map { case (id, us, u, t, v) => (id, us * 1000L, u, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val day = 86400L * 1000000L
  private def d(epochDay: Long, hour: Long = 0L): Long =
    epochDay * day + hour * 3600L * 1000000L
  /** Base day for fixtures given as small day indexes — keeps the
    * synthetic tape inside the loader's ts-range contract guard. */
  private val day0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay

  test("q135 symbology resolves each trade to the identifier epoch in effect at trade time") {
    // user 1: symbols minted on day 1 and day 10; trades on day 0 (no
    // symbol yet -> dropped), day 5 (epoch 1), day 12 twice (epoch 2)
    val rows = Seq(
      (1L, d(day0 + 1), 1L, "signup", 0.0),
      (2L, d(day0 + 10), 1L, "signup", 0.0),
      (3L, d(day0), 1L, "purchase", 10.0),
      (4L, d(day0 + 5), 1L, "purchase", 20.0),
      (5L, d(day0 + 12), 1L, "purchase", 30.0),
      (6L, d(day0 + 12, 6), 1L, "purchase", 40.0))
    val got = SparkEntry.queries("q135_symbology")(spark, writeEvents(rows))
      .as[(Long, String, Long, Double)].collect()
      .map(r => r._2 -> ((r._3, r._4))).toMap
    assert(got == Map("SYM-1-1" -> ((1L, 20.0)), "SYM-1-2" -> ((2L, 70.0))),
      got.toString)
  }

  test("q135 same-instant signups mint one epoch; a trade at that instant sees it, one before the first signup is dropped") {
    // signups 5 and 6 share day 1 (one epoch), signup 7 opens epoch 2;
    // trade 1 prints at day 1's instant with a LOWER event_id than
    // the signups: signups sort first at one µs, so it resolves SYM-1-1
    val rows = Seq(
      (5L, d(day0 + 1), 1L, "signup", 0.0),
      (6L, d(day0 + 1), 1L, "signup", 0.0),
      (7L, d(day0 + 3), 1L, "signup", 0.0),
      (2L, d(day0), 1L, "purchase", 5.0),
      (1L, d(day0 + 1), 1L, "purchase", 10.0),
      (3L, d(day0 + 2), 1L, "purchase", 20.0),
      (4L, d(day0 + 4), 1L, "purchase", 40.0))
    val got = SparkEntry.queries("q135_symbology")(spark, writeEvents(rows))
      .as[(Long, String, Long, Double)].collect()
      .map(r => r._2 -> ((r._3, r._4))).toMap
    assert(got == Map("SYM-1-1" -> ((2L, 30.0)), "SYM-1-2" -> ((1L, 40.0))),
      got.toString)
  }

  test("q153 signs: a quote at the trade's µs counts, a one-sided book falls back to the tick test, a zero tick carries") {
    // even event_id quotes are bids, odd are asks (q151 convention)
    val rows = Seq(
      (2L, d(day0, 1), 1L, "view", 10.0),      // bid 10
      (1L, d(day0, 2), 1L, "purchase", 9.0),   // bid-only book, no prior trade: 0
      (4L, d(day0, 3), 1L, "purchase", 9.5),   // bid-only book, uptick: +1
      (6L, d(day0, 4), 1L, "purchase", 9.5),   // zero tick carries +1
      (9L, d(day0, 5), 1L, "click", 11.0),     // ask 11 at the trade's µs
      (8L, d(day0, 5), 1L, "purchase", 10.2))  // mid 10.5 > px: -1 (tick says +1)
    val dir = writeEvents(rows)
    val got = queries.SecurityMaster.q153TradeSigns(spark, dir)
      .select($"event_id", $"mid", $"sign")
      .as[(Long, Option[Double], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> ((None, 0)), 4L -> ((None, 1)), 6L -> ((None, 1)),
      8L -> ((Some(10.5), -1))), got.toString)
    val roll = SparkEntry.queries("q153_trade_sign")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(roll.toSeq == Seq((1L, 4L, 2L, 1L, 1L, 8.8)), roll.toSeq)
  }

  test("q136 adjusts closes before an action by its factor and leaves later bars raw") {
    // bars on day 1 and day 3; a 2x action (value 1000 -> factor 2)
    // lands midday on day 2: day 1's close doubles, day 3's does not
    val rows = Seq(
      (1L, d(day0 + 1, 12), 1L, "purchase", 100.0),
      (2L, d(day0 + 3, 12), 1L, "purchase", 50.0),
      (3L, d(day0 + 2, 12), 1L, "signup", 1000.0))
    val got = SparkEntry.queries("q136_corp_actions")(spark, writeEvents(rows))
      .as[(Long, java.sql.Timestamp, Double, Double, Double)].collect()
      .map(r => r._2.toInstant.getEpochSecond / 86400L -> ((r._3, r._4, r._5)))
      .toMap
    assert(got(day0 + 1) == ((100.0, 0.693147, 200.0)), got.toString)
    assert(got(day0 + 3) == ((50.0, 0.0, 50.0)), got.toString)
  }

  test("q137 counts only weekday non-holiday sessions and pins the first missing day") {
    // 2024-01-08..12 is Mon..Fri (none is a month-first holiday);
    // user 1 is silent on Wed the 10th only. Weekend days 13/14 are
    // outside the span anyway; day 8 starts the span.
    val jan8 = java.time.LocalDate.of(2024, 1, 8).toEpochDay
    val present = Seq(0L, 1L, 3L, 4L) // Mon Tue Thu Fri offsets
    val rows = present.zipWithIndex.map { case (off, i) =>
      ((i + 1).toLong, d(jan8 + off, 9), 1L, "view", 1.0) }
    val got = SparkEntry.queries("q137_trading_calendar")(spark, writeEvents(rows))
      .as[(Long, Long, Long, Long, java.sql.Timestamp)].collect()
    assert(got.length == 1, got.toSeq.toString)
    val r = got.head
    assert((r._1, r._2, r._3, r._4) == ((1L, 5L, 4L, 1L)), r.toString)
    assert(r._5.toInstant.getEpochSecond == (jan8 + 2) * 86400L, r.toString)
  }

  test("q138 separates what was known at the cutoff from the final corrected state") {
    // event_id % 3 back-dates the valid day: id 3 records day D1 on D1,
    // id 5 RESTATES day D1 two days later (tx on D3), id 6 records D3
    // itself. Cutoff = start of D3: fact D1 was believed 1.0 (revised
    // to 2.0 after), fact D3 wasn't known at all.
    val D1 = day0 + 11L; val D3 = day0 + 13L
    val rows = Seq(
      (3L, d(D1, 10), 1L, "view", 1.0),   // valid D1, tx D1 10:00
      (5L, d(D3, 9), 1L, "view", 2.0),    // valid D1 (13-2), tx D3 09:00
      (6L, d(D3, 12), 1L, "view", 9.0))   // valid D3, tx D3 12:00
    val got = SparkEntry.queries("q138_bitemporal")(spark, writeEvents(rows))
      .as[(Long, java.sql.Timestamp, Double, Option[Double], Long, Long, Int)]
      .collect()
      .map(r => r._2.toInstant.getEpochSecond / 86400L ->
        ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got(D1) == ((2.0, Some(1.0), 2L, 1L, 1)), got.toString)
    assert(got(D3) == ((9.0, None, 1L, 1L, 0)), got.toString)
  }

  test("q141 rolling beta is exactly 1.0 when the user IS the market") {
    // a single active user: the market series equals their own series,
    // so every full-window beta is cov(x,x)/var(x) = 1
    val rows = (1 to 15).map(i =>
      (i.toLong, d(day0 + i, 9), 1L, "view", 100.0 + i * i * 0.37))
    val got = SparkEntry.queries("q141_rolling_beta")(spark, writeEvents(rows))
      .as[(Long, java.sql.Timestamp, Double)].collect()
    assert(got.length == 6) // days 10..15 have full 10-day windows
    assert(got.forall(_._3 == 1.0), got.toSeq.toString)
  }

  test("q142 universe diff counts the swapped member exactly once") {
    // week 1 top-5 from parts 1..6 (part 6 lowest -> out); week 2 the
    // revenues of parts 1 and 6 swap -> one add (6) and one drop (1)
    val w1 = java.time.LocalDate.of(2024, 1, 1).toEpochDay // a Monday
    val w2 = w1 + 7
    def li(id: Long, part: Long, day: Long, price: Double) =
      (id, part, price, day)
    val rows =
      (1L to 6L).map(p => li(p, p, w1, 1000.0 - p * 10)) ++
      (1L to 6L).map(p => li(10L + p, p, w2,
        if (p == 1L) 940.0 else if (p == 6L) 990.0 else 1000.0 - p * 10))
    val dir = java.nio.file.Files.createTempDirectory("graft_univ").toString
    rows.map { case (id, part, price, day) =>
      (id, part, 1L, 1, 1.0, price, 0.0, 0.0, "N", "O",
        new java.sql.Timestamp(day * 86400000L)) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q142_pit_universe")(spark, dir)
      .orderBy($"wk")
      .as[(java.sql.Timestamp, Long, Long, Long)].collect()
    assert(got.length == 2, got.toSeq.toString)
    assert(got(0)._2 == 5 && got(0)._3 == 0 && got(0)._4 == 0, got(0).toString)
    assert(got(1)._2 == 5 && got(1)._3 == 1 && got(1)._4 == 1, got(1).toString)
  }

  test("q143 golden master: symbol epoch, remaining adjustment and session flag compose per trade") {
    // user 1: SYM-1-1 minted Tue Jan 2 (a 2x action, lf = ln 2),
    // SYM-1-2 minted Wed Jan 10 (a no-op action, lf = 0). Trades land
    // at 06:00 so each is AFTER its same-day mint instant: the only
    // action strictly ahead of any trade is the Jan-10 no-op, so every
    // kept trade carries zero remaining adjustment, and the session
    // flag separates the Sunday print.
    val jan1 = java.time.LocalDate.of(2024, 1, 1).toEpochDay // a Monday
    val rows = Seq(
      (1L, d(jan1 + 1), 1L, "signup", 1000.0),    // Tue Jan 2: mint SYM-1-1
      (2L, d(jan1 + 9), 1L, "signup", 0.0),       // Wed Jan 10: mint SYM-1-2
      (3L, d(jan1 + 1, 6), 1L, "purchase", 10.0), // Tue Jan 2: epoch 1, on-session
      (4L, d(jan1 + 6, 6), 1L, "purchase", 20.0), // Sun Jan 7: epoch 1, OFF-session
      (5L, d(jan1 + 11, 6), 1L, "purchase", 30.0)) // Fri Jan 12: epoch 2, on-session
    val got = SparkEntry.queries("q143_golden_master")(spark, writeEvents(rows))
      .as[(String, Int, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got == Map(
      ("SYM-1-1", 1) -> ((1L, 10.0, 0.0)),
      ("SYM-1-1", 0) -> ((1L, 20.0, 0.0)),
      ("SYM-1-2", 1) -> ((1L, 30.0, 0.0))), got.toString)
    // a trade BEFORE the first identifier epoch has no symbol and is
    // dropped by the inner as-of — the rollup keeps exactly 3 trades
    val rows2 = rows :+ (6L, d(jan1, 6), 1L, "purchase", 5.0) // Mon Jan 1: pre-epoch
    val got2 = SparkEntry.queries("q143_golden_master")(spark, writeEvents(rows2))
      .as[(String, Int, Long, Double, Double)].collect()
    assert(got2.map(_._3).sum == 3L, got2.toSeq.toString)
  }

  test("Bitemporal: corrections recorded after K cannot change the as-known-at-K snapshot") {
    val hist = Tables.events(spark, sf)
      .select($"user_id", date_trunc("day", $"ts").as("day"),
        $"ts", $"event_id", $"value")
    val kts = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-15T00:00:00Z"))
    val early = hist.filter($"ts" <= lit(kts))
    val full = operators.Bitemporal.asKnownAt(
      operators.Bitemporal.intervals(hist, Seq("user_id"), "day", "ts", "event_id"),
      "ts", lit(kts))
    val truncated = operators.Bitemporal.asKnownAt(
      operators.Bitemporal.intervals(early, Seq("user_id"), "day", "ts", "event_id"),
      "ts", lit(kts))
    val cols = Seq("user_id", "day", "ts", "value")
    assert(full.select(cols.map(col): _*)
      .exceptAll(truncated.select(cols.map(col): _*)).count() == 0)
    assert(truncated.select(cols.map(col): _*)
      .exceptAll(full.select(cols.map(col): _*)).count() == 0)
  }

  test("q144: session membership is decided on the exchange-local wall clock, not UTC") {
    // 2024-01-19 was a Friday. 23:30 UTC is still Friday in New York
    // (18:30) but already Saturday in Tokyo (08:30 +1d) — the same
    // instant must classify on-session for XNYS and off-session for
    // XTKS, which no UTC-keyed calendar can produce.
    val lateFriday = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-19T23:30:00Z"))
    val ex = queries.SecurityMaster.exchangeDim(spark)
    val probe = Seq((0L, lateFriday), (2L, lateFriday))
      .toDF("user_id", "ts")
      .withColumn("ex_id", pmod($"user_id", lit(3)).cast("int"))
      .join(ex, "ex_id")
      .withColumn("local_day",
        date_trunc("day", from_utc_timestamp($"ts", $"tz")))
      .withColumn("weekday", dayofweek($"local_day").between(2, 6))
      .select($"exch", $"local_day", $"weekday")
      .collect().map(r => r.getString(0) ->
        (r.getTimestamp(1).toString.take(10), r.getBoolean(2))).toMap
    assert(probe("XNYS") == ("2024-01-19", true), probe.toString)
    assert(probe("XTKS") == ("2024-01-20", false), probe.toString)
    // and the full query emits one complete row per exchange with the
    // audit invariants intact
    val out = queries.SecurityMaster.q144ExchangeCalendar(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("XNYS", "XLON", "XTKS"))
    out.values.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3), "n_events != on + off")
      assert(r.getLong(5) <= r.getLong(4), "present sessions exceed expected")
      assert(r.getLong(6) == r.getLong(4) - r.getLong(5))
    }
  }

  test("q144 runs off a file-sourced holiday calendar without a plan change") {
    // round-trip the rule-derived list through a REAL csv file and the
    // Ingest loader: identical audit output, and malformed rows land in
    // quarantine instead of silently shrinking the session calendar
    val csvDir = java.nio.file.Files.createTempDirectory("graft_hol").toString
    queries.SecurityMaster.q144HolidayList(spark, sf)
      .select($"exch", date_format($"local_day", "yyyy-MM-dd"))
      .coalesce(1).write.mode("overwrite").csv(csvDir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(csvDir, "bad.csv"),
      "XNYS,not-a-date\ngarbage-single-column\n".getBytes)
    val feed = graft.sources.Ingest.holidayCsv(spark, csvDir)
    assert(feed.quarantined.count() == 2, "malformed rows must quarantine")
    val viaFile = queries.SecurityMaster
      .q144ExchangeCalendar(spark, sf, holidayFile = Some(feed.good))
      .collect().toSet
    val viaRule = SparkEntry.queries("q144_exchange_calendar")(spark, sf)
      .collect().toSet
    feed.unpersist()
    assert(viaFile == viaRule && viaFile.nonEmpty)
  }

  test("q145: total-return adjustment dominates price-only and shares q136's bar spine") {
    val out = queries.SecurityMaster.q145FactorDecomposition(spark, sf).cache()
    // premise: the synthetic action values are non-negative, so every
    // dividend log-factor is >= 0 and the total-return suffix can
    // never fall below the split-only suffix
    val minV = Tables.events(spark, sf).filter($"event_type" === "signup")
      .agg(min($"value")).as[Double].collect()(0)
    assert(minV >= 0.0, s"premise broken: negative action value $minV")
    assert(out.filter($"log_adj_tr" < $"log_adj_px").count() == 0)
    assert(out.filter($"adj_close_tr" < $"adj_close_px" - 1e-9).count() == 0)
    // same daily-bar spine as the single-series q136
    val q136 = queries.SecurityMaster.q136CorpActions(spark, sf)
    assert(out.count() == q136.count() && out.count() > 0)
    out.unpersist()
  }
}
