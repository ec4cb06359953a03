package graft

import org.apache.spark.sql.functions._
import graft.sources.LedgerTable

/** LedgerTable: incremental batch maintenance of the s60/s67/s68 daily
  * ledgers must converge to the from-tape collapse under ANY slicing
  * of the event stream into ingest batches — the batch-side mirror of
  * the streaming twins' micro-batch argument — and the served frames
  * must drive the production query tails to byte-identical results.
  */
class LedgerTableSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ledger_$tag").toString

  /** Three arbitrary, UNEVEN slices of the tape (by event_id mod —
    * deliberately not time-ordered, so late/out-of-order arrival is
    * exercised: a day's cells are touched by every batch).
    */
  private def slices = {
    val e = Tables.events(spark, sf)
    Seq(e.filter($"event_id" % 3 === 0),
      e.filter($"event_id" % 3 === 1),
      e.filter($"event_id" % 3 === 2))
  }

  test("three uneven out-of-order ingests converge every ledger kind to the from-tape collapse") {
    val full = Tables.events(spark, sf)
    for (kind <- Seq[LedgerTable.Kind](LedgerTable.Volume,
        LedgerTable.Closes, LedgerTable.Ohlc)) {
      val lt = new LedgerTable(spark, tmp(kind.name), kind)
      slices.zipWithIndex.foreach { case (s, i) =>
        assert(lt.ingest(i + 1L, s), s"${kind.name}: ingest ${i + 1}")
      }
      val got = lt.state.get
      val want = kind.collapse(full)
      assert(got.count() === want.count(), kind.name)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        kind.name)
    }
  }

  test("replayed and out-of-order batchIds are no-ops (exactly-once for the non-idempotent volume sum)") {
    val lt = new LedgerTable(spark, tmp("replay"), LedgerTable.Volume)
    val Seq(a, b, _) = slices
    assert(lt.ingest(1L, a))
    assert(lt.ingest(2L, b))
    val before = lt.state.get.agg(sum($"v")).as[Long].head()
    assert(!lt.ingest(2L, b), "replay must be refused")
    assert(!lt.ingest(1L, a), "out-of-order must be refused")
    assert(lt.state.get.agg(sum($"v")).as[Long].head() === before)
  }

  test("stateAt time-travels to the pre-batch snapshot within retention") {
    val lt = new LedgerTable(spark, tmp("travel"), LedgerTable.Volume,
      keepVersions = 3)
    val Seq(a, b, c) = slices
    lt.ingest(1L, a); lt.ingest(2L, b); lt.ingest(3L, c)
    val at2 = lt.stateAt(2L).get
    val want2 = LedgerTable.Volume.merge(
      LedgerTable.Volume.collapse(a.unionByName(b)))
    assert(at2.exceptAll(want2).isEmpty && want2.exceptAll(at2).isEmpty)
  }

  test("one close per day: same-µs prints tie-break on the higher event_id, and a zero print is skipped") {
    // two positive prints at one microsecond (the LOWER event_id has
    // the HIGHER price, so a value tie-break would pick the wrong one)
    // and a later zero print; the batch spine, the maintained ledger
    // and the s68 stream twin must all close at event 11's price
    val t = java.sql.Timestamp.valueOf("2024-03-05 10:00:00")
    val later = java.sql.Timestamp.valueOf("2024-03-05 11:00:00")
    val tape = Seq((10L, t, 7L, "purchase", 3.0, "{}"),
        (11L, t, 7L, "purchase", 2.0, "{}"),
        (12L, later, 7L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tmp("tie")
    tape.coalesce(1).write.parquet(s"$dir/events.parquet")
    val want = BigDecimal(math.log(2.0))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def closeX(df: org.apache.spark.sql.DataFrame) =
      df.select($"x").as[java.math.BigDecimal].collect().map(BigDecimal(_)).toSeq
    assert(closeX(queries.Quant.dailyCloses(spark, dir)) == Seq(want))
    val lt = new LedgerTable(spark, tmp("tie_ledger"), LedgerTable.Closes)
    assert(lt.ingest(1L, Tables.events(spark, dir)))
    assert(closeX(lt.serveCloses.get) == Seq(want))
    val q = graft.streaming.Streams.dailyOhlcStream(
        spark.readStream.schema(tape.schema).parquet(s"$dir/events.parquet"))
      .writeStream.outputMode("update").format("memory")
      .queryName("tie_ohlc").start()
    try { q.processAllAvailable() } finally { q.stop() }
    assert(spark.table("tie_ohlc").select($"c_eid", $"c").as[(Long, Double)]
      .collect().toSeq == Seq((11L, 2.0)))
  }

  test("served frames drive the production tails: OBV off maintained s67 x s60, Garman-Klass off maintained s68") {
    val Seq(a, b, c) = slices
    val closes = new LedgerTable(spark, tmp("srv_c"), LedgerTable.Closes)
    val vol = new LedgerTable(spark, tmp("srv_v"), LedgerTable.Volume)
    val ohlc = new LedgerTable(spark, tmp("srv_o"), LedgerTable.Ohlc)
    for ((s, i) <- Seq(a, b, c).zipWithIndex; lt <- Seq(closes, vol, ohlc))
      lt.ingest(i + 1L, s)
    val obv = queries.Quant.obvFromLedgers(
      closes.serveCloses.get, vol.serveVolume.get)
    val batch221 = SparkEntry.queries("q221_obv")(spark, sf)
    assert(batch221.count() > 0)
    assert(obv.exceptAll(batch221).isEmpty &&
      batch221.exceptAll(obv).isEmpty)
    val gk = queries.Microstructure.gkFromDailyOhlc(ohlc.serveOhlc.get)
    val batch220 = SparkEntry.queries("q220_garman_klass")(spark, sf)
    assert(batch220.count() > 0)
    assert(gk.exceptAll(batch220).isEmpty && batch220.exceptAll(gk).isEmpty)
    // the r14j two-ledger composition rides the SAME maintained pair:
    // Ease of Movement off maintained s68 OHLC x s60 volume
    val eom = queries.Microstructure.eomFromLedgers(
      ohlc.serveOhlc.get, vol.serveVolume.get)
    val batch272 = SparkEntry.queries("q272_eom")(spark, sf)
    assert(batch272.count() > 0)
    assert(eom.exceptAll(batch272).isEmpty &&
      batch272.exceptAll(eom).isEmpty)
    // ...and an r14j closes tail: Newey-West off the maintained s67
    val nw = queries.Quant.neweyWestFromCloses(closes.serveCloses.get)
    val batch276 = SparkEntry.queries("q276_newey_west")(spark, sf)
    assert(batch276.count() > 0)
    assert(nw.exceptAll(batch276).isEmpty &&
      batch276.exceptAll(nw).isEmpty)
  }
}
