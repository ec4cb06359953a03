package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incrementally-maintained DAILY LEDGER materializations — the batch
  * counterpart of the s60/s67/s68 streaming ledgers, persisted through
  * [[VersionedTable]].
  *
  * Why this exists: every (instrument, day) ledger cell the engine
  * serves — summed volume (s60), the last-print close (s67), the
  * OHLC extremes (s68) — is a COMMUTATIVE MONOID over raw events
  * (integer sum; lexicographic struct max; componentwise struct
  * min/max). That algebra is exactly what the streaming twins prove
  * micro-batch by micro-batch; this class exploits the same property
  * on the BATCH side: at 100 TB you never re-collapse the whole tape
  * to refresh a daily ledger — you collapse only the newly-landed
  * events to delta CELLS and fold them into the published snapshot
  * (`merge(base ∪ delta)` re-reduces per cell, shuffling cell states,
  * not ticks). A day's late prints, corrections, or a backfill all
  * land through the same fold, because min/max/sum absorb replays of
  * VALUES — while exactly-once at the BATCH level comes from
  * VersionedTable's monotone batchId commit (a replayed ingest is a
  * no-op, so the non-idempotent volume sum is still never
  * double-counted).
  *
  * The serve adapters emit the frames the production query tails
  * consume: `Quant.dailyCloses` / `Quant.dailyVolume` /
  * `Microstructure.dailyOhlc` are `Kind.fromTape` of the same cell
  * definitions, so every ledger-tail query —
  * q219–q232, q235–q236, q239–q243, q245–q247 — can run off the
  * maintained artifact instead of the raw tape; LedgerTableSpec pins
  * that equivalence end-to-end.
  *
  * Scale shape: an ingest shuffles ONLY the new batch (hash on
  * (user, day) for its collapse) plus the base's cell states — the
  * snapshot is (instruments × days) rows, orders of magnitude smaller
  * than the tape. Reads are a plain parquet scan of the live version.
  */
object LedgerTable {

  /** One (instrument, day) ledger cell, defined once: the raw-event
    * collapse, the cell merge and the served frame. The batch frames
    * (`Quant.dailyVolume` / `Quant.dailyCloses` /
    * `Microstructure.dailyOhlc`), the s60/s68 streaming twins and the
    * maintained ledgers below are all built on it.
    */
  sealed trait Kind {
    def name: String
    /** Collapse RAW events (Tables.events schema) to delta cells. */
    def collapse(events: DataFrame): DataFrame
    /** Re-reduce a union of cell-state frames to one state per cell. */
    def merge(cells: DataFrame): DataFrame
    /** Project cell states to the frame the production tails read. */
    def serve(cells: DataFrame): DataFrame
    /** The served frame straight off a raw tape. */
    def fromTape(events: DataFrame): DataFrame = serve(collapse(events))
  }

  private def day(c: Column): Column = date_trunc("day", c)

  /** s60: summed positive integer volume per (instrument, day). */
  case object Volume extends Kind {
    val name = "volume"
    def collapse(events: DataFrame): DataFrame =
      events
        .select(col("user_id"), day(col("ts")).as("day"),
          graft.Tables.tradeSize(col("props")).as("k"))
        .filter(col("k") > 0L)
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("k")).as("v"))
    def merge(cells: DataFrame): DataFrame =
      cells.groupBy(col("user_id"), col("day"))
        .agg(sum(col("v")).as("v"))
    /** (user_id, day, v). */
    def serve(cells: DataFrame): DataFrame = cells
  }

  /** s67: the last positive print per (instrument, day) as a
    * lexicographic (ts, event_id, close) max — a total order, so the
    * fold is deterministic under any batch slicing.
    */
  case object Closes extends Kind {
    val name = "closes"
    def collapse(events: DataFrame): DataFrame =
      events.filter(col("value") > 0.0)
        .groupBy(col("user_id"), day(col("ts")).as("day"))
        .agg(max(struct(col("ts"), col("event_id"),
          col("value").as("close"))).as("last"))
    def merge(cells: DataFrame): DataFrame =
      cells.groupBy(col("user_id"), col("day"))
        .agg(max(col("last")).as("last"))
    /** (user_id, day, x): the 12dp-latticed ln close. */
    def serve(cells: DataFrame): DataFrame =
      cells.select(col("user_id"), col("day"),
        graft.functions.Num.decRound(log(col("last.close")), 12)
          .cast(DecimalType(18, 12)).as("x"))
  }

  /** s68: OHLC per (instrument, day) — open/close as arg-extreme
    * structs on the (ts, event_id) total order, high/low as plain
    * extremes; all four components monotone under accumulation.
    */
  case object Ohlc extends Kind {
    val name = "ohlc"
    def collapse(events: DataFrame): DataFrame =
      events.filter(col("value") > 0.0)
        .groupBy(col("user_id"), day(col("ts")).as("day"))
        .agg(min(struct(col("ts"), col("event_id"),
            col("value").as("px"))).as("of"),
          max(struct(col("ts"), col("event_id"),
            col("value").as("px"))).as("cf"),
          max(col("value")).as("h"), min(col("value")).as("l"))
    def merge(cells: DataFrame): DataFrame =
      cells.groupBy(col("user_id"), col("day"))
        .agg(min(col("of")).as("of"), max(col("cf")).as("cf"),
          max(col("h")).as("h"), min(col("l")).as("l"))
    /** (user_id, day, o, h, l, c). */
    def serve(cells: DataFrame): DataFrame =
      cells.select(col("user_id"), col("day"),
        col("of.px").as("o"), col("h"), col("l"), col("cf.px").as("c"))
  }
}

/** One maintained ledger artifact: `ingest` folds a new slice of raw
  * events into the published cell snapshot (exactly-once per batchId
  * via VersionedTable's monotone commit), `state`/`stateAt` read it,
  * and the serve methods emit the production tail input frames.
  */
class LedgerTable(spark: SparkSession, tableDir: String,
                  kind: LedgerTable.Kind, keepVersions: Int = 2) {

  private val vt = new VersionedTable(spark, tableDir, keepVersions)

  /** Fold `rawEvents` (Tables.events schema) into the ledger as
    * `v<batchId>`. Returns false — untouched table — when batchId ≤
    * the live version (the replay / out-of-order no-op, which is what
    * makes the non-idempotent sums safe under at-least-once drivers).
    */
  def ingest(batchId: Long, rawEvents: DataFrame): Boolean =
    vt.commit(batchId) { base =>
      val delta = kind.collapse(rawEvents)
      base match {
        case None    => delta
        case Some(b) => kind.merge(b.unionByName(delta))
      }
    }

  /** The live cell snapshot, or None before the first ingest. */
  def state: Option[DataFrame] = vt.current

  /** As-known-at read over retained versions (VersionedTable depth). */
  def stateAt(batchId: Long): Option[DataFrame] = vt.snapshotAt(batchId)

  /** The `Quant.dailyVolume` frame: (user_id, day, v). */
  def serveVolume: Option[DataFrame] = served(LedgerTable.Volume)

  /** The `Quant.dailyCloses` spine: (user_id, day, x). */
  def serveCloses: Option[DataFrame] = served(LedgerTable.Closes)

  /** The `Microstructure.dailyOhlc` frame: (user_id, day, o, h, l, c). */
  def serveOhlc: Option[DataFrame] = served(LedgerTable.Ohlc)

  private def served(want: LedgerTable.Kind): Option[DataFrame] = {
    require(kind == want, s"not a ${want.name} ledger: ${kind.name}")
    state.map(kind.serve)
  }
}
