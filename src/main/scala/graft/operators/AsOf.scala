package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-match) join.
  *
  * For each left row, attaches the right row with the greatest right
  * timestamp <= the left timestamp, per key — the securities-master
  * primitive for "price as of trade time" / "latest reference record
  * in effect".
  *
  * Spark-first plan: instead of a range join (which Catalyst would
  * execute as a broadcast-nested-loop or an exploding theta join), the
  * two sides are unioned with a side tag and resolved in one window
  * pass:
  *
  *   union → hash-shuffle on key → in-partition sort by (ts, side) →
  *   last(value, ignoreNulls) over rows-unbounded-preceding
  *
  * One shuffle + one sort, linear in |L|+|R|; scales like any keyed
  * window (partition count grows with the cluster, per-key data stays
  * co-located). At equal timestamps the reference row sorts first
  * (side 0 < side 1), so a reference effective AT t matches a query at
  * t — the `>=` convention, same as DuckDB's ASOF JOIN.
  *
  * Same-instant reference rows: when two reference rows share
  * (key, rightTs), the one with the greatest (rts, values…) struct wins
  * — deterministic on both engines via a tie key inside the sort the
  * window already pays for (DuckDB's ASOF JOIN picks arbitrarily
  * here). Prefer deduplicating to point-in-time-latest first (q29
  * shape) if the feed carries same-instant revisions with a meaningful
  * winner, and always when right values are non-orderable (maps).
  *
  * One plan per shape: [[join]] for keyed as-of, [[broadcastJoin]] for
  * a tiny keyless dim. Two other plans were built, priced every round
  * and deleted because no workload needed them (warm seconds):
  *  - a custom streaming-merge exec (logical node + strategy + exec,
  *    each side sorted in its own exchange) on q21's task: 0.209 vs
  *    q21's 0.285 at sf0.1 on 4 cores, but 0.541 vs 0.528 at sf1
  *    (r15) — its small-input lead did not hold with data;
  *  - a keyed broadcast-interval variant for low-cardinality keys
  *    (q148's 4 currencies): 0.687 vs 0.507 for the keyed window plan
  *    at sf0.1 on 32 cores (r17), and 2.666 vs 1.159 at sf1 (r15).
  */
object AsOf {

  /** @param left         query side (all its columns are kept)
    * @param right        reference side
    * @param key          equi-key column name present on both sides
    * @param leftTs       event-time column on `left`
    * @param rightTs      event-time column on `right`
    * @param rightVals    (rightColumn, outputName) values carried to the left
    * @param inner        when true, drops left rows with no reference in effect
    * @param toleranceSec max staleness: a reference older than this many
    *                     seconds before the query row counts as NO match
    *                     (the securities-master "quote too stale" rule).
    *                     None = unbounded lookback.
    * @param direction    "backward" (default): greatest rightTs <= leftTs —
    *                     price in effect AT the query time. "forward":
    *                     smallest rightTs >= leftTs — next observation
    *                     after the query time (fill-forward's dual, e.g.
    *                     "first quote after the order"). Both treat an
    *                     equal-timestamp reference as a match, and both
    *                     run as the same single O(n) window pass —
    *                     forward just reverses the time sort.
    */
  def join(left: DataFrame, right: DataFrame, key: String,
           leftTs: String, rightTs: String,
           rightVals: Seq[(String, String)],
           inner: Boolean = true,
           toleranceSec: Option[Long] = None,
           direction: String = "backward"): DataFrame = {
    require(rightVals.forall(_._2 != "__rts"), "__rts is reserved")
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val backward = direction == "backward"
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
    // All right values ride in ONE struct: the struct itself is non-null
    // for every reference row (even when every field is NULL), so
    // last(..., ignoreNulls) resolves to the matched row's values — a
    // NULL field in the most-recent reference row stays NULL instead of
    // falling back to an older row, and match existence (struct
    // non-null), not value non-nullness, drives inner semantics. Same
    // row-match behavior as DuckDB ASOF JOIN for nullable right columns.
    val r = right.select(col(key), col(rightTs).as("__ts"), lit(0).as("__side"),
      struct(col(rightTs).as("__rts") +:
        rightVals.map { case (in, out) => col(in).as(out) }: _*).as("__rv"))
    // Both directions use the SAME incremental unboundedPreceding frame
    // (O(n) per partition — one running-state update per row); forward
    // just reverses the time sort. Scanning timestamps downward, the
    // last reference seen at-or-after the current row IS the smallest
    // rts >= t. The naive currentRow→unboundedFollowing formulation
    // re-aggregates the partition suffix for every output row
    // (UnboundedFollowingWindowFunctionFrame, O(n²) per key) — never
    // use it for as-of. In both sorts the ref at an equal timestamp
    // orders before the query row (side 0 < 1), so a ref effective AT t
    // matches a query at t — the >= convention on both directions.
    // Third sort key __rv: when two reference rows share (key, ts), the
    // greatest (rts, values…) struct wins DETERMINISTICALLY instead of
    // partition-order-dependently — no extra shuffle, just a tie rule
    // inside the sort the window already pays for. (Struct ordering
    // requires orderable value types; deduplicate first if carrying
    // maps.) The query side's __rv is null and __side already separates
    // the sides, so the key only ever breaks ref-vs-ref ties.
    val w = Window.partitionBy(col(key))
      .orderBy(if (backward) col("__ts").asc else col("__ts").desc,
        col("__side").asc, col("__rv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = last(col("__rv"), ignoreNulls = true).over(w)
    // staleness: the matched ref's own timestamp rides in the struct, so
    // the tolerance cut is a row-local filter after the window pass.
    // Exact integer µs: a double-seconds cast has ~0.5 µs ulp at current
    // epochs, enough to flip a row sitting exactly on the bound.
    val gapUs =
      if (backward) unix_micros(col("__ts")) - unix_micros(matched.getField("__rts"))
      else unix_micros(matched.getField("__rts")) - unix_micros(col("__ts"))
    val withinTol = toleranceSec match {
      case Some(tol) => when(gapUs <= tol * 1000000L, matched)
      case None => matched
    }
    val filled = l.unionByName(r, allowMissingColumns = true)
      .withColumn("__match", withinTol)
    val out = filled
      .filter(col("__side") === 1)
    val kept = if (inner) out.filter(col("__match").isNotNull) else out
    kept.select((left.columns.map(col) ++
      rightVals.map { case (_, o) => col("__match").getField(o).as(o) }).toIndexedSeq: _*)
  }

  /** As-of join against a SMALL GLOBAL reference (no key): calendars,
    * published adjustment factors, index fixings — dims of at most a
    * few thousand rows matched by billions of query rows.
    *
    * The keyed union-window plan above has no key to spread on here:
    * it would funnel every query row through ONE window partition. The
    * scale-correct plan for a tiny global dim is the opposite shape —
    * interval-ize the reference with lead() (each row in effect from
    * its timestamp until the next one) and BROADCAST it; each query
    * row then finds its unique in-effect interval in a broadcast range
    * join. The big side never shuffles and never sorts: the plan is
    * embarrassingly parallel, cost |L|·|R| comparisons with |R| tiny
    * and in cache.
    *
    * `right` must have distinct `rightTs` values (equal timestamps
    * would make intervals overlap and duplicate matches) — dedupe to
    * point-in-time-latest (q29 shape) first if the feed revises.
    *
    * The tiny-dim contract is ENFORCED, not assumed: the dim's
    * estimated size is checked against [[BroadcastDimByteLimit]]
    * (same stats-derived plan choice as Rank / EditDistance /
    * Graph.broadcastState) and an oversized dim falls back to the
    * window as-of — a perf degradation, never a driver/executor OOM.
    * A caller that KNOWS the dim is model-sized can pin the choice
    * with `dimBroadcast`.
    */
  def broadcastJoin(left: DataFrame, right: DataFrame,
                    leftTs: String, rightTs: String,
                    rightVals: Seq[(String, String)],
                    inner: Boolean = true,
                    dimBroadcast: Option[Boolean] = None): DataFrame = {
    if (!dimBroadcast.getOrElse(
        right.queryExecution.optimizedPlan.stats.sizeInBytes <=
          BroadcastDimByteLimit))
      return windowFallback(left, right, leftTs, rightTs, rightVals, inner)
    require(!left.columns.contains("__eff") && !left.columns.contains("__next"),
      "__eff/__next are reserved column names on the left side")
    rightVals.foreach { case (_, out) =>
      require(!left.columns.contains(out),
        s"output column '$out' already exists on the left side")
      require(out != "__eff" && out != "__next", "__eff/__next are reserved")
    }
    // Single-partition window over the dim is fine: the dim is tiny by
    // contract (that's what makes the broadcast legal in the first
    // place).
    val iv = right.select(col(rightTs).as("__eff") +:
        rightVals.map { case (in, out) => col(in).as(out) }: _*)
      .withColumn("__next", lead(col("__eff"), 1).over(Window.orderBy(col("__eff"))))
    val range = col(leftTs) >= col("__eff") &&
      (col("__next").isNull || col(leftTs) < col("__next"))
    left.join(broadcast(iv), range, if (inner) "inner" else "left_outer")
      .select((left.columns.map(col) ++
        rightVals.map { case (_, o) => col(o) }).toIndexedSeq: _*)
  }

  /** Dims at or below this ESTIMATED size broadcast; above it,
    * [[broadcastJoin]] routes to [[windowFallback]]. 64 MB estimated
    * (the Rank / EditDistance convention) stays an order of magnitude
    * under Spark's 8 GB broadcast hard limit and the default driver
    * memory, with room for the estimate being off.
    */
  val BroadcastDimByteLimit: Long = 64L * 1024 * 1024

  /** The safe plan for a dim too big to broadcast: the window as-of
    * ([[join]]) on a constant key — a single sorted partition, the
    * honest cost of an as-of against a keyless dim that outgrew
    * broadcast (there is no equality key to shuffle on; if this path
    * is hot, pre-collapse the dim onto a bounded time grid instead).
    * Outputs are identical to the broadcast plan under its
    * distinct-rightTs contract (spec-proven).
    */
  def windowFallback(left: DataFrame, right: DataFrame,
                     leftTs: String, rightTs: String,
                     rightVals: Seq[(String, String)],
                     inner: Boolean = true): DataFrame = {
    require(!left.columns.contains("__gk"),
      "__gk is a reserved column name on the left side")
    join(left.withColumn("__gk", lit(1)), right.withColumn("__gk", lit(1)),
        "__gk", leftTs, rightTs, rightVals, inner)
      .drop("__gk")
  }
}
