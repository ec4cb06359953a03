package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Scalable global ranking: per-group row numbers (and group totals)
  * without ever putting a whole group in one task.
  *
  * A plain `row_number() OVER (PARTITION BY g ORDER BY k)` hash-
  * partitions on g — with a low-cardinality g (an event_type, an
  * exchange code) each partition is ONE task holding 1/|g| of the
  * table, which stalls at 100 TB no matter how many executors exist.
  * This operator runs the classic two-pass shape instead:
  *
  *   1. a reservoir sketch over the (group, order) key picks S−1
  *      equi-depth boundary literals (the same sampling pass Spark's
  *      own RangePartitioner runs inside repartitionByRange — done
  *      here ONCE, driver-side, so the slice id becomes a row-local
  *      expression instead of a partitioner side-effect);
  *   2. count rows per (slice, g) with a map-side partial aggregate
  *      (NO data shuffle — slice is row-local) and turn the tiny
  *      S×|g| frame into per-(slice, g) prefix offsets on the driver;
  *   3. rank locally within (slice, g) — a codegen-friendly window
  *      over S×|g| balanced units — and add the broadcast offset.
  *
  * The earlier revision of this operator derived slices from
  * `repartitionByRange` + `spark_partition_id()`, which forced the
  * offsets branch to RE-scan and RE-shuffle the input (AQE in this
  * Spark version does not reuse even canonically identical exchanges
  * at runtime — measured, not assumed), and q123's running sum paid a
  * per-row InternalRow→Row codec in a mapPartitions. Row-local slice
  * ids remove both: the data is shuffled exactly once, by
  * (__slice, group), and every per-row step stays in Tungsten.
  *
  * Per-(slice, g) window units hold ≤ ~n/S rows each (equi-depth
  * boundaries), so parallelism scales with S = shuffle partitions,
  * not |g|. Output is identical to the single-window form whenever
  * (g, k) is a total order (callers pass a unique tiebreaker — ties
  * could otherwise land in either of two adjacent slices and
  * renumber within the tie run).
  *
  * Driver-side state is MODEL-sized, never data-sized: the boundary
  * sketch is S−1 keys and the offsets frame S×|groups| rows — the
  * same bound the previous broadcast-join formulation already
  * required (a broadcast build side is collected to the driver by
  * Spark anyway).
  *
  * Key columns (group AND order) must be NON-NULL: slice assignment
  * compares composite keys against boundary literals, and a null
  * field makes the comparison null (such rows would land in the last
  * slice while a native window orders NULLS FIRST). The inner offset
  * join on group columns would likewise drop null-group rows. Callers
  * filter or coalesce nulls first.
  *
  * PLAN CHOICE BY STATISTICS. The two-pass shape exists to kill a
  * straggler that only materializes when a single group is too big
  * for one task. Below that size the native window IS the optimal
  * plan — one exchange, one sort, zero extra jobs — and running the
  * two-pass machinery there just pays sketch/offset overhead for a
  * problem that doesn't exist. So, exactly like Spark's own
  * broadcast-vs-shuffle join choice, the operator picks the physical
  * plan from the optimized-plan statistics (driver-side, no job):
  * inputs whose estimated size can't produce an oversized task run
  * the native window; larger inputs run the two-pass path. Both
  * paths are differentially proven bit-identical in RankSpec (which
  * forces the two-pass path regardless of input size), and callers
  * can force either via `twoPass = Some(true/false)` — the scale
  * bench forces the two-pass path to price it honestly.
  */
object Rank {

  /** Inputs at or below this ESTIMATED on-disk size take the native
    * single-window plan. Rationale: the worst case for the native
    * plan is |groups| = 1 — the whole input in ONE task. 64 MB of
    * columnar storage is ≈ a few million rows; a single-task sort at
    * that size is comfortably inside normal task-duration budgets,
    * while anything larger risks the straggler the two-pass plan
    * exists to prevent. Compressed size UNDERESTIMATES row count, so
    * the threshold errs toward the scalable path, never away from it.
    */
  val NativeWindowByteLimit: Long = 64L * 1024 * 1024

  /** Hard bound on the driver-merged per-(slice, group) offset frame.
    * The two-pass path collects slices × |groups| partial rows; with a
    * HIGH-cardinality group that collect is data-sized — unbounded
    * driver memory, the exact hazard class the events-ts contract
    * guard exists for. 1M rows ≲ ~100 MB of boxed Rows: well inside
    * any driver, far above every legitimate caller (the operator
    * exists for LOW-cardinality groups, where the native window
    * single-tasks; a ≥ cap/slices-cardinality group set spreads the
    * native window's hash partitioning over ≥ tens of thousands of
    * units and cannot straggle short of pathological skew).
    */
  val DriverOffsetRowCap: Long = 1L << 20

  /** Plan choice: native window for small inputs (stats, no job) AND
    * for high-cardinality groups (one approx-distinct job over the
    * Parquet-pruned group columns — only reached when the input is
    * already big enough that the sketch/counts jobs would run anyway).
    * The two-pass shape is only ever the right plan when groups are
    * few and huge; keying the choice on both statistics means the
    * driver-side offset merge stays model-sized BY CONSTRUCTION, not
    * by caller discipline.
    */
  private[graft] def useNative(df: DataFrame, group: Seq[String],
                               twoPass: Option[Boolean],
                               nativeByteLimit: Long = NativeWindowByteLimit,
                               offsetRowCap: Long = DriverOffsetRowCap)
      : Boolean =
    twoPass match {
      case Some(t) => !t
      case None =>
        df.queryExecution.optimizedPlan.stats.sizeInBytes <=
          nativeByteLimit || {
          val slices =
            df.sparkSession.sessionState.conf.numShufflePartitions
          val estGroups = df
            .select(approx_count_distinct(struct(group.map(col): _*))
              .as("g"))
            .collect()(0).getLong(0)
          estGroups > offsetRowCap / math.max(slices, 1)
        }
    }

  /** Bounded offset-frame collect: never pulls more than `cap`+1 rows
    * to the driver, and fails LOUDLY past the cap instead of silently
    * absorbing a data-sized collect — the forced `twoPass=Some(true)`
    * path has no cardinality guard, so this is its backstop.
    */
  private def boundedCollect(partials: DataFrame, cap: Long): Array[Row] = {
    val rows = partials.limit(math.min(cap + 1, Int.MaxValue).toInt).collect()
    require(rows.length <= cap,
      s"Rank two-pass offset frame exceeds DriverOffsetRowCap=$cap " +
        "(slice, group) partial rows — the group cardinality is too " +
        "high for a driver-side offset merge. High-cardinality groups " +
        "cannot straggle the native window: pass twoPass=Some(false).")
    rows
  }

  /** Adds `rankCol` (1-based global row number within each group, long)
    * and `totalCol` (group row count, long) to `df`. `order` columns
    * together with `group` must form a total order over the rows and
    * be non-null (see object doc).
    *
    * Two-pass path: ONE data-sized shuffle and ONE sort total (the
    * window's own hash exchange on (__slice, group)); the sketch and
    * counts jobs scan only the key columns (Parquet-pruned — a
    * q123-style caller whose value column is an expensive projection
    * never computes it for either light job).
    */
  def groupRowNumber(df: DataFrame, group: Seq[String], order: Seq[String],
                     rankCol: String = "rn",
                     totalCol: String = "n_total",
                     twoPass: Option[Boolean] = None,
                     offsetRowCap: Long = DriverOffsetRowCap): DataFrame = {
    val outCols = (df.columns.toSeq :+ rankCol :+ totalCol).map(col)
    if (useNative(df, group, twoPass, offsetRowCap = offsetRowCap)) {
      val w = Window.partitionBy(group.map(col): _*)
        .orderBy(order.map(col): _*)
      df.withColumn(rankCol, row_number().over(w).cast("long"))
        .withColumn(totalCol,
          count(lit(1)).over(Window.partitionBy(group.map(col): _*)))
        .select(outCols: _*)
    } else {
      val slice = sliceExpr(df, group ++ order)
      val tagged = df.withColumn("__slice", slice)
      // counts per (slice, group): map-side partial agg, S×|g| shuffle
      val counts = boundedCollect(
        tagged.groupBy(("__slice" +: group).map(col): _*)
          .agg(count(lit(1)).as("__v")), offsetRowCap)
      val offsets = offsetFrame(df, group, counts, totalTooCol = Some(totalCol))
      val w = Window.partitionBy(("__slice" +: group).map(col): _*)
        .orderBy(order.map(col): _*)
      tagged.withColumn("__rn", row_number().over(w).cast("long"))
        .join(broadcast(offsets), "__slice" +: group)
        .withColumn(rankCol, col("__rn") + col("__off"))
        .select(outCols: _*)
    }
  }

  /** Adds `out` = the inclusive running sum of integer `valueCol`
    * within each group in (group, order) order, without a
    * low-cardinality single-task window — the q123 token-packing
    * shape, where `PARTITION BY source` would put one source's whole
    * corpus in one task. Two-pass path: same plan as
    * [[groupRowNumber]] with count replaced by sum — per-(slice,
    * group) partial sums → driver-merged prior-slice offsets, and the
    * in-slice prefix from a codegen'd running-sum window over
    * (__slice, group) — no per-row codec. `valueCol` must be a
    * non-null integral column; (group, order) must totally order rows
    * and be non-null.
    */
  def groupRunningSum(df: DataFrame, group: Seq[String], order: Seq[String],
                      valueCol: String, out: String = "cum",
                      twoPass: Option[Boolean] = None,
                      offsetRowCap: Long = DriverOffsetRowCap): DataFrame = {
    val outCols = (df.columns.toSeq :+ out).map(col)
    if (useNative(df, group, twoPass, offsetRowCap = offsetRowCap)) {
      val w = Window.partitionBy(group.map(col): _*)
        .orderBy(order.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(out, sum(col(valueCol).cast("long")).over(w))
        .select(outCols: _*)
    } else {
      val slice = sliceExpr(df, group ++ order)
      val tagged = df.withColumn("__slice", slice)
      val sums = boundedCollect(
        tagged.groupBy(("__slice" +: group).map(col): _*)
          .agg(sum(col(valueCol).cast("long")).as("__v")),
        offsetRowCap)
      val offsets = offsetFrame(df, group, sums, totalTooCol = None)
      val w = Window.partitionBy(("__slice" +: group).map(col): _*)
        .orderBy(order.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged.withColumn("__run", sum(col(valueCol).cast("long")).over(w))
        .join(broadcast(offsets), "__slice" +: group)
        .withColumn(out, col("__run") + col("__off"))
        .select(outCols: _*)
    }
  }

  // ---------------------------------------------------------------
  // slice assignment + offset merge internals
  // ---------------------------------------------------------------

  /** Row-local slice id: a short-circuiting when-chain comparing the
    * composite key struct against S−1 sorted boundary literals from a
    * one-pass reservoir sketch. Any boundary set is CORRECT (offsets
    * are computed from the same literals); the sketch only buys
    * balance, exactly like RangePartitioner's internal sampling.
    */
  private def sliceExpr(df: DataFrame, keyCols: Seq[String]): Column = {
    val slices = df.sparkSession.sessionState.conf.numShufflePartitions
    val keyed = df.select(keyCols.map(col): _*)
    val bounds = sampleBoundaries(keyed, slices)
    if (bounds.isEmpty) return lit(0)
    val keyType = keyed.schema
    val key = struct(keyCols.map(col): _*)
    // cast each boundary literal struct to the key's EXACT struct type
    // (field names + types) so the comparison needs no coercion
    def boundLit(b: Row): Column =
      struct(b.toSeq.map(v => lit(v)): _*).cast(keyType)
    val first: Column = when(key <= boundLit(bounds(0)), 0)
    bounds.indices.drop(1)
      .foldLeft(first)((acc, i) => acc.when(key <= boundLit(bounds(i)), i))
      .otherwise(bounds.length)
  }

  /** One-pass weighted reservoir sketch of the key distribution →
    * up to `slices`−1 distinct, sorted boundary keys. Reads ONLY the
    * pruned key columns; per-partition output is a fixed-size sample,
    * so the collect is bounded by partitions × sampleSize regardless
    * of data size (the RangePartitioner contract).
    */
  private def sampleBoundaries(keys: DataFrame, slices: Int): Array[Row] = {
    if (slices <= 1) return Array.empty
    val perPart = 64
    val sketched = keys.rdd.mapPartitionsWithIndex { (pid, it) =>
      val rng = new java.util.Random(0x9E3779B9L ^ pid)
      val res = new Array[Row](perPart)
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        if (n < perPart) res(n.toInt) = r
        else {
          val j = (rng.nextDouble() * (n + 1)).toLong
          if (j < perPart) res(j.toInt) = r
        }
        n += 1
      }
      Iterator.single((n, res.take(math.min(n, perPart).toInt)))
    }.collect()
    val total = sketched.map(_._1).sum
    if (total == 0) return Array.empty
    // weight = rows represented per candidate, as in determineBounds
    val cands = sketched.flatMap { case (n, rows) =>
      val w = n.toDouble / math.max(rows.length, 1)
      rows.map(r => (r, w))
    }
    val ord = rowOrdering
    val sorted = cands.sortBy(_._1)(ord)
    val step = total.toDouble / slices
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    var cum = 0.0
    var target = step
    for ((r, w) <- sorted if out.length < slices - 1) {
      cum += w
      if (cum >= target &&
          (out.isEmpty || ord.compare(out.last, r) < 0)) {
        out += r
        target += step
      }
    }
    out.toArray
  }

  /** Field-wise ordering over boundary keys: every orderable Spark
    * external type (boxed primitives, String, Decimal, Date,
    * Timestamp) is a Comparable — non-null by operator contract.
    *
    * Strings MUST NOT use java String.compareTo: that is UTF-16
    * code-unit order, while Spark's row-local slice assignment
    * compares UTF8String bytes (= code-POINT order). The two diverge
    * for supplementary-plane characters (surrogate units 0xD800–0xDFFF
    * sort below e.g. U+FB01 in code-unit order but their code points
    * U+10000+ sort above), which would make the when-chain bounds
    * non-monotone under Spark's ordering and silently renumber rows —
    * so driver-side string comparison goes through UTF8String too.
    * Floating zeros are normalized (-0.0 → 0.0) to match Spark's SQL
    * comparison, where the two are equal; java compareTo orders them.
    */
  private def rowOrdering: Ordering[Row] = new Ordering[Row] {
    private def norm(x: Any): Any = x match {
      case d: java.lang.Double if d.doubleValue() == 0.0 =>
        java.lang.Double.valueOf(0.0)
      case f: java.lang.Float if f.floatValue() == 0.0f =>
        java.lang.Float.valueOf(0.0f)
      case other => other
    }
    def compare(a: Row, b: Row): Int = {
      var i = 0
      while (i < a.length) {
        val c = (a.get(i), b.get(i)) match {
          case (x: String, y: String) =>
            org.apache.spark.unsafe.types.UTF8String.fromString(x)
              .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
          case (x, y) =>
            norm(x).asInstanceOf[Comparable[Any]].compareTo(norm(y))
        }
        if (c != 0) return c
        i += 1
      }
      0
    }
  }

  /** Driver-side offset merge of the tiny per-(slice, group) partial
    * frame: __off = value of EARLIER slices within the group (and
    * optionally the group total). Returns a local-relation DataFrame
    * for the broadcast join — no extra Spark stages for what is a
    * model-sized computation.
    */
  private def offsetFrame(df: DataFrame, group: Seq[String],
                          partials: Array[Row],
                          totalTooCol: Option[String]): DataFrame = {
    val k = group.length
    val byKey = partials.groupBy(r => (1 to k).map(r.get).toIndexedSeq)
    val rows = new java.util.ArrayList[Row](partials.length)
    byKey.foreach { case (_, rs) =>
      val sortedRs = rs.sortBy(_.getInt(0))
      val totalV = rs.map(_.getLong(k + 1)).sum
      var off = 0L
      sortedRs.foreach { r =>
        val base = r.getInt(0) +: (1 to k).map(r.get)
        val tail = totalTooCol match {
          case Some(_) => Seq(off, totalV)
          case None    => Seq(off)
        }
        rows.add(Row.fromSeq(base ++ tail))
        off += r.getLong(k + 1)
      }
    }
    val groupFields = group.map(g => df.schema(g))
    val schema = StructType(
      Seq(StructField("__slice", IntegerType, nullable = false)) ++
        groupFields ++
        Seq(StructField("__off", LongType, nullable = false)) ++
        totalTooCol.map(c => StructField(c, LongType, nullable = false)))
    df.sparkSession.createDataFrame(rows, schema)
  }

  /** SQL-standard ntile bucket from a global rank and group total:
    * n mod k leading buckets of size ceil(n/k), the rest floor(n/k) —
    * exactly Spark's and DuckDB's ntile, as pure integer arithmetic,
    * so it composes with [[groupRowNumber]] into a scalable ntile.
    */
  def ntileFromRank(rank: Column, total: Column, k: Int): Column = {
    val q = ldiv(total, lit(k.toLong))
    val rem = total - q * k
    val big = q + 1L
    // guard the small-bucket divisor: when q = 0 (fewer rows than
    // buckets) every row takes the big-bucket branch, but Spark still
    // evaluates the other branch's expression under ANSI mode
    val qSafe = greatest(q, lit(1L))
    (when(rank <= big * rem, ldiv(rank - 1, big))
      .otherwise(rem + ldiv(rank - 1 - big * rem, qSafe)) + 1)
      .cast("int")
  }

  /** Exact long floor-division for non-negative operands: `/` on longs
    * promotes to double, whose quotient can misround next to 2^52 —
    * subtracting the remainder first keeps every step in exact integer
    * arithmetic.
    */
  private def ldiv(a: Column, b: Column): Column =
    ((a - a % b) / b).cast("long")

  /** percent_rank from a global rank over a TOTAL order (no ties):
    * (rank−1)/(n−1), with the SQL-standard 0.0 for single-row groups.
    * Division happens on identical integer-derived operands in any
    * engine — bit-exact, no rounding needed.
    */
  def percentRankFromRank(rank: Column, total: Column): Column =
    when(total > 1,
      (rank - 1).cast("double") / (total - 1).cast("double"))
      .otherwise(lit(0.0))
}
