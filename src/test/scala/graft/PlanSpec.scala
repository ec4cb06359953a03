package graft

/** Plan-shape regression guards: the properties that make these
  * operators survive a 100 TB scale-up, asserted on the physical plan
  * so a future refactor can't silently trade them away.
  */
class PlanSpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def count(p: String, token: String): Int = p.split(token).length - 1

  /** The closes cell (LedgerTable.Closes, a (ts, event_id, close)
    * struct max) is combined map-side: each map partition sends at
    * most one candidate row per (user, day) cell across the exchange. */
  private val closesPartial = "partial_max(struct(ts"

  test("as-of joins run on a single exchange (union+window, no range join)") {
    for (q <- Seq("q21_asof_join", "q59_asof_tolerance", "q89_asof_forward")) {
      val p = plan(q)
      assert(count(p, "Exchange") == 1, s"$q: expected 1 exchange\n$p")
      assert(count(p, "NestedLoop") == 0, s"$q: nested-loop join crept in")
    }
    // q148's low-cardinality currency key takes the same keyed window
    // plan; its rate dedup adds the second exchange
    val q148 = plan("q148_fx_normalize")
    assert(count(q148, "NestedLoop") == 0, s"q148: nested-loop join crept in\n$q148")
  }

  test("q144 and q113 read events once; q153 and q135 run on one exchange") {
    for (q <- Seq("q144_exchange_calendar", "q113_time_split")) {
      val p = plan(q)
      val scans = p.split("\n").count(l => l.contains("FileScan") && l.contains("events.parquet"))
      assert(scans == 1, s"$q: expected 1 events FileScan, got $scans\n$p")
    }
    for (q <- Seq("q153_trade_sign", "q135_symbology")) {
      val p = plan(q)
      assert(count(p, "Exchange") == 1, s"$q: expected 1 exchange\n$p")
    }
  }

  test("selective filters reach the parquet scan") {
    val p = plan("q2_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("GreaterThanOrEqual(p_size,10"), p)
    // projection pruned: unused columns (e.g. p_brand) not read
    assert(!p.contains("p_brand"), p)
  }

  test("ts range filters push through the loader's cast to the events scan") {
    // the footer-branched micros read exposes ts as a native timestamp
    // column, so a time-range predicate reaches parquet as a pushed
    // filter (row-group pruning at scale) — impossible under the old
    // raw-long read, where the filter sat above timestamp_micros(div)
    import org.apache.spark.sql.functions._
    val p = Tables.events(spark, sf)
      .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp"))
      .queryExecution.executedPlan.toString
    assert(p.contains("GreaterThanOrEqual(ts,"), p)
  }

  test("dimension chains broadcast instead of shuffling the fact side") {
    val p = plan("q4_broadcast_join")
    assert(count(p, "BroadcastHashJoin") == 2, p)
    assert(count(p, "SortMergeJoin") == 0, p)
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q9_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("exact dedup aggregates partially before the shuffle") {
    val p = plan("q31_dedup_exact")
    assert(count(p, "HashAggregate") >= 2, p) // partial + final
    assert(count(p, "Exchange") == 1, p)
  }

  test("IVF assignment adds no shuffle beyond the candidate join") {
    // q44 itself now emits a one-row certification (LocalTableScan), so
    // guard the underlying operator's plan directly
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val p = operators.Ann.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 3)
      .queryExecution.executedPlan.toString
    assert(count(p, "Exchange") <= 3, s"IVF plan regressed:\n$p")
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p)
  }

  test("lineitem scans read only the projected columns") {
    val p = plan("q6_selective_filter")
    // q6 needs 4 columns; the scan schema must not include the rest
    assert(p.contains("l_extendedprice") && !p.contains("l_returnflag"), p)
  }

  test("keyed window + same-key agg share one exchange (q73/q81)") {
    // the window shuffles on user_id and the following groupBy(user_id)
    // reuses that partitioning — a second exchange here would double the
    // shuffle volume of every per-key time-series metric at 100 TB
    for (q <- Seq("q73_drawdown", "q81_twap")) {
      val p = plan(q)
      assert(count(p, "Exchange") == 1, s"$q: expected 1 exchange\n$p")
    }
  }

  test("scalable rank: auto picks the optimal plan per size, forced two-pass never windows a bare group (q128/q133/q123)") {
    // event_type has ~5 values; a window hash-partitioned on it alone
    // means one task per type holding 20% of the table — a straggler
    // at 100 TB, but the OPTIMAL plan at test scale. Rank picks the
    // plan from input statistics (like Spark's own broadcast-join
    // threshold): tiny inputs take the plain window, big inputs the
    // two-pass slice plan. Guard both sides of that contract.
    import org.apache.spark.sql.functions.{col, size => asize}
    // (a) at test scale, auto mode must NOT pay the two-pass overhead
    for (q <- Seq("q128_ntile_bins", "q133_rank_normalize",
                  "q123_pack_chunks", "q101_winsorized",
                  "q90_weighted_median", "q83_concurrency", "q115_acf")) {
      val p = plan(q)
      assert(!p.contains("__slice"),
        s"$q: two-pass machinery engaged on a tiny input\n$p")
    }
    // (b) the forced two-pass plan slices every data-sized window:
    // each windowspecdefinition that touches the data must be keyed by
    // __slice, and no bare group-only rank window may appear
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("value"))
    val forced = operators.Rank.groupRowNumber(ev,
      Seq("event_type"), Seq("value", "event_id"), "r", "n_total",
      twoPass = Some(true))
    val fp = forced.queryExecution.executedPlan.toString
    val winSpecs = fp.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpecs.nonEmpty, fp)
    assert(winSpecs.forall(_.contains("__slice")),
      s"two-pass plan windows the data without a slice key:\n$fp")
    // exactly one data-sized exchange: the window's (__slice, group)
    // hash partition; the rest is the tiny offsets LocalRelation side
    assert(fp.contains("hashpartitioning(__slice"), fp)
    assert(!fp.contains("rangepartitioning"),
      s"range exchange reappeared (the non-reused-exchange shape):\n$fp")
    // (c) running sum takes the same sliced shape when forced
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        asize(functions.Text.tokens(col("text"))).as("n_tok"))
    val fsum = operators.Rank.groupRunningSum(docs,
      Seq("source"), Seq("doc_id"), "n_tok", "cum", twoPass = Some(true))
    val fsp = fsum.queryExecution.executedPlan.toString
    assert(fsp.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(_.contains("__slice")), fsp)
    assert(!fsp.contains("mapPartitions") && !fsp.contains("DeserializeToObject"),
      s"row-codec mapPartitions crept back into the running sum:\n$fsp")
    // (d) q101's thresholds stay rank-derived order statistics — no
    // percentile aggregate (which buffers a whole group in one task)
    val p101 = plan("q101_winsorized")
    assert(!p101.contains("percentile"), s"group-buffering percentile crept back\n$p101")
  }

  test("top-n per group pushes the rank limit below the shuffle") {
    val p = plan("q78_topn_per_group")
    // agg-first + integer keys let Spark apply WindowGroupLimit on the
    // map side: only ~3 rows per brand cross the window exchange
    assert(p.contains("WindowGroupLimit"), p)
    assert(count(p, "BroadcastHashJoin") == 1 && count(p, "SortMergeJoin") == 0, p)
  }

  test("MAD outlier screen joins its stats frames by broadcast only") {
    val p = plan("q80_mad_outliers")
    assert(count(p, "SortMergeJoin") == 0, p)
    assert(count(p, "BroadcastHashJoin") == 3, p)
  }

  test("Q22 shape: scalar subquery broadcasts, NOT EXISTS is a broadcast anti join") {
    val p = plan("q77_no_order_customers")
    assert(p.contains("LeftAnti"), p)
    assert(count(p, "SortMergeJoin") == 0, p)
  }

  test("beta joins the broadcast market series without a fact shuffle") {
    val p = plan("q76_beta")
    assert(count(p, "SortMergeJoin") == 0, p)
    assert(count(p, "BroadcastHashJoin") == 1, p)
  }

  test("sweep-line concurrency runs on two exchanges") {
    val p = plan("q83_concurrency")
    assert(count(p, "Exchange") <= 2, s"q83 plan regressed:\n$p")
  }

  test("vwap scan is pruned to the four needed columns") {
    val p = plan("q74_vwap")
    assert(p.contains("l_extendedprice") && !p.contains("l_discount") &&
      !p.contains("l_orderkey"), p)
  }

  test("AQE splits a skewed sort-merge join at runtime") {
    // the runtime complement to Skew.saltedJoin: one hot key big enough
    // (with thresholds scaled to test data) that AQE's skew handling
    // splits its partition — visible as skew=true in the adaptive plan
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val restore = Seq(
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pad = "x" * 64
      val fact = ((1 to 100000).map(_ => 1L) ++ (1 to 50).flatMap(k =>
        Seq.fill(20)(k + 1L))).toDF("k").withColumn("pad", lit(pad))
      val dim = (1L to 60L).map(k => (k, s"d_$k")).toDF("dk", "dv")
      val joined = fact.join(dim, $"k" === $"dk")
      // collect() drives joined's OWN query execution — count() would
      // plan a separate aggregate and leave this one unexecuted
      // (isFinalPlan=false, no runtime re-optimization to inspect)
      assert(joined.collect().length == 100000 + 50 * 20)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"AQE did not split the skewed join:\n$p")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filters prune the q3/q5 fact scans at scale-representative confs") {
    // Spark's InjectRuntimeFilter: the selective o_orderdate filter on
    // orders becomes a bloom filter evaluated against lineitem BEFORE
    // its shuffle — at 100 TB this cuts the biggest exchange in each
    // query by the orders selectivity with no hand-written semi-join.
    // At test scale two production gates hide the rewrite: the 10 GB
    // application-side scan threshold (sf0.001 is KB) and the
    // broadcast threshold (a broadcast-able orders side needs no
    // bloom). This spec pins ELIGIBILITY of the real builders: under
    // the conf state a 1000-executor cluster actually runs — fact
    // scans ≥ 10 GB, orders beyond broadcast size — the production
    // q3/q5 plans must carry might_contain on the lineitem side. The
    // explicit broadcast() hints on the true dims (customer, supplier,
    // nation) are unaffected. Oracle output cannot change: the filter
    // is pure pruning.
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"
    ).map { case (k, v) =>
      val old = spark.conf.getOption(k); spark.conf.set(k, v); k -> old
    }
    try {
      for (q <- Seq("q3_join_agg", "q5_multi_join")) {
        val p = SparkEntry.queries(q)(spark, sf)
          .queryExecution.optimizedPlan.toString
        assert(p.contains("might_contain"),
          s"$q: no runtime bloom filter on the fact side\n$p")
        assert(p.contains("bloom_filter_agg"),
          s"$q: creation-side aggregate missing\n$p")
      }
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("chunking is shuffle-free (row-local explode, no exchange)") {
    val p = plan("q93_chunking")
    assert(count(p, "Exchange") == 0, s"q93: expected 0 exchanges\n$p")
    assert(p.contains("Generate explode"), p)
  }

  test("rolling vol stacks both window passes on one exchange") {
    val p = plan("q97_rolling_vol")
    assert(count(p, "Exchange") == 1, s"q97: expected 1 exchange\n$p")
  }

  test("global-dim as-of broadcasts the factor table, never shuffles events") {
    val p = plan("q98_factor_adjust")
    // the event side must reach the join without an exchange: the only
    // exchanges allowed belong to the tiny factor-dim aggregation
    // (groupBy day) and its single-partition interval window.
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the only SHUFFLE exchanges belong to the tiny factor dim (its
    // groupBy-day agg + the single-partition interval window); the
    // event side reaches the join scan-direct.
    val shuffles = count(p, "Exchange") - count(p, "BroadcastExchange")
    assert(shuffles <= 2, s"q98: event side shuffled\n$p")
  }

  test("q115 acf: positional lags come from rank + equi-join, not lag windows") {
    // the r7 rewire: lag() over PARTITION BY event_type put 1/5 of the
    // table in one task; now the only window is the (auto-mode, small
    // scale) row_number, the lags arrive via the shifted equi-join,
    // and the pivot aggregate runs straight on the join output
    val p = plan("q115_acf")
    assert(!p.contains("lag("), s"low-cardinality lag window crept back\n$p")
    assert(count(p, "Window") <= 1, s"only the rank window may appear\n$p")
    assert(p.contains("Generate explode"), s"shifted-copy explode missing\n$p")
  }

  test("q117 cross-corr joins the tiny daily frames by broadcast only") {
    val p = plan("q117_cross_corr")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(count(p, "SortMergeJoin") == 0, s"pair join must not shuffle\n$p")
  }

  test("q127 skew profile broadcasts its one-row stats frame") {
    val p = plan("q127_skew_profile")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(count(p, "SortMergeJoin") == 0, p)
  }

  test("pagerank iteration joins the broadcast vertex frame; edges never sort-merge") {
    val p = operators.Graph.pageRank(
      operators.Graph.coOrderEdges(Tables.lineitem(spark, sf)), iterations = 1)
      .queryExecution.executedPlan.toString
    assert(count(p, "SortMergeJoin") == 0, s"rank join must broadcast\n$p")
  }

  test("forced shuffle-state graph iteration carries no vertex broadcast") {
    // the 100-TB fallback: vertex state too big to ship — the
    // iteration joins must hash-partition, with NO broadcast feeding
    // the rank join (the bench's x_pagerank_shuffle / x_bfs_shuffle
    // entries price this exact plan under load). The returned frame is
    // a lineage-cut checkpoint scan, so the iteration plans are only
    // observable through an execution listener at materialization time.
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      def onFailure(funcName: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      operators.Graph.pageRank(
        operators.Graph.coOrderEdges(Tables.lineitem(spark, sf)),
        iterations = 1, broadcastState = Some(false)).count()
      // the listener bus is async: poll for the iteration plan (the
      // one carrying the contrib aggregate's `mass` column)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def iterPlans = plans.synchronized {
        plans.filter(_.contains("mass")).toList }
      while (iterPlans.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      val ip = iterPlans
      assert(ip.nonEmpty, s"no iteration plan observed among ${plans.size}")
      // the STATE joins reference the vertex key `part`; the edge-build
      // self-join (on the order key) may legitimately broadcast its
      // small side at test scale — only state must stay off broadcast
      ip.foreach { p =>
        val stateBcast = p.linesIterator.filter(l =>
          l.contains("BroadcastHashJoin") && l.contains("part#")).toSeq
        assert(stateBcast.isEmpty,
          s"shuffle-state path still broadcasts the vertex state\n$p")
        assert(p.linesIterator.exists(l =>
          (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
            l.contains("part#")), p)
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("BM25 top-10 plans as TakeOrderedAndProject with scan-side term filter") {
    val df = SparkEntry.queries("q163_bm25_search")(spark, sf)
    df.collect() // AQE finalizes stage reuse only on execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    // tf feeds both the scorer and the df derivation off ONE pinned
    // exchange — the corpus tokenize+explode must not run per consumer
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"), p)
  }

  test("multi-horizon markout runs all horizons on one tape exchange") {
    // the 3 horizon copies ride the SAME union+window pass as the tape:
    // one user_id data exchange, one 3-row agg exchange, no range join
    val p = plan("q155_markout")
    assert(count(p, "Exchange") == 2, s"q155: expected 2 exchanges\n$p")
    assert(count(p, "NestedLoop") == 0, p)
  }

  test("tick-sign carry + daily rollup share a single tape exchange") {
    // q156 (diff + carry-forward + OFI) and q157 (day-keyed returns +
    // RV) each cluster every window and the rollup on the same keys:
    // a second tape shuffle here doubles the dominant cost at 100 TB
    for (q <- Seq("q156_order_imbalance", "q157_realized_variance",
        "q160_conflate", "q170_kyle_lambda", "q179_vpin",
        "q181_event_study", "q188_realized_moments",
        // q191's (user, day) rollup rides the tape exchange too: hash
        // partitioning on user_id alone satisfies the rollup's
        // ClusteredDistribution (same (u, d) ⇒ same u ⇒ co-located);
        // q196's (user, grp) run agg and user rollup likewise
        "q191_effective_spread", "q196_underwater",
        // q201's lag-pair window + moment rollup both key on user_id;
        // q203's (user, day) arrival window + (user, day, arr6) rollup
        // and q207's (user, minute) bin + user rollup ride hash subsets
        "q201_ar1_halflife", "q203_impl_shortfall", "q207_burstiness",
        // q235's six lag windows + the (user, day) kernel rollup all
        // cluster on the same tape keys
        "q235_realized_kernel")) {
      val p = plan(q)
      assert(count(p, "Exchange") == 1, s"$q: expected 1 exchange\n$p")
    }
  }

  test("r13 trio pins: q219/q222/q224 each run on exactly two exchanges") {
    // q219: tape exchange (instrument-keyed day collapse + lead window
    // + monthly rollup ride one hash) + the final month agg exchange.
    // q222: tape exchange to (instrument, day) volumes + the day-keyed
    // share window / day rollup exchange — heavy reduction FIRST, so
    // the second exchange carries (instrument, day) groups, not ticks.
    // q224: map-side-combined (user, type) count exchange + the
    // per-user modal window exchange carrying groups, not events.
    // A third exchange in any of these means a window or rollup
    // stopped riding its tape partitioning — the 100-TB regression.
    for (q <- Seq("q219_corwin_schultz", "q222_hhi", "q224_group_mode")) {
      val p = plan(q)
      assert(count(p, "Exchange") == 2, s"$q: expected 2 exchanges\n$p")
      assert(count(p, "NestedLoop") == 0, s"$q: nested-loop crept in\n$p")
    }
  }

  test("r14 volatility family pins: q220/q223 two exchanges; q221 ledger join stays windowed-pruned") {
    // q220/q223: one tape-collapsing aggregation exchange + one
    // instrument rollup exchange — the q219 shape.
    for (q <- Seq("q220_garman_klass", "q223_parkinson")) {
      val p = plan(q)
      assert(count(p, "Exchange") == 2, s"$q: expected 2 exchanges\n$p")
      assert(count(p, "NestedLoop") == 0, s"$q: nested-loop crept in\n$p")
    }
    // q221 joins TWO ledgers: closes agg + volume agg (both keyed
    // (user, day)) + one group-sized hash(user) exchange for the
    // OBV windows; at dim scale the join side broadcasts (4th
    // exchange). The load-bearing pins: the closes cell is pre-pruned
    // by its map-side partial max (the tape never carries more than
    // one candidate row per cell per map partition to the exchange),
    // and no nested-loop anywhere.
    val p = plan("q221_obv")
    assert(count(p, "Exchange") <= 4, s"q221: expected <= 4 exchanges\n$p")
    assert(p.contains(closesPartial), p)
    assert(count(p, "NestedLoop") == 0, p)
  }

  test("r14b volatility family pins: q225-q227/q229-q232 two exchanges; q228 ledger join adds only the rollup") {
    // q225: the q220 shape — one tape-collapsing OHLC aggregation
    // exchange + one instrument rollup exchange. q226/q229: the lag
    // window AND the rollup both ride one hash(user) exchange after
    // the tape collapse (hash on a subset of the collapse keys — the
    // q191 discipline). q227: BOTH rolling frames (14-day and 3-day)
    // plus the rollup on that same hash(user) exchange. A third
    // exchange means a window stopped riding the tape partitioning —
    // the 100-TB regression.
    for (q <- Seq("q225_rogers_satchell", "q226_yang_zhang",
        "q227_stochastic", "q229_atr", "q230_ulcer", "q231_donchian",
        "q232_overnight_gap", "q236_calmar")) {
      val p = plan(q)
      assert(count(p, "Exchange") == 2, s"$q: expected 2 exchanges\n$p")
      assert(count(p, "NestedLoop") == 0, s"$q: nested-loop crept in\n$p")
    }
    // q228 composes TWO ledgers (OHLC x volume), both collapsing on
    // (user, day): the join rides the collapse exchanges (or AQE
    // broadcasts the volume side at dim scale), leaving only the
    // instrument rollup as the extra shuffle — never a 5th exchange,
    // never a nested loop.
    val p = plan("q228_cmf")
    assert(count(p, "Exchange") <= 4, s"q228: expected <= 4 exchanges\n$p")
    assert(count(p, "NestedLoop") == 0, p)
  }

  test("r14c return-statistics pins: q240 rides the tape on two exchanges; q239 ledger join stays bounded and window-pruned") {
    // q240 (Roll spread): the closes collapse exchange + one
    // hash(user) exchange shared by the two lag windows AND the
    // instrument rollup — the q226 discipline.
    val p240 = plan("q240_roll_spread_daily")
    assert(count(p240, "Exchange") == 2, s"q240: expected 2 exchanges\n$p240")
    assert(count(p240, "NestedLoop") == 0, p240)
    // q239 (Amihud): third two-ledger composition — the q221/q228
    // contract: both collapses + the join riding them (or an AQE
    // broadcast) + the instrument rollup, never a 5th exchange; the
    // closes cell stays pre-pruned by its map-side partial max.
    val p239 = plan("q239_amihud_daily")
    assert(count(p239, "Exchange") <= 4, s"q239: expected <= 4 exchanges\n$p239")
    assert(p239.contains(closesPartial), p239)
    assert(count(p239, "NestedLoop") == 0, p239)
  }

  test("r14d family pins: q241/q243 two exchanges, q244 one, q245 three, q242 two-ledger bounded") {
    // q241 Aroon / q243 Vortex: the OHLC tape collapse + one
    // hash(user) exchange shared by the sequencing/lag windows, the
    // 20/14-bar rolling frames AND the instrument rollup.
    for (q <- Seq("q241_aroon", "q243_vortex")) {
      val p = plan(q)
      assert(count(p, "Exchange") == 2, s"$q: expected 2 exchanges\n$p")
      assert(count(p, "NestedLoop") == 0, s"$q: nested-loop crept in\n$p")
    }
    // q244 Flesch: row-local tokenize (no explode — the corpus never
    // shuffles at token grain) + ONE map-side-combined source rollup.
    val p244 = plan("q244_flesch")
    assert(count(p244, "Exchange") == 1, s"q244: expected 1 exchange\n$p244")
    assert(count(p244, "Generate") == 0, s"q244: explode crept in\n$p244")
    // q245 weekday effect: closes collapse + hash(user) lag window +
    // the <=7-group weekday rollup (map-side partials, seven rows per
    // partition cross the wire). A 4th exchange means a sort or
    // window stopped riding its partitioning.
    val p245 = plan("q245_weekday_effect")
    assert(count(p245, "Exchange") == 3, s"q245: expected 3 exchanges\n$p245")
    assert(count(p245, "NestedLoop") == 0, p245)
    // q242 MFI: fourth two-ledger composition — the q221/q228/q239
    // contract (both collapses + join riding them or AQE-broadcast +
    // rollup, never a 5th exchange).
    val p242 = plan("q242_mfi")
    assert(count(p242, "Exchange") <= 4, s"q242: expected <= 4 exchanges\n$p242")
    assert(count(p242, "NestedLoop") == 0, p242)
    // q246 Kendall IC: the quadratic pair space is bounded by the
    // 50-row BROADCAST universe (the q202 discipline) — a shuffled
    // pair join over the full instrument count would be the 100-TB
    // regression; q247: the day-pooled index mean broadcasts back
    // onto the return frame, never re-shuffling the instrument key.
    for (q <- Seq("q246_kendall_ic", "q247_information_ratio")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: broadcast lost\n$p")
      assert(count(p, "NestedLoop") == 0, s"$q: nested-loop crept in\n$p")
    }
  }

  test("r14e family pins: risk-ratio closes tails q248/q249/q251 two exchanges, q250 broadcasts the index") {
    // q248 Sortino / q251 Omega: closes collapse + one hash(user)
    // exchange shared by the lag window and the instrument rollup —
    // the q240 shape. q249 ES: the rank window (different sort, SAME
    // partitioning) and the tail rollup ride that second exchange
    // too — a 3rd exchange means the rank window stopped reusing the
    // hash(user) partitioning and the tail selection re-shuffles the
    // tape at scale.
    for (q <- Seq("q248_sortino", "q249_expected_shortfall",
        "q251_omega")) {
      val p = plan(q)
      assert(count(p, "Exchange") == 2, s"$q: expected 2 exchanges\n$p")
      assert(count(p, "NestedLoop") == 0, s"$q: nested-loop crept in\n$p")
      assert(p.contains(closesPartial),
        s"$q: closes cell lost its map-side partial max\n$p")
    }
    // q250 capture: the day-pooled index frame must BROADCAST back
    // onto the return frame (the q247 discipline) — a shuffled day
    // join would re-key the whole tape on day at 100 TB.
    val p250 = plan("q250_capture")
    assert(p250.contains("BroadcastHashJoin"), s"q250: broadcast lost\n$p250")
    assert(count(p250, "NestedLoop") == 0, p250)
  }

  test("r14f family pins: q252 one exchange no explode, q253 two, q254 one tape scan") {
    // q252 ARI/CLI: the q244 discipline — row-local tokenize, one
    // map-side-combined source rollup, the corpus never shuffles at
    // token grain.
    val p252 = plan("q252_ari_cli")
    assert(count(p252, "Exchange") == 1, s"q252: expected 1 exchange\n$p252")
    assert(count(p252, "Generate") == 0, s"q252: explode crept in\n$p252")
    // q253 TTR: (source, token) count + source rollup — two
    // map-side-combined exchanges, token stream never self-joined.
    val p253 = plan("q253_ttr")
    assert(count(p253, "Exchange") == 2, s"q253: expected 2 exchanges\n$p253")
    // q254 price clustering: ONE FileScan — the pooled total rides a
    // ten-row single-partition window over the reduced digit frame;
    // a second scan means the broadcast-scalar anti-pattern (column
    // pruning defeats exchange reuse and the tape is read twice)
    // crept back in.
    val p254 = plan("q254_price_clustering")
    assert(count(p254, "Exchange") == 2, s"q254: expected 2 exchanges\n$p254")
    assert(count(p254, "FileScan parquet") == 1,
      s"q254: the tape is scanned more than once\n$p254")
    assert(count(p254, "NestedLoop") == 0, p254)
  }

  test("r14g family pins: q255 wedge reuse, q256 histogram-sized tail, q257/q258 broadcast pair spaces") {
    // q255 local cc: the q175 contract — degree-oriented wedge join
    // with the r16 Bloom-prefiltered closing probe. The operator now
    // materializes eagerly (persist + exact-count Bloom sizing), so the
    // returned frame is a checkpoint scan and the REAL plans are only
    // observable through an execution listener (the forced-shuffle
    // pageRank pin's pattern): the wedge-join plan must carry the
    // Bloom membership probe (getbit) BELOW the closing exchange, the
    // pinned hash(a) oriented materialization must be REUSED across
    // its consumers, and no plan may contain a cartesian product.
    val plans255 = scala.collection.mutable.ArrayBuffer.empty[String]
    val l255 = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        plans255.synchronized { plans255 += qe.executedPlan.toString }
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l255)
    try {
      SparkEntry.queries("q255_local_cc")(spark, sf).collect()
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def wedgePlans = plans255.synchronized {
        plans255.filter(p => p.contains("getbit")).toList }
      while (wedgePlans.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      val wp = wedgePlans
      assert(wp.nonEmpty,
        s"q255: no Bloom-probed wedge plan observed among ${plans255.size}")
      assert(wp.exists(p => p.contains("ReusedExchange") ||
          p.contains("ReusedQueryStage")),
        s"q255: oriented edge materialization recomputed per consumer\n${wp.head}")
      plans255.synchronized(plans255.toList).foreach { p =>
        assert(count(p, "CartesianProduct") == 0, p)
      }
    } finally spark.listenerManager.unregister(l255)
    // q256 Hill tail: everything after the degree count is
    // histogram-sized — no joins, no window, no nested loop.
    val p256 = plan("q256_degree_tail")
    assert(count(p256, "NestedLoop") == 0, p256)
    assert(count(p256, "Window") == 0, p256)
    // q257 centroid drift / q258 two-NN id: the only quadratic stage
    // must be a BROADCAST pair join (|labels|² resp. capped-slice —
    // a shuffled non-equi pair join would be the 100-TB regression),
    // and every nested-loop instance must BE that broadcast join.
    for (q <- Seq("q257_centroid_drift", "q258_two_nn_id",
        "q266_hubness")) {
      val p = plan(q)
      assert(count(p, "CartesianProduct") == 0, s"$q\n$p")
      assert(p.contains("BroadcastNestedLoopJoin"), s"$q: broadcast lost\n$p")
      assert(count(p, "NestedLoop") == count(p, "BroadcastNestedLoopJoin"),
        s"$q\n$p")
    }
    // q257's centroid collapse must happen before the pair space: the
    // pair join's inputs are label-cardinality aggregates, and at
    // runtime the corpus-reducing exchange materializes once.
    val df257 = SparkEntry.queries("q257_centroid_drift")(spark, sf)
    df257.collect()
    val p257r = df257.queryExecution.executedPlan.toString
    assert(p257r.contains("ReusedExchange") ||
      p257r.contains("ReusedQueryStage"),
      s"q257: centroid collapse recomputed per pair side\n$p257r")
    // q260 index beta: the day-pooled index broadcasts back onto the
    // return frame (the q247/q250 discipline).
    val p260 = plan("q260_index_beta")
    assert(p260.contains("BroadcastHashJoin"), s"q260: broadcast lost\n$p260")
    assert(count(p260, "NestedLoop") == 0, p260)
  }

  test("r14i family pins: q261/q262 two exchanges, q263 month-ranks ride hash(user)") {
    // q261 runs test: the sign-lag window rides the SAME hash(user)
    // exchange as the return lag (the filter preserves partitioning);
    // q262 Ljung–Box: the demeaning window, all five lag columns and
    // the rollup share one sort (the q115 discipline).
    for (q <- Seq("q261_runs_test", "q262_ljung_box")) {
      val p = plan(q)
      assert(count(p, "Exchange") == 2, s"$q: expected 2 exchanges\n$p")
      assert(count(p, "NestedLoop") == 0, s"$q: nested-loop crept in\n$p")
      assert(p.contains(closesPartial), p)
    }
    // q263 turn of month: the (user, month) rank windows are
    // SATISFIED by hash(user) — a 4th exchange means Spark stopped
    // recognizing the subset partitioning and re-shuffles the tape
    // at month grain.
    val p263 = plan("q263_turn_of_month")
    assert(count(p263, "Exchange") == 3, s"q263: expected 3 exchanges\n$p263")
    assert(count(p263, "NestedLoop") == 0, p263)
    // q264 PACF shares q262's one-sort machinery.
    val p264 = plan("q264_pacf")
    assert(count(p264, "Exchange") == 2, s"q264: expected 2 exchanges\n$p264")
    assert(count(p264, "NestedLoop") == 0, p264)
    // q265 tail dependence: the quadratic pair space is bounded by
    // the 50-row BROADCAST universe (the q202/q246 discipline) — a
    // shuffled pair join over the full instrument count would be the
    // 100-TB regression.
    val p265 = plan("q265_tail_dependence")
    assert(p265.contains("BroadcastHashJoin"), s"q265: broadcast lost\n$p265")
    assert(count(p265, "NestedLoop") == 0, p265)
    // q267 cross-sectional dispersion: collapse + hash(user) lag +
    // day rollup (the q245 3-exchange budget); q268 breadth adds one
    // single-partition exchange for the AD line — but over the
    // ALREADY-REDUCED ≤n_days frame, never the tape.
    val p267 = plan("q267_cross_dispersion")
    assert(count(p267, "Exchange") == 3, s"q267: expected 3 exchanges\n$p267")
    assert(count(p267, "NestedLoop") == 0, p267)
    val p268 = plan("q268_market_breadth")
    assert(count(p268, "Exchange") == 4, s"q268: expected 4 exchanges\n$p268")
    assert(count(p268, "NestedLoop") == 0, p268)
  }

  test("r14j family pins: q269/q270 ride the closes exchanges, q271 pair space broadcast-bounded, q272 two-ledger budget, q273 bloom prunes before the merge join") {
    // q269 Jarque–Bera: all four moment sums reduce in ONE aggregate on
    // the hash(user) lag exchange (the q248 2-exchange shape).
    val p269 = plan("q269_jarque_bera")
    assert(count(p269, "Exchange") == 2, s"q269: expected 2 exchanges\n$p269")
    assert(count(p269, "NestedLoop") == 0, p269)
    // q270 risk parity: collapse + hash(user) moments + ONE
    // single-partition exchange for the Σ(1/σ) normalizer — over the
    // already-reduced ≤|universe| frame, never the tape (q268 rule).
    val p270 = plan("q270_risk_parity")
    assert(count(p270, "Exchange") == 3, s"q270: expected 3 exchanges\n$p270")
    assert(count(p270, "SinglePartition") == 1, s"q270: normalizer must be one single-partition window\n$p270")
    // q271 Mann–Kendall: the quadratic stage is bounded by the 50-row
    // BROADCAST universe and the pair join itself broadcasts the
    // smaller side (≤|universe|·n_days rows) — never a shuffled
    // tape-squared join; the Sen median rides the pair rollup (one
    // pass over the pair space, q254 exchange-reuse lesson).
    val p271 = plan("q271_mann_kendall")
    assert(p271.contains("BroadcastHashJoin"), s"q271: broadcast lost\n$p271")
    assert(count(p271, "NestedLoop") == 0, p271)
    assert(count(p271, "Exchange") <= 17, s"q271: spine recompute grew\n$p271")
    // q272 EOM: the two-ledger join + midpoint lag + rollup fit the
    // q242 four-exchange budget.
    val p272 = plan("q272_eom")
    assert(count(p272, "Exchange") <= 4, s"q272: expected <=4 exchanges\n$p272")
    assert(count(p272, "NestedLoop") == 0, p272)
    // q273 Bloom prune: the fact side passes the column-native bitmap
    // test (getbit — codegen, no UDF) BEFORE the sort-merge join's
    // exchange; the bitmap itself arrives as a broadcast scalar row
    // (the one legitimate NestedLoop), and the dimension side stays a
    // merge join — the honest 100-TB shape where neither join side
    // fits a broadcast but the 128 KB bitmap always does.
    val p273 = plan("q273_bloom_prune")
    assert(count(p273, "SortMergeJoin") == 1, s"q273: merge join lost\n$p273")
    assert(count(p273, "BroadcastNestedLoopJoin") == 1, s"q273: bitmap must be one broadcast scalar\n$p273")
    assert(p273.contains("getbit"), s"q273: bloom membership test lost\n$p273")
  }

  test("r14k family pins: q274 adjacency reuse + no wedge fan-out, q275 histogram quantile never sorts the corpus") {
    // q274 edge Jaccard: the adjacency materializes ONCE as an eager
    // layout-keeping checkpoint (the r16 rework — every consumer reads
    // the same hash(dst) blocks instead of re-shuffling), so the plan
    // reads checkpoint scans only (no FileScan — a consumer re-running
    // the edge self-join would show one) and stays plain equi-joins:
    // no nested loop, no cartesian, no wedge fan-out.
    val df274 = SparkEntry.queries("q274_edge_jaccard")(spark, sf)
    df274.collect()
    val p274 = df274.queryExecution.executedPlan.toString
    assert(count(p274, "NestedLoop") == 0, p274)
    assert(count(p274, "CartesianProduct") == 0, p274)
    assert(count(p274, "FileScan") == 0,
      s"q274: a consumer re-ran the edge self-join\n$p274")
    assert(p274.contains("TakeOrderedAndProject"), s"q274: top-k lost\n$p274")
    // q275 perplexity filter: the global-decile machinery must keep
    // every broadcast-scalar crossJoin (totals, the 9-row rank and
    // threshold frames) as broadcast nested loops — exactly four, all
    // constant-sized — and the cumulative window runs over the REDUCED
    // histogram, which the plan shows as a single-partition exchange
    // fed by an aggregate (never a corpus-wide sort).
    val p275 = plan("q275_perplexity_filter")
    assert(count(p275, "BroadcastNestedLoopJoin") == 4,
      s"q275: expected exactly 4 broadcast-scalar joins\n$p275")
    assert(count(p275, "CartesianProduct") == 0, p275)
    assert(p275.contains("SinglePartition"), p275)
    // q276 Newey–West rides q262's one-sort machinery: demeaning
    // window, five lag columns, Σr and all six co-moment sums in one
    // rollup — two exchanges total.
    val p276 = plan("q276_newey_west")
    assert(count(p276, "Exchange") == 2, s"q276: expected 2 exchanges\n$p276")
    assert(count(p276, "NestedLoop") == 0, p276)
    // q277 cluster purity: the vector table is touched ONCE through
    // q171's broadcast-centroid assignment; every NL is a
    // broadcast-of-a-small-frame crossJoin (centroids + the one-row
    // entropy/total frames), and the contingency machinery never
    // cartesians.
    val p277 = plan("q277_cluster_purity")
    assert(count(p277, "BroadcastNestedLoopJoin") == 5,
      s"q277: expected exactly 5 broadcast-scalar joins\n$p277")
    assert(count(p277, "CartesianProduct") == 0, p277)
    // q278 Fama–MacBeth: the (user→day→scalar) reduction ladder —
    // collapse, hash(user) lags, day rollup, one final aggregate; a
    // 5th exchange would mean the panel stopped reducing map-side.
    val p278 = plan("q278_fama_macbeth")
    assert(count(p278, "Exchange") == 4, s"q278: expected 4 exchanges\n$p278")
    assert(count(p278, "NestedLoop") == 0, p278)
    // q279 dup-cluster census: the dedup candidate machinery stays
    // df-capped (no cartesian anywhere); the corpus and clustered
    // totals are the only NLs — both broadcast scalars.
    val p279 = plan("q279_dup_cluster_census")
    assert(count(p279, "BroadcastNestedLoopJoin") == 2,
      s"q279: expected 2 broadcast-scalar joins\n$p279")
    assert(count(p279, "CartesianProduct") == 0, p279)
    // q280 rank persistence: the three-key ladder (user/day/user/day)
    // — five exchanges, each stage reduced before the next.
    val p280 = plan("q280_rank_persistence")
    assert(count(p280, "Exchange") == 5, s"q280: expected 5 exchanges\n$p280")
    assert(count(p280, "NestedLoop") == 0, p280)
  }

  test("r14n families: q282 rides the closes collapse, q283 one tape rollup, q284 collapses the tape once, q285 blooms before the semi-join") {
    // q282 drawdown spells: the q248 closes-tail shape — tape
    // collapse + ONE hash(user) exchange that the peak/spell windows,
    // the (user, spell) rollup, and the per-user census all ride.
    val p282 = plan("q282_drawdown_spells")
    assert(count(p282, "Exchange") == 2, s"q282: expected 2 exchanges\n$p282")
    assert(count(p282, "NestedLoop") == 0, p282)
    // q283 price clustering: one map-side-combined rollup, no window,
    // no join — a single exchange carrying |instruments| rows.
    val p283 = plan("q283_price_clustering")
    assert(count(p283, "Exchange") == 1, s"q283: expected 1 exchange\n$p283")
    assert(count(p283, "NestedLoop") == 0, p283)
    // q284 corr regime: NO pair join anywhere (the identity replaces
    // the q202-family quadratic scan) — every join is a broadcast of
    // a bounded frame (universe / common days / 20-row stats), and
    // the tape collapses exactly ONCE: the returns frame
    // localCheckpoints (broadcast-join build sides defeat exchange
    // reuse, measured), so the query plan must read the checkpointed
    // blocks and contain ZERO parquet re-scans.
    val p284 = plan("q284_corr_regime")
    assert(count(p284, "NestedLoop") == count(p284, "BroadcastNestedLoopJoin"),
      p284)
    assert(count(p284, "CartesianProduct") == 0, p284)
    assert(count(p284, "SortMergeJoin") == 0,
      s"q284: a shuffled join crept into the broadcast-only plan\n$p284")
    assert(count(p284, "FileScan") == 0,
      s"q284: a consumer re-scanned the tape past the lineage cut\n$p284")
    assert(p284.contains("ExistingRDD"),
      s"q284: checkpointed returns frame not in the plan\n$p284")
    // q285 bloom decontamination: the getbit membership test prunes
    // the gram stream BEFORE the exact confirm semi-join; the bloom
    // broadcast is the plan's only nested loop.
    val p285 = plan("q285_bloom_decontaminate")
    assert(p285.contains("getbit"), s"q285: bloom prefilter lost\n$p285")
    assert(count(p285, "CartesianProduct") == 0, p285)
    assert(count(p285, "NestedLoop") == count(p285, "BroadcastNestedLoopJoin"),
      p285)
    assert(count(p285, "BroadcastNestedLoopJoin") == 1,
      s"q285: expected exactly the bloom broadcast NL\n$p285")
  }

  test("r14o families: q286 one rollup, q287 two-pass standardization, q288 reads checkpointed edges, q289 one tape window") {
    // q286 padding waste: one tokenization pass, one map-side-combined
    // rollup — a single exchange carrying one row per source.
    val p286 = plan("q286_padding_waste")
    assert(count(p286, "Exchange") == 1, s"q286: expected 1 exchange\n$p286")
    assert(count(p286, "NestedLoop") == 0, p286)
    // q287 Mahalanobis: the honest two-pass shape (global stats, then
    // row-local scoring against the 64-row broadcast) with the
    // worst-vector pick FOLDED into the census rollup — four
    // exchanges, no join back, no rank branch.
    val p287 = plan("q287_mahalanobis_diag")
    assert(count(p287, "Exchange") == 4, s"q287: expected 4 exchanges\n$p287")
    assert(count(p287, "NestedLoop") == 0, p287)
    // q288 label propagation: the lineitem self-join edge list
    // materializes once (lineage cut) — the query plan reads
    // checkpointed blocks only, and every nested loop is a
    // broadcast-scalar combine.
    val p288 = plan("q288_label_prop")
    assert(count(p288, "FileScan") == 0,
      s"q288: a consumer re-ran the edge self-join\n$p288")
    assert(count(p288, "CartesianProduct") == 0, p288)
    assert(count(p288, "NestedLoop") == count(p288, "BroadcastNestedLoopJoin"),
      p288)
    // q289 attribution: carry window + purchase filter + channel
    // rollup ride one hash(user) exchange; the share is a
    // single-partition window over the reduced channel frame.
    val p289 = plan("q289_attribution")
    assert(count(p289, "Exchange") == 3, s"q289: expected 3 exchanges\n$p289")
    assert(count(p289, "NestedLoop") == 0, p289)
    assert(p289.contains("SinglePartition"), p289)
    // q291 VaR backtest: the q248 closes-tail shape — tape collapse +
    // one hash(user) exchange carrying the return lag, all ten r²
    // lags (one sort), and the rollup.
    val p291 = plan("q291_var_backtest")
    assert(count(p291, "Exchange") == 2, s"q291: expected 2 exchanges\n$p291")
    assert(count(p291, "NestedLoop") == 0, p291)
    // q292 cohort LTV: cohorts and purchases co-key on user_id; the
    // cumulative window runs over the reduced (cohort, week) frame —
    // no nested loop anywhere.
    val p292 = plan("q292_cohort_ltv")
    assert(count(p292, "NestedLoop") == 0, p292)
    assert(count(p292, "CartesianProduct") == 0, p292)
    // q293 IR eval: one tokenize+explode pass term-filtered at the
    // scan; the metrics join bounded per-term frames — no nested loop
    // beyond the two broadcast-scalar combines.
    val p293 = plan("q293_ir_eval")
    assert(count(p293, "CartesianProduct") == 0, p293)
    assert(count(p293, "NestedLoop") == count(p293, "BroadcastNestedLoopJoin"),
      p293)
    // q294 BS greeks: the q248 closes-tail shape — the 5-point
    // moneyness grid explodes row-locally AFTER the per-instrument
    // rollup, so the surface costs the same two exchanges as a
    // scalar tail.
    val p294 = plan("q294_bs_greeks")
    assert(count(p294, "Exchange") == 2, s"q294: expected 2 exchanges\n$p294")
    assert(count(p294, "NestedLoop") == 0, p294)
    // q295 window funnel: four cascaded whole-partition windows + the
    // max-step census ride one hash(user) exchange; the share is a
    // single-partition window over the reduced frame.
    val p295 = plan("q295_window_funnel")
    assert(count(p295, "Exchange") == 3, s"q295: expected 3 exchanges\n$p295")
    assert(count(p295, "NestedLoop") == 0, p295)
    // q296 jackknife: replicates come from whole-partition totals on
    // the same hash(user) exchange — O(n) resampling, two exchanges,
    // never a per-replicate re-scan.
    val p296 = plan("q296_jackknife_sharpe")
    assert(count(p296, "Exchange") == 2, s"q296: expected 2 exchanges\n$p296")
    assert(count(p296, "NestedLoop") == 0, p296)
    // q297 RFM: the user frame materializes once (lineage cut), the
    // quintile machinery runs on value-cardinality histograms, and
    // every nested loop is a broadcast-scalar/threshold combine.
    val p297 = plan("q297_rfm")
    assert(count(p297, "FileScan") == 0,
      s"q297: a consumer re-scanned the tape past the lineage cut\n$p297")
    assert(count(p297, "CartesianProduct") == 0, p297)
    assert(count(p297, "NestedLoop") == count(p297, "BroadcastNestedLoopJoin"),
      p297)
    // q298 LSH design: the pair frame is the bounded candidate
    // machinery — no cartesian, no nested loop; the 4-design explode
    // multiplies only the pair frame.
    val p298 = plan("q298_lsh_design")
    assert(count(p298, "CartesianProduct") == 0, p298)
    assert(count(p298, "NestedLoop") == 0, p298)
    // q299/q300: LINEAR portfolio reads — per-day cross-sectional
    // sums + reduced-frame regressions, never a pair join; every
    // nested loop is a broadcast-scalar combine.
    for (q <- Seq("q299_diversification_ratio", "q300_sml_test")) {
      val p = plan(q)
      assert(count(p, "CartesianProduct") == 0, s"$q\n$p")
      assert(count(p, "NestedLoop") == count(p, "BroadcastNestedLoopJoin"),
        s"$q\n$p")
      assert(count(p, "SortMergeJoin") == 0,
        s"$q: a shuffled join crept into the broadcast-only plan\n$p")
    }
  }

  test("q233 LOF: the capped all-pairs join broadcasts the slice; q234 boilerplate never self-joins the token stream") {
    // q233: the only quadratic stage is the capped-slice distance
    // join — it must BROADCAST the 1000-row side (a shuffled
    // non-equi join over the pair space would be the 100-TB
    // regression), every nested-loop instance in the plan must BE
    // that broadcast join (the kNN frame fans out to the kdist/
    // reach/lrd consumers, so the subtree prints once per consumer),
    // and at runtime the distance+window exchange must materialize
    // ONCE and be reused — not recomputed per consumer.
    val df233 = SparkEntry.queries("q233_lof")(spark, sf)
    df233.collect() // AQE finalizes stage reuse only on execution
    val p233 = df233.queryExecution.executedPlan.toString
    assert(count(p233, "CartesianProduct") == 0, p233)
    assert(p233.contains("BroadcastNestedLoopJoin"), p233)
    assert(count(p233, "NestedLoop") == count(p233, "BroadcastNestedLoopJoin"),
      p233)
    assert(p233.contains("ReusedExchange") || p233.contains("ReusedQueryStage"),
      p233)
    // q237 shares q233's discipline: broadcast pair join as the only
    // nested loop, label-mean collapse before any comparison
    val p237 = plan("q237_silhouette")
    assert(count(p237, "CartesianProduct") == 0, p237)
    assert(p237.contains("BroadcastNestedLoopJoin"), p237)
    assert(count(p237, "NestedLoop") == count(p237, "BroadcastNestedLoopJoin"),
      p237)
    // q234: the gram stream is window-flagged (df via one
    // (source, gram) exchange) then rolled up — never joined against
    // itself; the source-cardinality dim join broadcasts.
    val p234 = plan("q234_boilerplate")
    assert(count(p234, "NestedLoop") == 0, p234)
    assert(p234.contains("BroadcastHashJoin"), p234)
    assert(count(p234, "SortMergeJoin") <= 1, p234)
    // q238: the rule census is one map-side-combined rollup — the
    // shuffle carries one partial row per (partition, source), no
    // join anywhere
    val p238 = plan("q238_gopher_rules")
    assert(count(p238, "Join") == 0, p238)
    assert(count(p238, "Exchange") == 1, p238)
    assert(p238.contains("partial"), p238)
  }

  test("embedding covariance reduces in one scan at width 512: no self-join, no explode") {
    import spark.implicits._
    // the q183/q184 moment reduction must never exchange width² rows:
    // at production widths (512 here; 1024-4096 in the wild) the r10
    // posexplode+self-join shape emits 262k+ product rows PER VECTOR.
    // The GramAgg plan is scan -> partial agg -> one single-row
    // exchange -> final agg, with buffer size set by width, not rows.
    val w = 512
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(64)(Array.fill(w)(rnd.nextGaussian()))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding").repartition(8)
    val agg = df.select(
      graft.functions.Gram.gram($"embedding".cast("array<double>")).as("g"))
    val p = agg.queryExecution.executedPlan.toString
    assert(count(p, "Join") == 0, s"self-join crept back in\n$p")
    assert(count(p, "Generate") == 0, s"explode crept back in\n$p")
    // one SinglePartition agg exchange fed by a PARTIAL aggregate:
    // the shuffle carries one reduced buffer per partition, nothing
    // proportional to rows or width² (the test's own repartition(8)
    // is the only other exchange)
    assert(count(p, "Exchange SinglePartition") == 1, p)
    assert(p.contains("partial_gramagg"), s"map-side combine lost\n$p")
    // numerics: the reduced covariance equals the brute-force matrix
    val buf = agg.collect()(0).getSeq[Double](0).toArray
    val (n, mean, c) = graft.functions.Gram.covariance(buf)
    assert(n == 64L && c.length == w)
    val bf = Array.tabulate(w)(i => vecs.map(_(i)).sum / 64.0)
    val spots = Seq((0, 0), (0, 511), (17, 400), (511, 511), (255, 3))
    spots.foreach { case (i, j) =>
      val exact = vecs.map(v => v(i) * v(j)).sum / 64.0 - bf(i) * bf(j)
      assert(math.abs(c(i)(j) - exact) < 1e-9, s"cell ($i,$j)")
      assert(math.abs(mean(i) - bf(i)) < 1e-12, s"mean $i")
    }
  }

  test("q281/q290 certification machinery: JL projection is exchange-free, truth pass is bounded-broadcast, swept IVF stays cell-pruned") {
    // q281/q290 emit contract rows (LocalTableScan — the final frame's
    // plan says nothing), so pin the machinery they drive instead (the
    // q44 convention): a regression that shuffles the corpus for the
    // projection, builds the truth pass as a shuffled cross product,
    // or loses IVF's cell pruning at the sweep's widest nProbe would
    // silently turn both sweeps quadratic at 100 TB.
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    // (a) the q290 sign projection is one row-local Project: no
    //     exchange, no join, nothing but the scan beneath it
    val pj = queries.Extended.jlProject(emb, 8)
      .queryExecution.executedPlan.toString
    assert(count(pj, "Exchange") == 0, s"q290 projection shuffled:\n$pj")
    assert(count(pj, "Join") == 0, s"q290 projection grew a join:\n$pj")
    // (b) the shared truth pass: the 10-query side broadcasts into ONE
    //     BroadcastNestedLoopJoin (the corpus never shuffles) and the
    //     top-k window rides one hash exchange fed by a PARTIAL
    //     WindowGroupLimit — the shuffle carries ≤ k rows per query
    //     per partition, not the corpus
    val pt = operators.Ann
      .bruteForceTopK(emb.filter(col("vec_id") < 10), emb, 3)
      .queryExecution.executedPlan.toString
    assert(count(pt, "BroadcastNestedLoopJoin") == 1, s"truth pass:\n$pt")
    assert(count(pt, "Exchange hashpartitioning") == 1, s"truth pass:\n$pt")
    assert(pt.contains("WindowGroupLimit"), s"top-k limit pushdown lost:\n$pt")
    // (c) q281's widest sweep point keeps the q44 IVF shape: candidate
    //     join on cell id only, never a nested-loop rerank
    val pi = operators.Ann
      .ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 3, nProbe = 8)
      .queryExecution.executedPlan.toString
    assert(count(pi, "Exchange") <= 3, s"q281 IVF plan regressed:\n$pi")
    assert(count(pi, "BroadcastNestedLoopJoin") == 0, pi)
  }

  test("q301 header census: synthesize + parse never leave the row, one map-side-combined rollup") {
    val p = plan("q301_header_census")
    assert(count(p, "Exchange") == 1, s"q301: expected 1 exchange\n$p")
    assert(count(p, "Join") == 0, s"q301: a join crept in\n$p")
    assert(count(p, "HashAggregate") >= 2, s"q301: partial agg lost\n$p")
  }

  test("r16 served-index pins: q302/q303 probe STORED candidates — no corpus signing or centroid derivation at query time") {
    // q302's serving plan: the only LshSig in the plan is the
    // row-local signing of the 10 probe vectors; the candidate side is
    // a parquet scan of the index's published sig/ version (buckets
    // stored, exploded row-locally). A second lshsig — or any lshsig
    // over an unfiltered embeddings scan — would mean the corpus is
    // being re-signed per query, the exact lifecycle q302 exists to
    // retire.
    val pl = queries.Extended.q302ProbeFrame(spark, sf)
      .queryExecution.executedPlan.toString
    assert(count(pl.toLowerCase, "lshsig") == 1,
      s"q302: corpus signing crept into the serving plan\n$pl")
    assert(pl.contains("graft_served_idx"),
      s"q302: candidates not read from the persisted index\n$pl")
    // q303: the quantizer application (nearestcells) appears once —
    // the probe side's nProbe cell lookup; corpus cells come stored.
    val pi = queries.Extended.q303ProbeFrame(spark, sf)
      .queryExecution.executedPlan.toString
    assert(count(pi.toLowerCase, "nearestcells") == 1,
      s"q303: centroid derivation crept into the serving plan\n$pi")
    assert(pi.contains("graft_served_idx"),
      s"q303: candidates not read from the persisted index\n$pi")
    // and the served probes reproduce the per-query operators exactly
    // (same geometry, same corpus): the q36/q44 recall contracts
    // transfer to the served path by output equality, not analogy
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val probes = emb.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("neighbor_id"), col("rnk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows(queries.Extended.q302ProbeFrame(spark, sf)) ==
      rows(operators.Ann.lshTopK(probes, emb, k = 3, tables = 16, bits = 4)),
      "served LSH probe diverged from the per-query operator")
    assert(rows(queries.Extended.q303ProbeFrame(spark, sf)) ==
      rows(operators.Ann.ivfTopK(probes, emb, k = 3)),
      "served IVF probe diverged from the per-query operator")
  }
}
