package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query wall
  * seconds. Results are materialized through the noop sink so every
  * output column is computed — `count()` would let Catalyst prune the
  * projection and under-report scan-heavy queries.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // engine contract: runtime bloom-filter pruning stays ON — at
      // production scale the selective-dim fact joins (q3/q5 shape)
      // pass the default 10 GB application-side gate and the orders
      // side's bloom prunes the lineitem exchange (eligibility of the
      // real builders is PlanSpec-pinned); at bench scale the gate
      // correctly keeps the overhead off
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM + session warmup so the alphabetically-first queries don't
    // absorb one-time startup costs: trigger the parquet reader, window,
    // generate/explode, join and aggregate codegen paths once each.
    spark.range(1000000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      r.withColumn("rn", row_number().over(
          Window.partitionBy(col("r_regionkey")).orderBy(col("r_name"))))
        .withColumn("x", explode(split(col("r_name"), "")))
        .join(broadcast(r.select(col("r_regionkey").as("k"))),
          col("r_regionkey") === col("k"))
        .groupBy(col("r_name")).agg(count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () } // warmup is best-effort
    // A failing query must be machine-visible: it is excluded from the
    // per-query map and the total, and lands in "errors" instead — a
    // broken query must never make the benchmark look green or faster.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
                catch { case e: Throwable =>
                  System.err.println(s"[bench] $name failed: ${e.getMessage}")
                  Some(Option(e.getMessage).getOrElse(e.getClass.getName))
                }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    // Warm passes: the first run of each query pays one-time plan
    // codegen + JIT; the warm number is the data-scaling cost — what
    // per-query throughput looks like once a cluster is hot. THREE
    // warm passes, reporting the per-query MINIMUM plus the observed
    // SPREAD (max−min): this host shows transient multi-second
    // contention windows that can double a random alphabetical block
    // of a single pass; best-of-N steady-state measures the code, and
    // the emitted spread quantifies how much of any round-over-round
    // delta is host noise rather than a plan change.
    def warmPass() = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val okRun = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
                  catch { case _: Throwable => false }
      (name, (System.nanoTime() - t0) / 1e9, okRun)
    }
    val passes = Seq(warmPass(), warmPass(), warmPass())
    val warm = passes.head.indices.map { i =>
      val name = passes.head(i)._1
      val ts = passes.map(_(i)._2)
      (name, ts.min, passes.forall(_(i)._3), ts.max - ts.min)
    }.toSeq
    // Forced scale-path entries: plans the sf0.1 auto thresholds would
    // not choose but the 100-TB story depends on — priced every round
    // so their constant factors are measured, not asserted. Excluded
    // from totals (they duplicate work the queries above already
    // count).
    val forced: Seq[(String, Double)] = {
      import org.apache.spark.sql.functions._
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime()
        try f catch { case _: Throwable => return -1.0 }
        (System.nanoTime() - t0) / 1e9
      }
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("event_type"), col("event_id"), col("value"))
      val rank = time {
        graft.operators.Rank.groupRowNumber(ev, Seq("event_type"),
          Seq("value", "event_id"), "r", "n_total", twoPass = Some(true))
          .write.format("noop").mode("overwrite").save()
      }
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val e = graft.operators.Graph.coOrderEdges(li)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pr = time {
        graft.operators.Graph.pageRank(e, iterations = 5,
          broadcastState = Some(false))
          .write.format("noop").mode("overwrite").save()
      }
      val seeds = e.select(col("src").as("part")).distinct()
        .filter(col("part") % 100 === 0)
      val bfs = time {
        graft.operators.Graph.bfsHops(e, seeds, maxHops = 3,
          broadcastState = Some(false), symmetric = true)
          .write.format("noop").mode("overwrite").save()
      }
      // prices the q259 shuffle fallback: label propagation with the
      // vertex state pinned to the merge path, as it would run past
      // BroadcastVertexLimit
      val cc = time {
        graft.operators.Graph.connectedComponents(e, rounds = 10,
          broadcastState = Some(false))
          .write.format("noop").mode("overwrite").save()
      }
      e.unpersist(blocking = false)
      val part = spark.read.parquet(s"$sfDir/part.parquet")
      val nm = time {
        graft.operators.EditDistance.pairs(part, "p_partkey", "p_name",
          "p_brand", maxDist = 3, segment = Some(true))
          .write.format("noop").mode("overwrite").save()
      }
      val fx = time {
        graft.queries.SecurityMaster.q148FxNormalize(spark, sfDir,
          dimBroadcast = Some(false))
          .write.format("noop").mode("overwrite").save()
      }
      // top-3 lineitems by price per partkey, same task both plans:
      // the k-bounded aggregator vs the full-sort window — the pair
      // that prices TopKAgg's map-side-combine claim every round
      val liTop = li.select(col("l_partkey"), col("l_extendedprice"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("lid"))
      val topkAgg = time {
        liTop.groupBy(col("l_partkey"))
          .agg(graft.functions.TopK.topK(col("l_extendedprice"),
            col("lid"), 3).as("top"))
          .write.format("noop").mode("overwrite").save()
      }
      val topkWin = time {
        liTop.withColumn("rnk", org.apache.spark.sql.functions.row_number()
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("l_partkey"))
              .orderBy(col("l_extendedprice").desc, col("lid"))))
          .filter(col("rnk") <= 3)
          .write.format("noop").mode("overwrite").save()
      }
      // q21's exact task through the custom merge exec vs its
      // union+window plan (the q21 number above) — the pair pricing
      // the option-(c) operator every round
      val evAsof = graft.Tables.events(spark, sfDir)
      val purch = evAsof.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val sign = evAsof.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value"))
      val asofExec = time {
        graft.operators.AsOf.execJoin(purch, sign, key = "user_id",
          leftTs = "ts", rightTs = "ts",
          rightVals = Seq("ts" -> "ref_ts", "value" -> "ref_value"))
          .write.format("noop").mode("overwrite").save()
      }
      // the sub-quadratic name-linkage tier vs q189's exact blocked
      // plan (the ×10 scale sweep showed the blocked tier's pair
      // volume is quadratic in catalog size by contract; this prices
      // the fingerprint-bounded alternative every round)
      val nlWinnow = time {
        graft.operators.EditDistance.jwPairsWinnow(part, "p_partkey",
          "p_name")
          .write.format("noop").mode("overwrite").save()
      }
      // the BLOCK-RESTRICTED winnow tier — q189's actual high-density
      // alternative since the r14 stats guard (same output contract as
      // the exact blocked plan, candidate volume bounded by
      // fingerprint-bucket density instead of block size²)
      val nlWinnowBlk = time {
        graft.operators.EditDistance.jwPairsWinnowBlocked(
          part.select(col("p_partkey"), col("p_name"), col("p_brand"),
            split(col("p_name"), " ").getItem(0).as("tok")),
          "p_partkey", "p_name", Seq("p_brand", "tok"))
          .write.format("noop").mode("overwrite").save()
      }
      // the RangeJoinBinning rewrite vs the nested-loop plan Spark
      // otherwise picks for a keyless point-in-interval join — the
      // pair pricing the optimizer rule every round. Interval side is
      // 1%-sampled so the NESTED comparator stays feasible; both
      // plans run the identical task.
      graft.plans.GraftExtensions.install(spark)
      val clicks = evAsof.filter(col("event_type") === "click")
        .select(col("event_id"), unix_timestamp(col("ts")).as("sec"))
      val ivals = evAsof.filter(col("event_type") === "purchase" &&
          col("event_id") % 100 === 0)
        .select(unix_timestamp(col("ts")).as("hi"))
        .withColumn("lo", col("hi") - 3600L)
      val rangeCond = col("sec") >= col("lo") && col("sec") < col("hi")
      val rangeRule = time {
        spark.conf.set(graft.plans.RangeJoinBinning.ConfKey, "3600")
        try clicks.join(ivals, rangeCond)
          .write.format("noop").mode("overwrite").save()
        finally spark.conf.unset(graft.plans.RangeJoinBinning.ConfKey)
      }
      val rangeNested = time {
        clicks.join(ivals, rangeCond)
          .write.format("noop").mode("overwrite").save()
      }
      // the mergeable quantile sketch vs Spark's approx_percentile on
      // the same high-cardinality-group task (per-partkey price
      // percentiles over lineitem) — pricing the bounded-buffer
      // map-side-combine claim every round
      val pctlSketch = time {
        li.groupBy(col("l_partkey"))
          .agg(graft.functions.QuantileSketch.quantiles(
            col("l_extendedprice"), Seq(0.5, 0.9, 0.99)).as("q"))
          .write.format("noop").mode("overwrite").save()
      }
      val pctlApprox = time {
        li.groupBy(col("l_partkey"))
          .agg(org.apache.spark.sql.functions.percentile_approx(
            col("l_extendedprice"),
            org.apache.spark.sql.functions.array(
              org.apache.spark.sql.functions.lit(0.5),
              org.apache.spark.sql.functions.lit(0.9),
              org.apache.spark.sql.functions.lit(0.99)),
            org.apache.spark.sql.functions.lit(10000)).as("q"))
          .write.format("noop").mode("overwrite").save()
      }
      // prices the Bloom runtime filter: q273's star join with the
      // fact-side prefilter stripped (full lineitem through the
      // merge-join exchange)
      val bloomOff = time {
        graft.queries.Extended.bloomPruneJoin(spark, sfDir, useBloom = false)
          .write.format("noop").mode("overwrite").save()
      }
      // prices q285's Bloom gram prefilter: the identical
      // decontamination census with the full training gram stream
      // through the confirm semi-join's exchange
      val decontamOff = time {
        graft.queries.TextOps.bloomDecontaminate(spark, sfDir,
            useBloom = false)
          .write.format("noop").mode("overwrite").save()
      }
      // prices tape-vs-ledger for the q239/q240 daily-ledger family:
      // the board's q239/q240 collapse the tick tape per query; a
      // production deployment maintains the s67/s60 ledgers
      // incrementally (LedgerTable) and serves the identical tails
      // off the cell snapshot. x_ledger_ingest is the (amortized)
      // build the serve numbers presuppose — priced so the comparison
      // stays honest.
      val ledgerDir = java.nio.file.Files
        .createTempDirectory("graft_bench_ledger").toString
      val closesLt = new graft.sources.LedgerTable(spark,
        s"$ledgerDir/closes", graft.sources.LedgerTable.Closes)
      val volLt = new graft.sources.LedgerTable(spark,
        s"$ledgerDir/vol", graft.sources.LedgerTable.Volume)
      val ledgerIngest = time {
        closesLt.ingest(1L, evAsof)
        volLt.ingest(1L, evAsof)
      }
      val amihudLedger = time {
        graft.queries.Quant.amihudFromLedgers(
            closesLt.serveCloses.get, volLt.serveVolume.get)
          .write.format("noop").mode("overwrite").save()
      }
      val rollLedger = time {
        graft.queries.Quant.rollFromCloses(closesLt.serveCloses.get)
          .write.format("noop").mode("overwrite").save()
      }
      // prices the persisted-ANN lifecycle (the LedgerTable pattern
      // applied to similarity search): the board's q36/q44 rebuild
      // signatures/cells per query by design (self-contained oracle
      // rows); a production deployment builds ONCE (x_*_build, the
      // amortized cost) and serves every query off the stored tables
      // (x_*_probe — the steady-state number a 100-TB serving path
      // actually pays). Same query set as q36/q44 (vec_id < 10, k=3).
      val emb = graft.Tables.embeddings(spark, sfDir)
      val probes = emb.filter(col("vec_id") < 10)
      val annDir = java.nio.file.Files
        .createTempDirectory("graft_bench_ann").toString
      val lshBuild = time {
        graft.operators.LshIndex.build(emb, s"$annDir/lsh")
      }
      val lshProbe = time {
        graft.operators.LshIndex.open(spark, s"$annDir/lsh")
          .probe(probes, k = 3)
          .write.format("noop").mode("overwrite").save()
      }
      val ivfBuild = time {
        graft.operators.AnnIndex.build(emb, s"$annDir/ivf")
      }
      val ivfProbe = time {
        graft.operators.AnnIndex.open(spark, s"$annDir/ivf")
          .probe(probes, k = 3, nProbe = 4)
          .write.format("noop").mode("overwrite").save()
      }
      // temp index/ledger trees are per-run scratch: delete them once
      // their probes are timed, or repeated benches accumulate
      // persisted LSH/IVF/ledger tables on disk (best-effort — a
      // failed delete must not fail the bench)
      def rmTree(root: String): Unit =
        try {
          import java.nio.file.{Files, Paths}
          import scala.jdk.CollectionConverters._
          val p = Paths.get(root)
          if (Files.exists(p))
            Files.walk(p).iterator().asScala.toSeq.reverse
              .foreach(f => Files.deleteIfExists(f))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] temp cleanup failed for $root: ${e.getMessage}") }
      rmTree(ledgerDir)
      rmTree(annDir)
      Seq("x_rank_twopass" -> rank, "x_pagerank_shuffle" -> pr,
        "x_bloom_off" -> bloomOff,
        "x_decontam_nobloom" -> decontamOff,
        "x_bfs_shuffle" -> bfs, "x_cc_shuffle" -> cc,
        "x_namematch_segment" -> nm,
        "x_fx_window" -> fx, "x_topk_agg" -> topkAgg,
        "x_topk_window" -> topkWin, "x_asof_exec" -> asofExec,
        "x_namelink_winnow" -> nlWinnow,
        "x_namelink_winnow_blocked" -> nlWinnowBlk,
        "x_range_rule" -> rangeRule,
        "x_range_nested" -> rangeNested, "x_pctl_sketch" -> pctlSketch,
        "x_pctl_approx" -> pctlApprox,
        "x_ledger_ingest" -> ledgerIngest,
        "x_amihud_ledger" -> amihudLedger,
        "x_roll_ledger" -> rollLedger,
        "x_lshidx_build" -> lshBuild, "x_lshidx_probe" -> lshProbe,
        "x_annidx_build" -> ivfBuild, "x_annidx_probe" -> ivfProbe)
    }
    def jstr(s: String) = "\"" + s.replaceAll("[\"\\\\\n\r\t]", " ").take(200) + "\""
    val ok = results.filter(_._3.isEmpty)
    val qs = ok.map { case (k, v, _) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val warmOk = warm.filter(_._3)
    val warmQs = warmOk.map { case (k, v, _, _) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m)) => "\"" + k + "\":" + jstr(m) }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val warmTotal = warmOk.map(_._2).sum
    // spread summary: median and p90 of per-query (max-min) across the
    // three warm passes, plus the summed spread — the host-noise floor
    // any cross-round comparison must subtract before calling a
    // regression
    val spreads = warmOk.map(_._4).sorted
    def pct(p: Double) =
      if (spreads.isEmpty) 0.0 else spreads((p * (spreads.size - 1)).round.toInt)
    val spreadTotal = spreads.sum
    val forcedJson = forced.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    // Full detail first (humans / local logs), compact line LAST: the
    // driver records only the final ~2000 chars of stdout and parses the
    // last line as JSON — the full per-query map with warm+cold is ~3.7 KB
    // and was truncated mid-line every round (BENCH_r1..r3 parsed:null).
    // The compact line shortens each query key to its "qNN" prefix and
    // reports warm (steady-state) seconds, keeping the line well under
    // the tail window.
    val fullLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"warm_total":$warmTotal%.3f,"queries_warm":$warmQs,"forced":$forcedJson,"errors":$errs,"n_failed":${results.size - ok.size},"sf":"$sfDir"}"""
    println(fullLine)
    // sf pattern disallows a trailing dot (e.g. dir "sf2.final" must not
    // emit the invalid unquoted JSON number `2.`).
    val sfNum = "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    // The full record also lands in a FILE: the driver keeps only the
    // final ~2000 chars of stdout, so per-query history must never
    // depend on the tail window (BENCH_r1..r10 all carried truncated
    // maps; from r11 the committed results/ file is the archive). The
    // file name carries the scale factor, so a run at one sf never
    // overwrites another's record; bench_full_latest.json is the sf0.1
    // board's record and only an sf0.1 run writes it.
    val detailPath = s"results/bench_sf${sfNum}_latest.json"
    val detailPaths =
      if (sfNum == "0.1") Seq(detailPath, "results/bench_full_latest.json")
      else Seq(detailPath)
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("results"))
      detailPaths.foreach(p => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), fullLine + "\n"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // n_failed on the warm line counts BOTH passes: a query that succeeds
    // cold but fails warm must not silently vanish from the summary.
    val nFailed = SparkEntry.queries.size - warmOk.map(_._1).toSet.intersect(ok.map(_._1).toSet).size
    // Compact LAST line, guaranteed to fit the tail window whole: warm
    // per-query times as MILLISECOND ints keyed by the bare query
    // number ("123":62). If the query count ever pushes even that past
    // the window, degrade deterministically to the summary + file
    // pointer rather than letting truncation cut the line mid-map —
    // a fragment parses as null and zeroes the round's bench record.
    def qNum(k: String): String = k.takeWhile(_ != '_').drop(1)
    val warmMs = warmOk.map { case (k, v, _, _) =>
      "\"" + qNum(k) + "\":" + math.round(v * 1000) }
      .mkString("{", ",", "}")
    val summary = f""""value":$warmTotal%.3f,"unit":"sec","cold_total":$total%.3f,"warm_passes":3,"spread_med":${pct(0.5)}%.3f,"spread_p90":${pct(0.9)}%.3f,"spread_total":$spreadTotal%.3f,"n_queries":${warmOk.size},"n_failed":$nFailed,"sf":$sfNum,"detail":"$detailPath""""
    val withMap = s"""{"metric":"warm_total",$summary,"q_warm_ms":$warmMs}"""
    println(
      if (withMap.length <= 1900) withMap
      else s"""{"metric":"warm_total",$summary}""")
    spark.stop()
  }
}
