package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main. One registry of timed entries — every SparkEntry
  * query, then the forced `x_*` tier entries — measured by one loop: a
  * cold pass over every entry, then [[WarmPasses]] warm passes. Each
  * entry's record holds its cold seconds, warm minimum and warm spread
  * (max − min) plus the counters of its warm-minimum run: shuffle write
  * bytes and records, executor CPU, jobs, stages and Janino compiles
  * (generated classes Spark's codegen cache did not hold). An entry that
  * throws holds its error instead, and no time. Frames are
  * materialized through the noop sink so every output column is
  * computed — `count()` would let Catalyst prune the projection and
  * under-report scan-heavy queries.
  *
  * Environment:
  *   - SPARK_GRAFT_SF_DIR: the fixture directory;
  *   - SPARK_GRAFT_CPUS: local cores (and shuffle partitions);
  *   - SPARK_GRAFT_ONLY: comma-separated entry names; the run measures
  *     only those and writes only `results/bench_sf<sf>_only.json`;
  *   - SPARK_GRAFT_PLAN_DIR: writes `<dir>/<entry>.txt`, the formatted
  *     executed plans of each entry's cold run.
  *
  * The full record goes to `results/bench_sf<sf>_latest.json` (an sf0.1
  * run also writes `bench_full_latest.json`); stdout carries one line
  * per entry and then the summary line, which always fits 1,900 chars.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // JVM + session warmup so the alphabetically-first queries don't
    // absorb one-time startup costs: trigger the parquet reader, window,
    // generate/explode, join and aggregate codegen paths once each.
    sink(spark.range(1000000).selectExpr("sum(id)"))
    val r = spark.read.parquet(s"$sfDir/region.parquet")
    sink(r.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("r_regionkey"))
          .orderBy(col("r_name"))))
      .withColumn("x", explode(split(col("r_name"), "")))
      .join(broadcast(r.select(col("r_regionkey").as("k"))),
        col("r_regionkey") === col("k"))
      .groupBy(col("r_name")).agg(count(lit(1))))
    val tmp = Files.createTempDirectory("graft_bench")
    val records =
      try {
        val all = registry(spark, sfDir, tmp)
        val picked = onlyNames(only, all.map(_.name))
          .fold(all)(names => all.filter(e => names(e.name)))
        measure(spark, picked, planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR"))
      } finally Tables.deleteTree(tmp.toString)
    // sf pattern disallows a trailing dot (e.g. dir "sf2.final" must not
    // emit the invalid unquoted JSON number `2.`).
    val sf = "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    // The file name carries the scale factor, so a run at one sf never
    // overwrites another's record; bench_full_latest.json is the sf0.1
    // board's record and only a full sf0.1 run writes it.
    val detail = s"results/bench_sf${sf}_${if (only.isDefined) "only" else "latest"}.json"
    val paths =
      if (sf == "0.1" && only.isEmpty) Seq(detail, "results/bench_full_latest.json")
      else Seq(detail)
    Files.createDirectories(Paths.get("results"))
    val full = detailJson(records, sf, detail)
    paths.foreach(p => Files.writeString(Paths.get(p), full + "\n"))
    records.foreach {
      case Record(n, Right(t)) =>
        val c = t.counters
        println(f"BENCH $n%-34s cold=${t.cold}%7.3f warm_min=${t.warmMin}%7.3f " +
          f"spread=${t.spread}%6.3f shuf=${c.shuffleBytes / 1e6}%9.1f MB " +
          f"recs=${c.shuffleRecords}%10d cpu=${c.cpuNs / 1e9}%7.1f s " +
          f"jobs=${c.jobs}%4d stages=${c.stages}%4d compiles=${c.compiles}%4d")
      case Record(n, Left(m)) => println(s"BENCH $n FAILED: $m")
    }
    println(lastLine(records, sf, detail))
    spark.stop()
  }

  /** SPARK_GRAFT_ONLY's names, or None when unset — shared with
    * [[Verify]]. A name missing from `known` throws, naming it, so a
    * typo cannot narrow a run to nothing and pass. */
  def onlyNames(spec: Option[String], known: Iterable[String]): Option[Set[String]] =
    spec.map { s =>
      val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- known
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown entries: ${unknown.toSeq.sorted.mkString(",")}")
      names
    }

  /** Warm passes after the cold pass; the warm minimum is the steady-
    * state cost, and the spread says how much of a cross-run delta is
    * host noise (a shared host can show transient multi-second
    * contention windows that double a random block of one pass). */
  val WarmPasses = 3

  /** A timed entry: `run` is the timed action; `prepare` runs once,
    * untimed, before the first run (it builds the artifact a serve or
    * probe entry opens). Forced tier entries are named `x_*` and stay
    * out of the totals. */
  final case class Entry(name: String, run: () => Unit,
                         prepare: () => Unit = () => ())

  /** Counters of one run, summed over the stages of its job group;
    * `compiles` is the run's change in Spark's codegen compile count. */
  final case class Counters(shuffleBytes: Long, shuffleRecords: Long,
                            cpuNs: Long, jobs: Int, stages: Int,
                            compiles: Long = 0L) {
    def +(o: Counters): Counters = Counters(shuffleBytes + o.shuffleBytes,
      shuffleRecords + o.shuffleRecords, cpuNs + o.cpuNs, jobs + o.jobs,
      stages + o.stages, compiles + o.compiles)
  }

  final case class Timing(cold: Double, warmMin: Double, spread: Double,
                          counters: Counters)

  /** A measured entry: its timing, or the message of its first failure. */
  final case class Record(name: String, outcome: Either[String, Timing])

  private def session(cpus: String): SparkSession = {
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
    spark
  }

  private def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def frame(name: String)(df: => DataFrame): Entry =
    Entry(name, () => sink(df))

  /** Every SparkEntry query in name order, then the forced entries. */
  def registry(spark: SparkSession, sfDir: String, tmp: Path): Seq[Entry] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (name, fn) => frame(name)(fn(spark, sfDir)) } ++
      forced(spark, sfDir, tmp)

  /** Forced scale-path entries: plans the sf0.1 auto thresholds would
    * not choose but the 100-TB story depends on — priced every round
    * so their constant factors are measured, not asserted. They
    * duplicate work the queries already count, so they stay out of the
    * totals. Build entries write to a fresh directory under `tmp` on
    * every run; serve and probe entries open an artifact their
    * `prepare` builds once under `tmp`.
    */
  private def forced(spark: SparkSession, sfDir: String,
                     tmp: Path): Seq[Entry] = {
    import graft.operators._
    def fresh(kind: String): String =
      Files.createTempDirectory(tmp, kind).toString
    lazy val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    lazy val part = spark.read.parquet(s"$sfDir/part.parquet")
    lazy val ev = Tables.events(spark, sfDir)
    lazy val edges = Graph.coOrderEdges(li)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // top-3 lineitems by price per partkey, same task both plans:
    // the k-bounded aggregator vs the full-sort window — the pair
    // that prices TopKAgg's map-side-combine claim every round
    lazy val liTop = li.select(col("l_partkey"), col("l_extendedprice"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("lid"))
    // the RangeJoinBinning rewrite vs the nested-loop plan Spark
    // otherwise picks for a keyless point-in-interval join. Interval
    // side is 1%-sampled so the NESTED comparator stays feasible;
    // both plans run the identical task.
    lazy val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), unix_timestamp(col("ts")).as("sec"))
    lazy val ivals = ev.filter(col("event_type") === "purchase" &&
        col("event_id") % 100 === 0)
      .select(unix_timestamp(col("ts")).as("hi"))
      .withColumn("lo", col("hi") - 3600L)
    def rangeJoin = clicks.join(ivals,
      col("sec") >= col("lo") && col("sec") < col("hi"))
    def pctl(agg: org.apache.spark.sql.Column) =
      li.groupBy(col("l_partkey")).agg(agg.as("q"))
    def ingestLedgers(dir: String) = {
      val closes = new graft.sources.LedgerTable(spark, s"$dir/closes",
        graft.sources.LedgerTable.Closes)
      val vol = new graft.sources.LedgerTable(spark, s"$dir/vol",
        graft.sources.LedgerTable.Volume)
      closes.ingest(1L, ev)
      vol.ingest(1L, ev)
      (closes, vol)
    }
    lazy val ledgers = ingestLedgers(s"$tmp/ledgers")
    // the persisted-ANN lifecycle (the LedgerTable pattern applied to
    // similarity search): the board's q36/q44 rebuild signatures/cells
    // per query by design; a production deployment builds ONCE
    // (x_*_build, the amortized cost) and serves every query off the
    // stored tables (x_*_probe). Same query set as q36/q44 (vec_id <
    // 10, k=3).
    lazy val emb = Tables.embeddings(spark, sfDir)
    lazy val probes = emb.filter(col("vec_id") < 10)
    lazy val lshDir = { val d = s"$tmp/lsh"; LshIndex.build(emb, d); d }
    lazy val ivfDir = { val d = s"$tmp/ivf"; AnnIndex.build(emb, d); d }
    Seq(
      frame("x_rank_twopass")(Rank.groupRowNumber(
        spark.read.parquet(s"$sfDir/events.parquet")
          .select(col("event_type"), col("event_id"), col("value")),
        Seq("event_type"), Seq("value", "event_id"), "r", "n_total",
        twoPass = Some(true))),
      frame("x_pagerank_shuffle")(Graph.pageRank(edges, iterations = 5,
        broadcastState = Some(false))),
      frame("x_bfs_shuffle")(Graph.bfsHops(edges,
        edges.select(col("src").as("part")).distinct()
          .filter(col("part") % 100 === 0),
        maxHops = 3, broadcastState = Some(false), symmetric = true)),
      // prices the q259 shuffle fallback: label propagation with the
      // vertex state pinned to the merge path, as it would run past
      // BroadcastVertexLimit
      frame("x_cc_shuffle")(Graph.connectedComponents(edges, rounds = 10,
        broadcastState = Some(false))),
      frame("x_namematch_segment")(EditDistance.pairs(part, "p_partkey",
        "p_name", "p_brand", maxDist = 3, segment = Some(true))),
      frame("x_topk_agg")(liTop.groupBy(col("l_partkey"))
        .agg(graft.functions.TopK.topK(col("l_extendedprice"),
          col("lid"), 3).as("top"))),
      frame("x_topk_window")(liTop.withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
            .orderBy(col("l_extendedprice").desc, col("lid"))))
        .filter(col("rnk") <= 3)),
      // the sub-quadratic name-linkage tier vs q189's exact blocked
      // plan (the ×10 scale sweep showed the blocked tier's pair
      // volume is quadratic in catalog size by contract)
      frame("x_namelink_winnow")(EditDistance.jwPairsWinnow(part,
        "p_partkey", "p_name")),
      // the BLOCK-RESTRICTED winnow tier — q189's high-density
      // alternative behind the stats guard
      frame("x_namelink_winnow_blocked")(EditDistance.jwPairsWinnowBlocked(
        part.select(col("p_partkey"), col("p_name"), col("p_brand"),
          split(col("p_name"), " ").getItem(0).as("tok")),
        "p_partkey", "p_name", Seq("p_brand", "tok"))),
      Entry("x_range_rule", () => {
          spark.conf.set(graft.plans.RangeJoinBinning.ConfKey, "3600")
          try sink(rangeJoin)
          finally spark.conf.unset(graft.plans.RangeJoinBinning.ConfKey)
        },
        prepare = () => {
          spark.experimental.extraOptimizations =
            (spark.experimental.extraOptimizations :+
              graft.plans.RangeJoinBinning).distinct
        }),
      frame("x_range_nested")(rangeJoin),
      // sketch vs GK percentile_approx, 20k groups, sf0.1: GK beat the old
      // hand-written sketch (0.81 vs 0.96 s, 32 cores); the built-in KLL
      // beats GK (0.25 vs 0.29 s, 4 cores)
      frame("x_pctl_sketch")(pctl(kll_sketch_get_quantile_double(
        kll_sketch_agg_double(col("l_extendedprice").cast("double"), 256),
        array(lit(0.5), lit(0.9), lit(0.99))))),
      frame("x_pctl_approx")(pctl(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)))),
      // prices the Bloom runtime filter: q273's star join with the
      // fact-side prefilter stripped
      frame("x_bloom_off")(graft.queries.Extended.bloomPruneJoin(spark,
        sfDir, useBloom = false)),
      // prices q285's Bloom gram prefilter: the identical
      // decontamination census with the full training gram stream
      // through the confirm semi-join's exchange
      frame("x_decontam_nobloom")(graft.queries.TextOps.bloomDecontaminate(
        spark, sfDir, useBloom = false)),
      // tape-vs-ledger for the q239/q240 daily-ledger family: the
      // board's queries collapse the tick tape per query; a production
      // deployment maintains the ledgers incrementally and serves the
      // identical tails off the cell snapshot. The ingest is the
      // amortized build the serves presuppose.
      Entry("x_ledger_ingest", () => ingestLedgers(fresh("ledger"))),
      Entry("x_amihud_ledger", () => sink(graft.queries.Quant
          .amihudFromLedgers(ledgers._1.serveCloses.get,
            ledgers._2.serveVolume.get)),
        prepare = () => ledgers),
      Entry("x_roll_ledger", () => sink(graft.queries.Quant.rollFromCloses(
          ledgers._1.serveCloses.get)),
        prepare = () => ledgers),
      Entry("x_lshidx_build", () => LshIndex.build(emb, s"${fresh("lsh")}/lsh")),
      Entry("x_lshidx_probe", () => sink(LshIndex.open(spark, lshDir)
          .probe(probes, k = 3)),
        prepare = () => lshDir),
      Entry("x_annidx_build", () => AnnIndex.build(emb, s"${fresh("ivf")}/ivf")),
      Entry("x_annidx_probe", () => sink(AnnIndex.open(spark, ivfDir)
          .probe(probes, k = 3, nProbe = 4)),
        prepare = () => ivfDir))
  }

  /** Sums each job group's counters from the stages it ran. */
  private final class GroupCounters extends SparkListener {
    private val stageGroup = mutable.Map.empty[(Int, Int), String]
    private val byGroup = mutable.Map.empty[String, Counters]
    private def group(p: java.util.Properties): Option[String] =
      Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id")))
    private def add(g: String, c: Counters): Unit = synchronized {
      byGroup(g) = byGroup.get(g).fold(c)(_ + c)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      group(e.properties).foreach(add(_, Counters(0, 0, 0, 1, 0)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      group(e.properties).foreach { g => synchronized {
        stageGroup((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = g
      } }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      synchronized(stageGroup.remove((s.stageId, s.attemptNumber())))
        .foreach { g =>
          val m = s.taskMetrics
          add(g, if (m == null) Counters(0, 0, 0, 0, 1)
            else Counters(m.shuffleWriteMetrics.bytesWritten,
              m.shuffleWriteMetrics.recordsWritten, m.executorCpuTime, 0, 1))
        }
    }
    def of(g: String): Counters =
      synchronized(byGroup.getOrElse(g, Counters(0, 0, 0, 0, 0)))
  }

  /** Captures executed plans: operators that materialize eagerly
    * (checkpointed loops) return a bare RDD scan from explain(), so the
    * real plans are only observable at execution time. */
  private final class PlanDump(spark: SparkSession, dir: String)
      extends QueryExecutionListener {
    private val plans = mutable.ArrayBuffer.empty[String]
    Files.createDirectories(Paths.get(dir))
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized(plans += qe.explainString(FormattedMode))
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    private def drained(): Seq[String] = {
      org.apache.spark.sql.GraftListenerBus.drain(spark.sparkContext)
      synchronized { val out = plans.toList; plans.clear(); out }
    }
    def start(): Unit = drained()
    /** Writes the plans captured since [[start]]; iterative operators
      * emit one plan per round, so at most 24 are kept. */
    def write(name: String): Unit = Files.writeString(
      Paths.get(dir, s"$name.txt"), drained().take(24).zipWithIndex
        .map { case (p, i) => s"==== executed plan ${i + 1} ====\n$p" }
        .mkString("\n"))
  }

  /** Runs a cold pass over `entries`, then [[WarmPasses]] warm passes,
    * each in registry order. Every run gets its own job group, so its
    * counters are read once, after the last pass. An entry that throws
    * is reported with its error and skipped in later passes.
    */
  def measure(spark: SparkSession, entries: Seq[Entry],
              planDir: Option[String] = None): Seq[Record] = {
    val sc = spark.sparkContext
    val counters = new GroupCounters
    val plans = planDir.map(new PlanDump(spark, _))
    val times = entries.map(_.name -> mutable.ArrayBuffer.empty[Double]).toMap
    val compiles = mutable.Map.empty[String, Long]
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val errors = mutable.Map.empty[String, String]
    sc.addSparkListener(counters)
    plans.foreach(spark.listenerManager.register)
    try {
      for (pass <- 0 to WarmPasses; e <- entries if !errors.contains(e.name))
        try {
          if (pass == 0) { e.prepare(); plans.foreach(_.start()) }
          sc.setJobGroup(s"${e.name}#$pass", e.name)
          val (t0, c0) = (System.nanoTime(), compiled)
          try e.run() finally sc.clearJobGroup()
          times(e.name) += (System.nanoTime() - t0) / 1e9
          compiles(s"${e.name}#$pass") = compiled - c0
          if (pass == 0) plans.foreach(_.write(e.name))
        } catch { case NonFatal(ex) =>
          val msg = Option(ex.getMessage).getOrElse(ex.getClass.getName)
          System.err.println(s"[bench] ${e.name} failed: $msg")
          errors(e.name) = msg
        }
      org.apache.spark.sql.GraftListenerBus.drain(sc)
    } finally {
      sc.removeSparkListener(counters)
      plans.foreach(spark.listenerManager.unregister)
    }
    entries.map { e =>
      Record(e.name, errors.get(e.name).toLeft {
        val warm = times(e.name).tail
        val best = warm.indexOf(warm.min) + 1
        Timing(times(e.name).head, warm.min, warm.max - warm.min,
          counters.of(s"${e.name}#$best")
            .copy(compiles = compiles(s"${e.name}#$best")))
      })
    }
  }

  private def isForced(name: String): Boolean = name.startsWith("x_")

  private def jstr(s: String) =
    "\"" + s.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200) + "\""

  /** The summary keys shared by the record file and the last line:
    * totals over the queries that succeeded in every pass. */
  private def summary(records: Seq[Record], sf: String,
                      detail: String): String = {
    val ok = records.collect {
      case Record(n, Right(t)) if !isForced(n) => t }
    val spreads = ok.map(_.spread).sorted
    def pct(p: Double) =
      if (spreads.isEmpty) 0.0 else spreads((p * (spreads.size - 1)).round.toInt)
    f""""metric":"warm_total","value":${ok.map(_.warmMin).sum}%.3f,"unit":"sec","cold_total":${ok.map(_.cold).sum}%.3f,"warm_passes":$WarmPasses,"spread_med":${pct(0.5)}%.3f,"spread_p90":${pct(0.9)}%.3f,"spread_total":${spreads.sum}%.3f,"n_queries":${ok.size},"n_failed":${records.count(_.outcome.isLeft)},"sf":$sf,"detail":${jstr(detail)}"""
  }

  /** The full record: the summary, every measured entry's times and
    * counters, and every failed entry's error. */
  def detailJson(records: Seq[Record], sf: String, detail: String): String = {
    val entries = records.collect { case Record(n, Right(t)) =>
      val c = t.counters
      jstr(n) + f""":{"cold_s":${t.cold}%.3f,"warm_min_s":${t.warmMin}%.3f,"spread_s":${t.spread}%.3f,"shuffle_write_bytes":${c.shuffleBytes},"shuffle_write_records":${c.shuffleRecords},"cpu_s":${c.cpuNs / 1e9}%.3f,"jobs":${c.jobs},"stages":${c.stages},"compiles":${c.compiles}}"""
    }
    val errors = records.collect { case Record(n, Left(m)) => jstr(n) + ":" + jstr(m) }
    s"""{${summary(records, sf, detail)},"entries":${entries.mkString("{", ",", "}")},"errors":${errors.mkString("{", ",", "}")}}"""
  }

  /** The last stdout line: the summary plus the names of the failed
    * entries, as many as fit in 1,900 chars (the tail window the
    * driver parses); the per-entry map lives only in the record file. */
  def lastLine(records: Seq[Record], sf: String, detail: String): String = {
    val head = s"""{${summary(records, sf, detail)},"failed":["""
    val names = records.collect { case Record(n, Left(_)) => jstr(n) }
    val room = 1900 - head.length - 2
    val kept = names.scanLeft(-1)(_ + _.length + 1).tail
      .takeWhile(_ <= room).size
    head + names.take(kept).mkString(",") + "]}"
  }
}
