package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, fixture: String, sf: String,
                        work: String, records: String, reference: String,
                        recordReference: Boolean,
                        injectFailure: Option[String], cores: Int,
                        warmPasses: Int, source: String)

/** The benchmark driver: one JVM runs one workload, closed loop, one
  * client thread, and prints one JSON result line.
  *
  * Usage: graft.bench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --fixture <dir> --sf <sf> --work <dir> --records <dir>
  *   --reference <file> [--record-reference] [--inject-failure <op>]
  *   [--cores <n>] [--warm-passes <n>] [--source <id>]
  */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3
  /** Fewest warm operations a run may time: the tail, the 11th-largest
    * sample, then lies at or above the 67th percentile. */
  val MinTailSamples = 30

  def log(msg: String): Unit = System.err.println(s"[bench] $msg")

  def parse(args: Array[String]): Config = {
    val flags = Set("--record-reference")
    val kv = args.toList.sliding(2, 1).collect {
      case a :: b :: Nil if a.startsWith("--") && !flags(a) => a.drop(2) -> b
    }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Config(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("fixture"), get("sf"), get("work"),
      get("records"), get("reference"), args.contains("--record-reference"),
      kv.get("inject-failure"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      kv.get("warm-passes").map(_.toInt).getOrElse(1),
      kv.getOrElse("source", "unknown"))
  }

  def session(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"graft-bench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(cfg.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(cfg.work, "warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", Paths.get(cfg.work, "hadoop").toString)
      .config("spark.sql.streaming.checkpointLocation",
        Paths.get(cfg.work, "checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A failed run exits non-zero and prints no result line. */
  def main(args: Array[String]): Unit =
    try run(parse(args))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  def run(cfg: Config): Unit = {
    val name = recordName(cfg)
    Files.createDirectories(Paths.get(cfg.work))
    Files.createDirectories(Paths.get(cfg.records))
    val t0 = System.nanoTime()
    val spark = session(cfg)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (cfg.trace) new LiveTracer(spark, cfg.workload) else new Tracer
    val ctx = new Ctx(spark, cfg, tracer)
    val wl = Workloads(ctx)
    log(f"session ${sessionS}%.2fs, workload ready ${(System.nanoTime() - t0) / 1e9 - sessionS}%.2fs")

    val setupTimes = (1 to Setups).map { _ =>
      val t = System.nanoTime()
      tracer.span("bench", "setup")(wl.setup())
      (System.nanoTime() - t) / 1e9
    }
    setupTimes.foreach(ctx.rec.add("setup", _))
    log(setupTimes.map(t => f"$t%.2f").mkString("set-ups ", ", ", " s"))

    if (cfg.recordReference) {
      val ref = Map("fixture_sf" -> cfg.sf, "workload" -> cfg.workload,
        "outputs" -> wl.reference())
      Files.writeString(Paths.get(cfg.reference), Json.pretty(ref) + "\n")
      spark.stop()
      return
    }

    val reference: Map[String, Any] = cfg.workload match {
      case "incremental" => Map.empty
      case _ =>
        val ref = Json.read(Files.readString(Paths.get(cfg.reference)))
        require(ref("fixture_sf").toString == cfg.sf,
          s"reference was recorded at sf ${ref("fixture_sf")}, not ${cfg.sf}")
        ref("outputs").asInstanceOf[Map[String, Any]]
    }

    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcs.map(_.getCollectionTime).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val jit0 = jit.getTotalCompilationTime
    val gc0 = gcMs

    // the cold pass, then the warm passes; outputs are checked after them
    val passes = (0 to math.min(cfg.warmPasses, wl.maxPasses - 1)).map(wl.pass)
    val jitS = (jit.getTotalCompilationTime - jit0) / 1000.0
    val gcS = (gcMs - gc0) / 1000.0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    // taken before the checks, whose digests and batch twins are the
    // benchmark's own work
    val peakRssMb = Stats.peakRssMb
    val t1 = System.nanoTime()
    tracer.span("bench", "check")(wl.check(reference))
    log(f"checks ${(System.nanoTime() - t1) / 1e9}%.2fs")
    wl.close()

    val rec = ctx.rec
    val warm = passes.drop(1).toSeq
    require(warm.map(_.order.size).sum >= MinTailSamples,
      s"${warm.map(_.order.size).sum} warm operations, fewer than $MinTailSamples: raise --seconds")
    val opLat = warm.flatMap(_.lat.values)
    val (tail, tailPct) = Stats.tail(opLat)
    val successRate = 1.0 - rec.failed.toDouble / rec.attempted
    val endToEnd = Map(
      "setup_s" -> Metric(Stats.median(rec.get("setup")), "s"),
      "cold_pass_s" -> Metric(passes.head.wall, "s"),
      "warm_pass_s" -> Metric(Stats.median(warm.map(_.wall)), "s"),
      "op_p50_s" -> Metric(Stats.median(opLat), "s"),
      "op_tail_s" -> Metric(tail, "s"),
      "success_rate" -> Metric(successRate, "ratio"),
      "peak_rss_mb" -> Metric(peakRssMb, "MB"))

    // the per-workload view: samples by kind with their tail percentile
    val kinds: Map[String, Any] = rec.samples.map { case (k, xs) =>
      val (t, p) = Stats.tail(xs.toSeq)
      k -> Map("n" -> xs.size, "p50" -> Stats.median(xs.toSeq), "tail" -> t,
        "tail_pct" -> p)
    }.toMap

    val layers: Map[String, Metric] = tracer match {
      case lt: LiveTracer =>
        lt.finish()
        val spans = lt.tree()
        Trace.write(Paths.get(cfg.records, s"$name.spans.jsonl"), spans)
        Layers(cfg, lt, spans, warm, rec, wl.families, jitS, gcS, heapPeakMb)
      case _ => Map.empty
    }

    val printed = if (cfg.trace) layers else endToEnd
    val record = Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "traced" -> cfg.trace,
      "fixture_sf" -> cfg.sf, "fixture_rows" -> Stats.fixtureRows(cfg.fixture),
      "fixture_bytes" -> Stats.fixtureBytes(cfg.fixture), "cores" -> cfg.cores,
      "source" -> cfg.source, "seconds" -> cfg.seconds,
      "warm_passes" -> (passes.size - 1),
      "session_start_s" -> sessionS, "setup_times_s" -> setupTimes,
      "passes" -> passes.map(p => Map("index" -> p.index, "wall_s" -> p.wall,
        "order" -> p.order, "lat_s" -> p.lat)),
      "samples" -> kinds, "plan" -> wl.plan,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "error_rate" -> rec.failed.toDouble / rec.attempted,
      "failures" -> rec.failures,
      "end_to_end" -> endToEnd.map { case (k, m) => k -> m.toMap },
      "per_layer" -> layers.map { case (k, m) => k -> m.toMap },
      "op_tail_pct" -> tailPct, "op_samples" -> opLat.size,
      "jvm" -> Map("jit_s" -> jitS, "gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb))
    Files.writeString(Paths.get(cfg.records, s"$name.json"),
      Json.pretty(record) + "\n")
    rec.failures.foreach(f => System.err.println(s"[bench] failed $f"))
    println(Json.write(Map("correct" -> (rec.failed == 0),
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> printed.map { case (k, m) => k -> m.toMap })))
    spark.stop()
  }

  /** Records never overwrite one another: the name carries the
    * workload, seed, mode, clock and process id. */
  def recordName(cfg: Config): String = {
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
    s"${cfg.workload}_sf${cfg.sf}_s${cfg.seed}_${if (cfg.trace) "traced" else "untraced"}" +
      s"_${stamp}_${ProcessHandle.current().pid()}"
  }
}

final case class Metric(value: Double, unit: String) {
  def toMap: Map[String, Any] = Map("value" -> value, "unit" -> unit)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th largest sample, at percentile 100 * (n - 10) / n. With fewer
    * than 11 samples there is no such percentile and the maximum is
    * reported at percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else if (xs.size < 11) (xs.max, 100.0)
    else (xs.sorted.apply(xs.size - 11), 100.0 * (xs.size - 10) / xs.size)

  /** The process's peak resident set, from /proc. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def parquetFiles(dir: String) =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)

  def fixtureBytes(dir: String): Map[String, Long] =
    parquetFiles(dir).map(p => p.getFileName.toString.stripSuffix(".parquet") ->
      Files.size(p)).toMap

  def fixtureRows(dir: String): Map[String, Long] =
    parquetFiles(dir).map { p =>
      val f = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toString),
          new org.apache.hadoop.conf.Configuration()))
      try p.getFileName.toString.stripSuffix(".parquet") -> f.getRecordCount
      finally f.close()
    }.toMap
}
