package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{AnnIndex, LshIndex}
import graft.sources.LedgerTable
import graft.streaming.Streams

/** Everything one run shares: the session, its settings, the tracer and
  * the samples the timed region records. */
final class Ctx(val spark: SparkSession, val cfg: Config, val tracer: Tracer) {
  val rec = new Recorder
  def work(name: String): String = {
    val p = Paths.get(cfg.work, name)
    Files.createDirectories(p)
    p.toString
  }
  def noop(df: DataFrame): Unit =
    tracer.span("exec", "execute")(df.write.format("noop").mode("overwrite").save())
  /** Runs untimed tasks side by side, one thread per core, and returns
    * their results in order. */
  def concurrently[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.cores)
    try tasks.map(t => pool.submit(() => t())).map(_.get())
    finally pool.shutdown()
  }
}

/** One call into graft's public API. `run` returns the output frame;
  * work it does eagerly (checkpoints, probes) counts as its build. */
final case class Op(name: String, layer: String, family: String,
                    run: () => DataFrame)

/** Timed samples and failure counts of one run. */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def add(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v
  def get(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
  /** Runs `body` as one attempted operation; a throw counts as failed and
    * leaves no latency sample. Returns the wall seconds on success. */
  def attempt(name: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch {
      case e: Exception =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        None
    }
  }
  /** Counts one output check; a mismatch counts as a failed operation. */
  def checked(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"check $name: $detail" }
  }
}

/** One pass of a workload: its wall time and its operations' latencies. */
final case class Pass(index: Int, start: Double, end: Double,
                      order: Seq[String], lat: Map[String, Double]) {
  def wall: Double = (end - start) / 1000.0
}

trait Workload {
  /** Builds what the passes need; run several times and timed. */
  def setup(): Unit
  /** One pass. Pass 0 is the cold pass; its operations give no latency
    * samples. */
  def pass(index: Int): Pass
  /** Reference digests of every output this workload can produce. */
  def reference(): Map[String, Any]
  /** Seed-dependent input choices, stamped into the record. */
  def plan: Map[String, Any]
  /** Per-layer metric that sums each operation's warm latency. */
  def families: Map[String, String] = Map.empty
  /** Output checks, run after the timed passes; a mismatch counts as a
    * failed operation. `reference` holds the recorded digests. */
  def check(reference: Map[String, Any]): Unit
  /** Stops whatever the workload left running. */
  def close(): Unit = ()
  /** How many passes the workload's inputs allow. */
  def maxPasses: Int = Int.MaxValue
}

object Workloads {
  def apply(ctx: Ctx): Workload = ctx.cfg.workload match {
    case "interactive" => new Interactive(ctx)
    case "incremental" => new Incremental(ctx)
    case w => sys.error(s"unknown workload $w")
  }

  def now: Double = System.currentTimeMillis().toDouble
}

/** An analyst's sequential session: a sample of the short OLAP and
  * time-series query families and top-k probes of two indexes built
  * during set-up, in an order the seed picks anew for every pass. */
final class Interactive(ctx: Ctx) extends Workload {
  import ctx._
  private val dir = cfg.fixture
  private val modules = Seq(
    "Relational" -> graft.queries.Relational,
    "TimeSeries" -> graft.queries.TimeSeries,
    "SecurityMaster" -> graft.queries.SecurityMaster,
    "Metrics" -> graft.queries.Metrics)

  /** Whether `SparkEntry.queries` entry `key` calls `module`, judged by
    * the query number its method names start with. */
  private def inModule(module: AnyRef, key: String): Boolean = {
    val num = key.takeWhile(_ != '_')
    module.getClass.getMethods.exists { m =>
      m.getName.startsWith(num) && m.getName.length > num.length &&
        m.getName.charAt(num.length).isUpper
    }
  }

  /** Every seventh query of each family in query-number order: the
    * session samples each family's range at a size one pass can afford. */
  private val queryOps: Seq[Op] = modules.flatMap { case (family, m) =>
    graft.SparkEntry.queries.toSeq.filter { case (k, _) => inModule(m, k) }
      .sortBy(_._1.drop(1).takeWhile(_.isDigit).toInt)
      .zipWithIndex.collect { case ((k, fn), i) if i % 7 == 0 =>
        Op(k, "queries", family, () => fn(spark, dir))
      }
  }

  /** Probe vectors come from a fixed pool of embedding ids; the seed
    * picks which of them each probe operation sends. */
  val ProbePool = 256
  val Probes = 2
  val PerProbe = 4
  val K = 10
  private val probeSets: Seq[Seq[Long]] = {
    val r = new Random(cfg.seed)
    Seq.fill(Probes)(r.shuffle((0L until ProbePool).toList).take(PerProbe).sorted)
  }
  private var ann: AnnIndex = _
  private var lsh: LshIndex = _
  private var builds = 0
  private def emb = graft.Tables.embeddings(spark, dir)
  private def probeFrame(ids: Seq[Long]) = emb.filter(col("vec_id").isin(ids: _*))

  def setup(): Unit = {
    builds += 1
    ann = tracer.span("operators", "AnnIndex.build") {
      AnnIndex.build(emb, work(s"ann_$builds"))
    }
    lsh = tracer.span("operators", "LshIndex.build") {
      LshIndex.build(emb, work(s"lsh_$builds"))
    }
  }

  val ops: Seq[Op] = queryOps ++
    probeSets.zipWithIndex.flatMap { case (ids, i) => Seq(
      Op(s"AnnIndex.probe#$i", "operators", "AnnIndex.probe",
        () => ann.probe(probeFrame(ids), K)),
      Op(s"LshIndex.probe#$i", "operators", "LshIndex.probe",
        () => lsh.probe(probeFrame(ids), K)))
    }

  /** Probe references are kept per pool id: a probe's digest is the sum
    * of its ids' digests, so any seed's probe sets can be checked. */
  def reference(): Map[String, Any] = {
    val pool = probeFrame(0L until ProbePool)
    def perId(df: DataFrame) = Digest.byKey(df, "query_id").map {
      case (id, d) => id.toString -> d.toMap }
    queryOps.map(op => op.name -> Digest.of(op.run()).toMap).toMap ++ Map(
      "AnnIndex.probe" -> perId(ann.probe(pool, K)),
      "LshIndex.probe" -> perId(lsh.probe(pool, K)))
  }

  /** The digest `op`'s output must have, if the reference has one. */
  private def expected(op: Op, reference: Map[String, Any]): Option[Digest] =
    if (op.layer == "queries") reference.get(op.name).map(Digest.fromMap)
    else reference.get(op.family).map { perId =>
      val m = perId.asInstanceOf[Map[String, Any]]
      probeSets(op.name.split('#')(1).toInt)
        .map(id => m.get(id.toString).map(Digest.fromMap).getOrElse(Digest.zero))
        .reduce(_ + _)
    }

  /** The frames of the last pass's successful operations, by name. */
  private val frames = mutable.LinkedHashMap.empty[String, DataFrame]

  /** Runs `op` once into the noop sink and keeps its frame for `check`. */
  private def runOp(op: Op): Option[Double] =
    rec.attempt(op.name) {
      tracer.span(op.layer, op.name) {
        val df = tracer.span(op.layer, "build") {
          if (cfg.injectFailure.contains(op.name))
            sys.error(s"injected failure in ${op.name}")
          op.run()
        }
        noop(df)
        frames(op.name) = df
      }
    }

  private def order(index: Int): Seq[Op] =
    new Random(cfg.seed * 1000003L + index).shuffle(ops)

  def pass(index: Int): Pass =
    tracer.span("bench", s"pass $index") {
      val t0 = Workloads.now
      frames.clear()
      val lat = order(index).flatMap(op => runOp(op).map(op.name -> _))
      val p = Pass(index, t0, Workloads.now, order(index).map(_.name), lat.toMap)
      Main.log(f"pass $index: ${p.wall}%.2fs, ${lat.size} of ${ops.size} operations ok")
      p
    }

  /** Digests the last pass's frames, side by side, and compares them
    * with the reference. An operation that failed in that pass has no
    * frame and is already counted. */
  def check(reference: Map[String, Any]): Unit =
    ctx.concurrently(ops.flatMap(op => frames.get(op.name).map(df => () => {
      val want = expected(op, reference)
      val got = Try(Digest.of(df))
      (op.name, got.toOption.exists(g => want.contains(g)),
        s"output digest ${got.map(_.toMap)} differs from reference ${want.map(_.toMap)}")
    }))).foreach { case (name, ok, detail) => rec.checked(name, ok, detail) }

  def plan: Map[String, Any] = Map("ops" -> ops.map(_.name), "probe_ids" -> probeSets)

  override def families: Map[String, String] = ops.map { op =>
    op.name -> (if (op.layer == "queries") s"queries.${op.family}.warm_s"
                else s"operators.${op.family}_s")
  }.toMap
}

/** Daily batches of the events tape folded into the ledgers, drained by
  * six streaming twins and served back as two ledger-tail queries. */
final class Incremental(ctx: Ctx) extends Workload {
  import ctx._
  private val dir = cfg.fixture
  private val schema = graft.Tables.events(spark, dir).schema

  /** The daily batches stage_batches.py cut from the tape for this seed,
    * in landing order; pass k lands and folds batch k on top of the
    * state the earlier passes built. */
  private val staged: Seq[String] = {
    val s = Files.list(Paths.get(cfg.work, "staged"))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }
  private val stagePlan = Json.read(Files.readString(Paths.get(cfg.work, "staged", "plan.json")))

  private val kinds = Incremental.Kinds
  import Incremental.Twins

  private var gen = 0
  private var ledgers: Map[LedgerTable.Kind, LedgerTable] = Map.empty
  private var ledgerDirs: Seq[String] = Nil
  private var streams: Seq[(String, StreamingQuery, String)] = Nil

  private def twin(name: String, in: DataFrame): DataFrame = {
    import spark.implicits._
    name match {
      case "dailyVolStream" => Streams.dailyVolStream(in)
      case "dailyOhlcStream" => Streams.dailyOhlcStream(in)
      case "momentsStream" => Streams.momentsStream(spark, in)
        .toDF("user_id", "n", "s2", "s3", "s4", "sv")
      case "rvStream" => Streams.rvStream(spark, in).toDF("user_id", "day", "n", "ss")
      case "sessionize" => Streams.sessionize(spark, in).toDF()
      case "drawdownStream" => Streams.drawdownStream(spark, in)
        .toDF("user_id", "event_id", "dd", "peak")
    }
  }

  private def stopStreams(): Unit = streams.foreach(_._2.stop())

  /** Fresh ledgers and fresh runs of the six twins, each drained once so
    * its first (empty) trigger is behind it. */
  def setup(): Unit = {
    stopStreams()
    gen += 1
    ledgerDirs = kinds.map(k => work(s"g$gen/ledger_${k.name}"))
    ledgers = kinds.zip(ledgerDirs).map { case (k, d) => k -> new LedgerTable(spark, d, k) }.toMap
    streams = Twins.map { t =>
      val in = work(s"g$gen/in_$t")
      val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in)
      val table = s"${t}_g$gen"
      val q = tracer.span("streaming", s"$t.start") {
        val q = twin(t, src).writeStream
          .outputMode(if (t == "sessionize") "append" else "update")
          .format("memory").queryName(table)
          .option("checkpointLocation", work(s"g$gen/ckpt_$t")).start()
        q.processAllAvailable()
        q
      }
      (t, q, in)
    }
  }

  private var landed = 0

  override def maxPasses: Int = staged.size

  /** Lands batch `index`, folds it into each of the three ledgers,
    * drains each twin and serves the two ledger tails: eleven operations
    * in a fixed order. */
  def pass(index: Int): Pass =
    tracer.span("bench", s"pass $index") {
      val t0 = Workloads.now
      val file = staged(index)
      val order = mutable.ArrayBuffer.empty[String]
      val lat = mutable.LinkedHashMap.empty[String, Double]
      /** Times one operation; a warm one adds a sample to each of
        * `sampleKinds` (the cold pass gives no samples, as in the other
        * workloads). */
      def op(name: String, layer: String, sampleKinds: String*)(body: => Unit): Unit = {
        order += s"$name#$index"
        rec.attempt(s"$name#$index")(tracer.span(layer, name)(body)).foreach { s =>
          if (index > 0) sampleKinds.foreach(rec.add(_, s))
          lat(s"$name#$index") = s
        }
      }
      val before = ledgerDirs.flatMap(files).toMap
      kinds.foreach { k =>
        op(s"LedgerTable.${k.name}.ingest", "sources", "ingest", s"ingest.${k.name}") {
          require(ledgers(k).ingest(index + 1L, spark.read.parquet(file)),
            s"${k.name} refused batch ${index + 1}")
        }
      }
      val after = ledgerDirs.flatMap(files)
      val written = after.filterNot { case (f, _) => before.contains(f) }
      // a twin sees the batch only when its own drain starts
      streams.foreach { case (t, q, in) =>
        op(t, "streaming", "stream", s"stream.$t") {
          Files.createLink(Paths.get(in, s"day_$index.parquet"), Paths.get(file))
          tracer.bindGroup(q.runId.toString)(q.processAllAvailable())
        }
      }
      serveOps.foreach { case (name, f) => op(name, "sources", "serve")(noop(f())) }
      landed = index + 1
      if (index > 0) {
        rec.add("stored_bytes_per_input_byte", after.map(_._2).sum.toDouble /
          staged.take(landed).map(f => Files.size(Paths.get(f))).sum)
        rec.add("sources.bytes_written", written.map(_._2).sum.toDouble)
        rec.add("sources.files_written", written.size.toDouble)
      }
      val p = Pass(index, t0, Workloads.now, order.toSeq, lat.toMap)
      Main.log(f"pass $index: ${p.wall}%.2fs")
      p
    }

  /** Data files under a ledger directory, with their sizes. */
  private def files(d: String): Seq[(Path, Long)] = {
    val s = Files.walk(Paths.get(d))
    try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet"))
      .map(f => f -> Files.size(f)).toList
    finally s.close()
  }

  private def closes = ledgers(LedgerTable.Closes).serveCloses.get
  private def volume = ledgers(LedgerTable.Volume).serveVolume.get
  private val serveOps: Seq[(String, () => DataFrame)] = Seq(
    "Quant.amihudFromLedgers" -> (() => graft.queries.Quant.amihudFromLedgers(closes, volume)),
    "Quant.rollFromCloses" -> (() => graft.queries.Quant.rollFromCloses(closes)))

  /** The tape as landed so far, as a fixture directory the batch
    * queries can read. */
  private lazy val landedDir: String = {
    val d = work("landed")
    spark.read.schema(schema).parquet(staged.take(landed): _*)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  /** Multiset equality, compared by digest. The frames are built by the
    * caller; the returned verdict runs their jobs. */
  private def same(a: DataFrame, b: DataFrame): () => Boolean =
    () => Digest.of(a) == Digest.of(b)

  private def table(t: String) = spark.table(s"${t}_g$gen")

  /** Each twin's drained state against its batch twin, in the form
    * StreamingSpec states the equivalence. */
  private def twinChecks(landed: DataFrame): Seq[(String, Try[() => Boolean])] = {
    def q(name: String) = graft.SparkEntry.queries(name)(spark, landedDir)
    Seq(
      "dailyVolStream" -> Try(same(
        table("dailyVolStream").groupBy(col("user_id"), col("day")).agg(max(col("v")).as("v")),
        landed.select(col("user_id"), date_trunc("day", col("ts")).as("day"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .filter(col("k") > 0L).groupBy(col("user_id"), col("day"))
          .agg(sum(col("k")).as("v")))),
      "dailyOhlcStream" -> Try(same(
        table("dailyOhlcStream").groupBy(col("user_id"), col("day"))
          .agg(min(struct(col("o_ts"), col("o_eid"), col("o"))).as("of"),
            max(struct(col("c_ts"), col("c_eid"), col("c"))).as("cf"),
            max(col("h")).as("h"), min(col("l")).as("l"))
          .select(col("user_id"), col("day"), col("of.o").as("o"), col("h"),
            col("l"), col("cf.c").as("c")),
        graft.queries.Microstructure.dailyOhlc(spark, landedDir))),
      "momentsStream" -> Try {
        val r = graft.functions.Num.decRound _
        same(table("momentsStream").groupBy(col("user_id"))
          .agg(sum(col("n")).as("n_rets"), sum(col("s2")).as("rv2"),
            sum(col("s3")).as("rv3"), sum(col("s4")).as("rv4"), sum(col("sv")).as("svs"))
          .filter(col("rv2") > 0.0)
          .select(col("user_id"), col("n_rets"), r(col("rv2"), 6).as("rv"),
            r(col("svs"), 6).as("downside_sv"),
            r(sqrt(col("n_rets").cast("double")) * col("rv3") / pow(col("rv2"), 1.5), 6).as("rskew"),
            r(col("n_rets").cast("double") * col("rv4") / (col("rv2") * col("rv2")), 6).as("rkurt")),
          q("q188_realized_moments"))
      },
      "rvStream" -> Try(same(
        table("rvStream").groupBy(col("user_id"), col("day"))
          .agg(sum(col("n")).as("n_rets"),
            when(sum(col("n")) > 0L, graft.functions.Num.decRound(sum(col("ss")), 6)).as("rv")),
        q("q157_realized_variance"))),
      "sessionize" -> Try {
        val keys = Seq("user_id", "session_start", "n_events")
        val s = table("sessionize").select(keys.map(col): _*)
        val missing = s.join(q("q27_sessionize").select(keys.map(col): _*), keys, "left_anti")
        () => s.count() > 0 && missing.isEmpty
      },
      "drawdownStream" -> Try(same(
        table("drawdownStream").groupBy(col("user_id"))
          .agg(max(col("dd")).as("max_drawdown"), max(col("peak")).as("peak_value")),
        q("q73_drawdown"))))
  }

  /** Ledger states against the from-tape collapse (LedgerTableSpec), the
    * served frames against the batch queries they replace, and every
    * twin against its batch twin. The frames are built here, one by one;
    * their digests run side by side. */
  def check(reference: Map[String, Any]): Unit = {
    val landed = graft.Tables.events(spark, landedDir)
    def q(name: String) = graft.SparkEntry.queries(name)(spark, landedDir)
    val checks = kinds.map(k => s"LedgerTable.${k.name}" ->
        Try(same(ledgers(k).state.get, k.collapse(landed)))) ++
      Seq("Quant.amihudFromLedgers" -> Try(same(serveOps(0)._2(), q("q239_amihud_daily"))),
        "Quant.rollFromCloses" -> Try(same(serveOps(1)._2(), q("q240_roll_spread_daily")))) ++
      twinChecks(landed)
    ctx.concurrently(checks.map { case (name, c) => () => name -> c.flatMap(f => Try(f())) })
      .foreach { case (name, r) =>
        rec.checked(name, r.getOrElse(false), r.failed.map(_.toString).getOrElse("mismatch"))
      }
  }

  /** The incremental checks compare against batch twins computed in the
    * run, so there is nothing to record. */
  def reference(): Map[String, Any] = Map.empty

  override def close(): Unit = stopStreams()

  def plan: Map[String, Any] = Map("cuts_us" -> stagePlan("cuts_us"),
    "late_rows" -> stagePlan("late_rows"),
    "twins" -> Twins, "batches_landed" -> landed,
    "batch_bytes" -> staged.map(f => Files.size(Paths.get(f))))
}

object Incremental {
  val Kinds = Seq(LedgerTable.Volume, LedgerTable.Closes, LedgerTable.Ohlc)
  val Twins = Seq("dailyVolStream", "dailyOhlcStream", "momentsStream",
    "rvStream", "sessionize", "drawdownStream")
}
