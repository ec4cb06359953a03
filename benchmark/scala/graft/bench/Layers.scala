package graft.bench

/** Per-layer metrics of a traced run. Every workload reports the same
  * names; a layer the workload does not load reads 0. Unless a comment
  * says otherwise a value is taken per warm pass: times are the median
  * over the warm passes, counts and bytes those of the first warm pass,
  * whose work is the same in every run of a seed.
  */
object Layers {
  val QueryFamilies = Seq("Relational", "TimeSeries", "SecurityMaster", "Metrics")
  /** Operator calls timed directly by the benchmark. */
  val OperatorCalls = Seq("AnnIndex.build", "LshIndex.build",
    "AnnIndex.probe", "LshIndex.probe")
  val SetupCalls = Set("AnnIndex.build", "LshIndex.build")
  val Twins = Incremental.Twins
  val LedgerKinds = Incremental.Kinds.map(_.name)
  val SelfLayers = Seq("bench", "queries", "operators", "sources",
    "streaming", "plan", "exec")

  /** Every per-layer metric name with its unit. */
  val Names: Seq[(String, String)] =
    Seq("queries.build_s" -> "s", "queries.build_jobs" -> "count") ++
      QueryFamilies.map(f => s"queries.$f.warm_s" -> "s") ++
      Seq("plan.analysis_s" -> "s", "plan.optimization_s" -> "s",
        "plan.planning_s" -> "s", "plan.executions" -> "count",
        "exec.jobs" -> "count", "exec.stages" -> "count",
        "exec.tasks" -> "count", "exec.first_job_s" -> "s",
        "exec.driver_only_s" -> "s", "exec.run_s" -> "s",
        "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.core_util" -> "ratio",
        "exec.straggler_ratio" -> "ratio", "exec.input_bytes" -> "bytes",
        "exec.tasks_failed" -> "count", "exec.stages_retried" -> "count",
        "shuffle.write_bytes" -> "bytes", "shuffle.write_records" -> "count",
        "shuffle.read_bytes" -> "bytes", "shuffle.fetch_wait_s" -> "s",
        "shuffle.spill_disk_bytes" -> "bytes") ++
      OperatorCalls.map(o => s"operators.${o}_s" -> "s") ++
      LedgerKinds.map(k => s"sources.LedgerTable.$k.ingest_s" -> "s") ++
      Seq("sources.bytes_written" -> "bytes", "sources.files_written" -> "count",
        "sources.serve_s" -> "s") ++
      Twins.map(t => s"streaming.$t.batch_s" -> "s") ++
      Seq("streaming.add_batch_s" -> "s", "streaming.query_planning_s" -> "s",
        "streaming.wal_commit_s" -> "s", "streaming.state_rows" -> "count",
        "streaming.state_mem_bytes" -> "bytes",
        "jvm.jit_s" -> "s", "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB") ++
      SelfLayers.map(l => s"$l.self_s" -> "s")

  def apply(cfg: Config, lt: LiveTracer, spans: Seq[Span], warm: Seq[Pass],
            rec: Recorder, families: Map[String, String], jitS: Double,
            gcS: Double, heapPeakMb: Double): Map[String, Metric] = {
    val byId = spans.map(s => s.id -> s).toMap
    val perPass = warm.map { p =>
      val (lo, hi) = (p.start, p.end)
      def in(t: Double) = t >= lo && t <= hi
      val m = scala.collection.mutable.Map.empty[String, Double]
      val jobs = spans.filter(s => s.layer == "exec" && s.name.startsWith("job ") && in(s.start))
      val builds = spans.filter(s => s.name == "build" && in(s.start) &&
        byId.get(s.parent).exists(_.layer == "queries"))
      m("queries.build_s") = builds.map(_.dur).sum / 1000
      val buildIds = builds.map(_.id).toSet
      m("queries.build_jobs") = jobs.count(j => buildIds(j.parent))
      p.lat.groupBy { case (op, _) => families.getOrElse(op, "") }.foreach {
        case ("", _) =>
        case (metric, xs) => m(metric) = xs.values.sum
      }
      val plans = spans.filter(s => s.layer == "plan" && in(s.start))
      Seq("analysis", "optimization", "planning").foreach { ph =>
        m(s"plan.${ph}_s") = plans.filter(_.name == ph).map(_.dur).sum / 1000
      }
      m("plan.executions") = lt.executions.count(in)
      m("exec.jobs") = jobs.size
      val stages = lt.stages.filter(s => in(s.start))
      m("exec.stages") = stages.size
      m("exec.stages_retried") = stages.count(_.attempt > 0)
      val tasks = lt.tasks.filter(t => in(t.start))
      m("exec.tasks") = tasks.size
      m("exec.tasks_failed") = tasks.count(!_.ok)
      m("exec.run_s") = tasks.map(_.runMs).sum / 1000
      m("exec.cpu_s") = tasks.map(_.cpuNs).sum / 1e9
      m("exec.gc_s") = tasks.map(_.gcMs).sum / 1000.0
      m("exec.input_bytes") = tasks.map(_.inputBytes).sum.toDouble
      m("exec.core_util") = m("exec.run_s") / (cfg.cores * p.wall)
      val timed = stages.filter(_.taskTimes.size >= 2)
      m("exec.straggler_ratio") =
        if (timed.isEmpty) 1.0
        else timed.map(_.taskTimes.max).sum /
          math.max(1e-9, timed.map(s => Stats.median(s.taskTimes)).sum)
      m("shuffle.write_bytes") = tasks.map(_.shWriteBytes).sum.toDouble
      m("shuffle.write_records") = tasks.map(_.shWriteRecs).sum.toDouble
      m("shuffle.read_bytes") = tasks.map(_.shReadBytes).sum.toDouble
      m("shuffle.fetch_wait_s") = tasks.map(_.fetchWaitMs).sum / 1000.0
      m("shuffle.spill_disk_bytes") = tasks.map(_.spillDisk).sum.toDouble
      // operations are the children of the pass span
      val passSpan = spans.find(s => s.layer == "bench" && s.name == s"pass ${p.index}")
      val ops = spans.filter(s => passSpan.exists(_.id == s.parent) &&
        s.layer != "bench" && s.layer != "exec")
      val jobIv = jobs.map(j => (j.start, j.end))
      m("exec.first_job_s") = Stats.median(ops.flatMap { o =>
        jobs.filter(j => j.start >= o.start && j.start <= o.end).map(_.start).minOption
          .map(t => (t - o.start) / 1000)
      })
      m("exec.driver_only_s") = ops.map(o =>
        o.dur - Trace.covered(jobIv, o.start, o.end)).sum / 1000
      val progress = lt.progress.filter(r => in(r.start))
      def progressMedian(k: String) =
        Stats.median(progress.flatMap(_.durations.get(k)).map(_ / 1000.0).toSeq)
      m("streaming.add_batch_s") = progressMedian("addBatch")
      m("streaming.query_planning_s") = progressMedian("queryPlanning")
      m("streaming.wal_commit_s") = progressMedian("walCommit")
      val last = progress.groupBy(_.run).values.map(_.maxBy(_.start))
      m("streaming.state_rows") = last.map(_.stateRows).sum.toDouble
      m("streaming.state_mem_bytes") = last.map(_.stateMem).sum.toDouble
      Trace.selfTimes(spans, lo, hi).foreach { case (l, v) => m(s"$l.self_s") = v }
      m.toMap
    }
    val med = Names.map { case (n, u) =>
      n -> (if (u == "count" || u == "bytes") perPass.headOption.flatMap(_.get(n)).getOrElse(0.0)
            else Stats.median(perPass.map(_.getOrElse(n, 0.0))))
    }.toMap
    // set-up calls run outside the passes: the median of their spans
    val setup = SetupCalls.map { c =>
      s"operators.${c}_s" -> Stats.median(spans.filter(s => s.layer == "operators" && s.name == c)
        .map(_.dur / 1000))
    }
    // incremental samples: medians over the warm batches, except the
    // written bytes and files, which are the first warm batch's
    val samples = LedgerKinds.map(k =>
      s"sources.LedgerTable.$k.ingest_s" -> Stats.median(rec.get(s"ingest.$k"))) ++
      Twins.map(t => s"streaming.$t.batch_s" -> Stats.median(rec.get(s"stream.$t"))) ++
      Seq("sources.serve_s" -> Stats.median(rec.get("serve")),
        "sources.bytes_written" -> rec.get("sources.bytes_written").headOption.getOrElse(0.0),
        "sources.files_written" -> rec.get("sources.files_written").headOption.getOrElse(0.0),
        "jvm.jit_s" -> jitS, "jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> heapPeakMb)
    val all = med ++ setup ++ samples
    Names.map { case (n, u) => n -> Metric(all.getOrElse(n, 0.0), u) }.toMap
  }
}
