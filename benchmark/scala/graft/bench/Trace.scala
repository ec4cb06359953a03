package graft.bench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval on one layer; times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans opened by the benchmark around its calls into graft. The
  * untraced run uses this base class, which only runs the body, so its
  * timings carry no tracing cost.
  */
class Tracer {
  def span[T](layer: String, name: String)(body: => T): T = body
  /** Ties the jobs of a streaming query run (its job group) to the
    * currently open span while `body` runs. */
  def bindGroup[T](group: String)(body: => T): T = body
}

/** Job, stage and task records taken from the SparkListener. */
final case class JobRec(id: Int, group: String, start: Double, end: Double,
                        stages: Seq[Int])
final case class StageRec(id: Int, attempt: Int, start: Double, end: Double,
                          taskTimes: Seq[Double])
final case class TaskRec(start: Double, runMs: Double, cpuNs: Long, gcMs: Long,
                         inputBytes: Long, shWriteBytes: Long, shWriteRecs: Long,
                         shReadBytes: Long, fetchWaitMs: Long, spillDisk: Long,
                         ok: Boolean)
/** One micro-batch of a streaming run that read input rows. */
final case class ProgressRec(run: String, start: Double,
                             durations: Map[String, Long], stateRows: Long,
                             stateMem: Long)

/** The traced run's recorder: bench spans on the client thread under one
  * root span named after the workload, plus a SparkListener (jobs,
  * stages, tasks), a QueryExecutionListener (analysis / optimization /
  * planning phases) and a StreamingQueryListener (micro-batch
  * progress). Everything stays in memory until [[finish]].
  */
final class LiveTracer(spark: SparkSession, workload: String) extends Tracer {
  private val sc = spark.sparkContext
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def now: Double = ms0 + (System.nanoTime() - ns0) / 1e6

  private val rootStart = now
  private var nextId = 1L
  private var stack: List[Long] = List(1L)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val groupSpan = mutable.Map.empty[String, Long]

  override def span[T](layer: String, name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.head
    val t0 = now
    stack = id :: stack
    sc.setJobGroup(id.toString, name)
    try body finally {
      stack = stack.tail
      sc.setJobGroup(stack.head.toString, name)
      spans.synchronized(spans += Span(id, parent, layer, name, t0, now))
    }
  }

  override def bindGroup[T](group: String)(body: => T): T = {
    groupSpan.synchronized(groupSpan(group) = stack.head)
    body
  }

  private val jobStart = mutable.Map.empty[Int, (String, Double, Seq[Int])]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stageTaskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Double]]
  val plans = mutable.ArrayBuffer.empty[Span]
  /** End time of every query execution the QueryExecutionListener saw. */
  val executions = mutable.ArrayBuffer.empty[Double]
  val progress = mutable.ArrayBuffer.empty[ProgressRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStart(e.jobId) = (group, e.time.toDouble, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (g, t0, st) =>
        jobs += JobRec(e.jobId, g, t0, e.time.toDouble, st)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      val ok = e.reason == org.apache.spark.Success
      stageTaskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += i.duration.toDouble
      tasks += (if (m == null)
        TaskRec(i.launchTime.toDouble, 0, 0, 0, 0, 0, 0, 0, 0, 0, ok)
      else TaskRec(i.launchTime.toDouble,
        m.executorRunTime.toDouble, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled, ok))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stages += StageRec(s.stageId, s.attemptNumber(),
        s.submissionTime.getOrElse(0L).toDouble,
        s.completionTime.getOrElse(0L).toDouble,
        stageTaskTimes.remove((s.stageId, s.attemptNumber()))
          .map(_.toSeq).getOrElse(Nil))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = plans.synchronized {
      executions += now
      qe.tracker.phases.foreach { case (phase, p) =>
        plans += Span(0, 0, "plan", phase, p.startTimeMs.toDouble,
          p.endTimeMs.toDouble)
      }
    }
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) progress.synchronized {
        progress += ProgressRec(p.runId.toString,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Closes the root span, drains the listener bus and detaches the
    * listeners. */
  def finish(): Unit = {
    spans += Span(1L, 0L, "bench", workload, rootStart, now)
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** All spans with their parents resolved: jobs hang under the span
    * that set their job group (or the span bound to a streaming run),
    * stages under their job, and plan phases under the innermost bench
    * span that was open on the client thread when the phase began.
    */
  def tree(): Seq[Span] = {
    val bench = spans.toSeq
    val leaves = bench.filterNot(s => bench.exists(_.parent == s.id))
      .sortBy(_.start).toArray
    val starts = leaves.map(_.start)
    def enclosing(t: Double): Long = {
      val i = java.util.Arrays.binarySearch(starts, t) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && leaves(i).end >= t) leaves(i).id else 0L
    }
    var id = bench.map(_.id).maxOption.getOrElse(0L)
    def fresh(): Long = { id += 1; id }
    val jobSpans = jobs.toSeq.map { j =>
      val parent = scala.util.Try(j.group.toLong).toOption
        .orElse(groupSpan.get(j.group)).getOrElse(enclosing(j.start))
      (j, Span(fresh(), parent, "exec", s"job ${j.id}", j.start, j.end))
    }
    val stageOwner = jobSpans.flatMap { case (j, s) => j.stages.map(_ -> s.id) }
      .toMap
    val stageSpans = stages.toSeq.filter(_.start > 0).map { s =>
      Span(fresh(), stageOwner.getOrElse(s.id, 0L), "exec",
        s"stage ${s.id}.${s.attempt}", s.start, s.end)
    }
    val planSpans = plans.toSeq.map(p => p.copy(id = fresh(),
      parent = enclosing(p.start)))
    bench ++ jobSpans.map(_._2) ++ stageSpans ++ planSpans
  }
}

object Trace {
  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Self time per layer (seconds) of the spans that start inside
    * [lo, hi]: each span's duration minus the part of it its children
    * cover. */
  def selfTimes(all: Seq[Span], lo: Double, hi: Double): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.filter(s => s.start >= lo && s.start <= hi).groupBy(_.layer).map {
      case (layer, ss) => layer -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        math.max(0.0, s.dur - covered(c, s.start, s.end))
      }.sum / 1000.0
    }
  }

  /** Writes spans as JSON lines. */
  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(Json.write(Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end)))
      w.newLine()
    } finally w.close()
  }
}
