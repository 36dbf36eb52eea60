package graftbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing, all from outside the library.
  *
  * A span wraps each call the benchmark makes into a layer (name, start,
  * end, parent, op id). Spans stay in memory and are written to one JSON
  * file at exit. Jobs carry the id of the innermost open span and of the
  * op through `SparkContext.setLocalProperty`, so the listener attaches
  * job and task events to the op that caused them. When tracing is off,
  * `span` only runs its body and no listener is registered. */
final class Tracer(spark: SparkSession, val enabled: Boolean, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  /** The running op's id, 0 outside ops. */
  private var op = 0L
  /** op id -> (start ms, end ms, wall s) */
  private val opWall = mutable.LinkedHashMap.empty[Long, (Long, Long, Double)]
  private val engine = new EngineListener
  private val plans = new PlanListener

  if (enabled) {
    sc.addSparkListener(engine)
    spark.listenerManager.register(plans)
  }

  private var active = enabled

  /** Stops tracing (spans and listeners) until `resume`. */
  def pause(): Unit = if (active) {
    drain()
    sc.removeSparkListener(engine)
    spark.listenerManager.unregister(plans)
    active = false
  }
  def resume(): Unit = if (enabled && !active) {
    sc.addSparkListener(engine)
    spark.listenerManager.register(plans)
    active = true
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.synchronized(spans += Span(id, name, t0, t1, parent, op))
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Runs one measured op under a fresh op id (the unit listener data is
    * grouped by); returns its wall seconds. */
  def op[T](name: String)(body: => T): (T, Double) = {
    op = ids.incrementAndGet()
    sc.setLocalProperty(OpKey, op.toString)
    val (m0, t0) = (System.currentTimeMillis(), System.nanoTime())
    try {
      val r = span(name)(body)
      val dt = (System.nanoTime() - t0) / 1e9
      opWall(op) = (m0, System.currentTimeMillis(), dt)
      (r, dt)
    } finally {
      op = 0L
      sc.setLocalProperty(OpKey, null)
    }
  }
  def opCount: Int = opWall.size

  /** Drops everything recorded so far (warm-up). */
  def reset(): Unit = {
    drain()
    spans.synchronized(spans.clear())
    opWall.clear(); engine.clear(); plans.clear()
  }

  def drain(): Unit = if (enabled) org.apache.spark.BenchShim.drainListeners(sc)

  /** Jobs per span named `name` whose call site is a `localCheckpoint`
    * (streaming triggers replace call sites, so only direct calls show it). */
  def checkpointJobsPer(name: String): Double = {
    drain()
    val ids = spans.synchronized(spans.filter(_.name == name).map(_.id)).toSet
    val n = engine.jobs.values.count(j => ids.contains(j.span) && j.callSite.startsWith("localCheckpoint"))
    n.toDouble / math.max(1, ids.size)
  }

  /** Seconds spent in spans named `name` (summed). */
  def spanSeconds(name: String): Double =
    spans.synchronized(spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum)

  /** Engine and plan metrics of the ops recorded since the last reset,
    * per op (totals divided by the number of ops). */
  def layerMetrics(): Seq[(String, Double, String)] = {
    drain()
    val nOps = math.max(1, opWall.size)
    // a job submitted from a thread without the op property (a library
    // thread pool) belongs to the op whose wall interval holds its start
    def opOf(j: Job): Long =
      if (j.op != 0L) j.op
      else opWall.collectFirst { case (o, (a, b, _)) if j.start >= a && j.start <= b => o }
        .getOrElse(0L)
    val jobOp = engine.jobs.values.map(j => j.id -> opOf(j)).toMap
    val jobs = engine.jobs.values.filter(j => opWall.contains(jobOp(j.id))).toSeq
    val tasks = engine.tasks.filter(t =>
      engine.stageJob.get(t.stage).exists(j => opWall.contains(jobOp(j))))
    val runS = tasks.map(_.runMs).sum / 1e3
    val wallS = opWall.values.map(_._3).sum
    def per(x: Double) = x / nOps
    val mb = 1024.0 * 1024.0
    // a query belongs to the op whose wall interval holds its analysis start
    val pq = plans.phases.filter { case (t, _) =>
      opWall.values.exists { case (a, b, _) => t >= a && t <= b }
    }.map(_._2)
    Seq(
      ("engine.jobs", per(jobs.size), "count"),
      ("engine.tasks", per(tasks.size), "count"),
      ("engine.job_wall_s", per(jobs.map(_.wallS).sum), "s"),
      ("engine.task_run_s", per(runS), "s"),
      ("engine.task_cpu_s", per(tasks.map(_.cpuNs).sum / 1e9), "s"),
      ("engine.gc_s", per(tasks.map(_.gcMs).sum / 1e3), "s"),
      ("engine.task_overhead_s", per(tasks.map(t => t.wallMs - t.runMs).sum / 1e3), "s"),
      ("engine.idle_core_frac", 1.0 - runS / math.max(1e-9, wallS * cores), "fraction"),
      ("engine.shuffle_write_mb", per(tasks.map(_.shuffleWrite).sum / mb), "MB"),
      ("engine.shuffle_read_mb", per(tasks.map(_.shuffleRead).sum / mb), "MB"),
      ("engine.fetch_wait_s", per(tasks.map(_.fetchWaitMs).sum / 1e3), "s"),
      ("engine.spill_mb", per(tasks.map(_.spill).sum / mb), "MB"),
      ("engine.result_mb", per(tasks.map(_.result).sum / mb), "MB"),
      ("plans.analysis_ms", per(pq.map(_("analysis")).sum), "ms"),
      ("plans.optimization_ms", per(pq.map(_("optimization")).sum), "ms"),
      ("plans.planning_ms", per(pq.map(_("planning")).sum), "ms"))
  }

  /** Writes every span (with the jobs submitted inside it) and every job
    * (span, op, call site, wall seconds) as one JSON file. */
  def writeSpans(path: String): Unit = if (enabled) {
    drain()
    new File(path).getParentFile.mkdirs()
    val w = new PrintWriter(path, "UTF-8")
    try {
      val jobsBySpan = engine.jobs.values.groupBy(_.span)
      val spanJson = spans.synchronized(spans.toList).map { s =>
        val js = jobsBySpan.getOrElse(s.id, Nil).map(_.id).toSeq.sorted
        Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
          "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
          "parent" -> s.parent.toString, "op" -> s.op.toString,
          "jobs" -> js.mkString("[", ",", "]")))
      }
      val jobJson = engine.jobs.values.toSeq.map { j =>
        Json.obj(Seq("id" -> j.id.toString, "span" -> j.span.toString, "op" -> j.op.toString,
          "call_site" -> Json.str(j.callSite), "wall_s" -> Json.num(j.wallS)))
      }
      w.println("{\"spans\": [")
      w.println(spanJson.mkString(",\n"))
      w.println("],\n\"jobs\": [")
      w.println(jobJson.mkString(",\n"))
      w.println("]}")
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val OpKey = "graftbench.op"

  final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, op: Long)
  final case class Job(id: Int, span: Long, op: Long, callSite: String, start: Long, var end: Long) {
    def wallS: Double = if (end > start) (end - start) / 1e3 else 0.0
  }
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, wallMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long,
                        spill: Long, result: Long)

  private def longProp(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  final class EngineListener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageJob = mutable.HashMap.empty[Int, Int]
    val tasks = mutable.ArrayBuffer.empty[Task]
    def clear(): Unit = synchronized { jobs.clear(); stageJob.clear(); tasks.clear() }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, longProp(e.properties, SpanKey), longProp(e.properties, OpKey),
        site, e.time, 0L)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, info.finishTime - info.launchTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.resultSize)
      }
    }
  }

  /** Catalyst phase times of every executed query, from its tracker. */
  final class PlanListener extends QueryExecutionListener {
    /** (analysis start in epoch ms, phase -> ms) per query */
    val phases = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]
    def clear(): Unit = synchronized(phases.clear())
    // runs on the listener bus thread, so the op is found by time, not by
    // the caller's local properties
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val start = ph.get("analysis").map(_.startTimeMs).getOrElse(0L)
      synchronized(phases += (start -> ph.map { case (k, v) => k -> v.durationMs.toDouble }
        .withDefaultValue(0.0)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
