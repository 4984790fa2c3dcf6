package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder with Spark listener attribution.
  *
  * A span is opened by the benchmark's own code around one call into a
  * layer (name, start, end, parent, operation id). While a span is open
  * on a thread, its id rides on that thread's Spark local properties, so
  * every job the call submits carries it; stages and tasks follow their
  * job. SQL executions are attributed through their jobs (AQE re-plans)
  * or, for Catalyst phase times and plan metrics, to the innermost span
  * open when the execution's planning ended. Nothing is written until
  * [[writeJson]] at the end. A disabled recorder runs the body and
  * records nothing, and registers no listener. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  final case class Span(id: Int, parent: Int, name: String, op: String,
      startMs: Double, var endMs: Double = Double.NaN)

  final class Agg {
    var jobs = 0; var stages = 0; var tasks = 0
    var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
    var aqeReplans = 0; var broadcastBytes = 0L
    var filesRead = 0L; var rowsScanned = 0L; var executions = 0
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  // wall-clock ms of a nanoTime reading: listener events carry epoch ms
  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val aggs = mutable.HashMap[Int, Agg]()
  private val jobSpan = mutable.HashMap[Int, Int]()
  private val jobStartMs = mutable.HashMap[Int, Long]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val execSpan = mutable.HashMap[Long, Int]()
  private val pendingAqe = mutable.HashMap[Long, Int]()
  @volatile private var drainSeen = false
  @volatile private var active = true

  private def agg(span: Int): Agg = aggs.getOrElseUpdate(span, new Agg)

  /** Run `body` inside a span; the span's id is the jobs' local property
    * for the duration. */
  def span[T](name: String, op: String = "")(body: => T): T =
    if (!enabled || !active) body
    else {
      val sc = spark.sparkContext
      val parent = stack.get().headOption.getOrElse(-1)
      val s = this.synchronized {
        val sp = Span(spans.size, parent, name, op, nowMs)
        spans += sp
        sp
      }
      stack.set(s.id :: stack.get())
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack.set(stack.get().tail)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(p => p.getProperty(DrainProp) != null)) return
      val sp = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      Trace.this.synchronized {
        jobSpan(e.jobId) = sp
        jobStartMs(e.jobId) = e.time
        e.stageIds.foreach(st => stageSpan(st) = sp)
        val a = agg(sp)
        a.jobs += 1
        a.stages += e.stageInfos.count(_.numTasks > 0)
        props.flatMap(p => Option(p.getProperty(ExecIdProp)))
          .foreach { id =>
            execSpan(id.toLong) = sp
            pendingAqe.remove(id.toLong).foreach(n => a.aqeReplans += n)
          }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobSpan.get(e.jobId) match {
          case Some(sp) =>
            agg(sp).jobIntervals += ((jobStartMs(e.jobId), e.time))
          case None => drainSeen = true
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        stageSpan.get(e.stageId).foreach { sp =>
          val a = agg(sp)
          a.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            a.taskRunMs += m.executorRunTime
            a.taskCpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case u: org.apache.spark.sql.execution.ui
          .SparkListenerSQLAdaptiveExecutionUpdate =>
        Trace.this.synchronized {
          execSpan.get(u.executionId) match {
            case Some(sp) => agg(sp).aqeReplans += 1
            case None => pendingAqe(u.executionId) =
              pendingAqe.getOrElse(u.executionId, 0) + 1
          }
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val at = phases.get("planning").map(_.endTimeMs.toDouble)
      .getOrElse(nowMs)
    val (bcast, files, rows) = planMetrics(qe.executedPlan)
    Trace.this.synchronized {
      val a = agg(innermostAt(at))
      a.executions += 1
      a.analysisMs += ms("analysis")
      a.optimizationMs += ms("optimization")
      a.planningMs += ms("planning")
      a.broadcastBytes += bcast
      a.filesRead += files
      a.rowsScanned += rows
    }
  }

  /** The innermost span (on any thread) whose interval holds `ms`. */
  private def innermostAt(ms: Double): Int =
    spans.reverseIterator.find(s => s.startMs <= ms &&
      (s.endMs.isNaN || s.endMs >= ms)).map(_.id).getOrElse(-1)

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the listener bus has delivered every event posted so
    * far: a marker job is the last event, and the bus is FIFO. */
  def drain(): Unit = if (enabled) {
    val sc = spark.sparkContext
    drainSeen = false
    sc.setLocalProperty(DrainProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(DrainProp, null)
    val deadline = System.nanoTime() + 10000000000L
    while (!drainSeen && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def stop(): Unit = if (enabled && active) detach()

  private def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `body` with the recorder switched off — no spans, no listeners —
    * for the untraced side of the overhead comparison. */
  def paused[T](body: => T): T =
    if (!enabled) body
    else {
      drain()
      active = false
      detach()
      try body
      finally {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(qeListener)
        active = true
      }
    }

  def allSpans: Seq[Span] = this.synchronized(spans.toList)

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = this.synchronized {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): List[Int] =
      id :: kids.getOrElse(id, Nil).toList.flatMap(s => go(s.id))
    go(root).toSet
  }

  /** Aggregated counters of every span named `name`, descendants
    * included, with wall time and driver gap: the part of each span's
    * interval during which none of its jobs was running. */
  final case class Roll(count: Int, wallMs: Double, gapMs: Double,
      busyMs: Double, agg: Agg)

  def rollup(name: String): Roll = rollupWhere(_.name == name)

  def rollupWhere(p: Span => Boolean): Roll = this.synchronized {
    val total = new Agg
    var wall = 0.0; var gap = 0.0; var busy = 0.0
    val roots = spans.filter(p)
    roots.foreach { s =>
      val ids = subtree(s.id)
      val intervals = ids.toSeq.flatMap(i =>
        aggs.get(i).map(_.jobIntervals.toSeq).getOrElse(Nil))
      val window = (math.floor(s.startMs).toLong, math.ceil(s.endMs).toLong)
      val u = Stats.uncovered(window, intervals)
      wall += s.endMs - s.startMs
      gap += u
      busy += (window._2 - window._1) - u
      ids.foreach(i => aggs.get(i).foreach(a => merge(total, a)))
    }
    Roll(roots.size, wall, gap, busy, total)
  }

  private def merge(into: Agg, a: Agg): Unit = {
    into.jobs += a.jobs; into.stages += a.stages; into.tasks += a.tasks
    into.taskRunMs += a.taskRunMs; into.taskCpuNs += a.taskCpuNs
    into.gcMs += a.gcMs; into.shuffleRead += a.shuffleRead
    into.shuffleWrite += a.shuffleWrite; into.spill += a.spill
    into.analysisMs += a.analysisMs
    into.optimizationMs += a.optimizationMs
    into.planningMs += a.planningMs; into.aqeReplans += a.aqeReplans
    into.broadcastBytes += a.broadcastBytes; into.filesRead += a.filesRead
    into.rowsScanned += a.rowsScanned; into.executions += a.executions
  }

  /** Every span as one JSON document (name, start, end, parent, op and
    * the span's own counters). */
  def writeJson(path: String): Unit = {
    val sb = new StringBuilder("{\"spans\":[\n")
    allSpans.zipWithIndex.foreach { case (s, i) =>
      val a = this.synchronized(aggs.getOrElse(s.id, new Agg))
      if (i > 0) sb.append(",\n")
      sb.append(Json.obj(Seq(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "op" -> Json.str(s.op),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "jobs" -> Json.num(a.jobs), "stages" -> Json.num(a.stages),
        "tasks" -> Json.num(a.tasks),
        "task_run_ms" -> Json.num(a.taskRunMs.toDouble),
        "shuffle_read_bytes" -> Json.num(a.shuffleRead.toDouble),
        "shuffle_write_bytes" -> Json.num(a.shuffleWrite.toDouble),
        "analysis_ms" -> Json.num(a.analysisMs.toDouble),
        "optimization_ms" -> Json.num(a.optimizationMs.toDouble),
        "planning_ms" -> Json.num(a.planningMs.toDouble),
        "aqe_replans" -> Json.num(a.aqeReplans))))
    }
    sb.append("\n]}\n")
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  val SpanProp = "graft.perfbench.span"
  private val DrainProp = "graft.perfbench.drain"
  private val ExecIdProp = "spark.sql.execution.id"

  /** (broadcast bytes, files read, rows scanned) from an executed plan's
    * SQL metrics, descending into adaptive query stages. */
  def planMetrics(plan: SparkPlan): (Long, Long, Long) = {
    def metric(p: SparkPlan, k: String): Long =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    val bcast = collect(plan) { case b: BroadcastExchangeExec =>
      metric(b, "dataSize") }.sum
    val scans = collect(plan) { case f: FileSourceScanExec =>
      (metric(f, "numFiles"), metric(f, "numOutputRows")) }
    (bcast, scans.map(_._1).sum, scans.map(_._2).sum)
  }
}
