package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One recorded interval. `layer` is the package the call went into
  * (graph, rel, text, stream, compose), `op` for the operation root,
  * `spark` for a job, `probe` for traced-only counter work. Times are
  * nanoTime-based; `op` is the operation id shared by every span of one
  * operation. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Task-level totals of one Spark job, filled from listener events. */
final class JobStats {
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var spillBytes = 0L
  var inputRecords = 0L
}

/** Totals of one executed query plan: planning time, exchanges, and the
  * parquet scans' own metrics. */
final case class PlanStats(execId: Long, planningMs: Long, exchanges: Int, reused: Int,
                           broadcasts: Int, filesRead: Long, bytesRead: Long,
                           rowsRead: Long, scanMs: Long)

object PlanStats extends AdaptiveSparkPlanHelper {
  def of(execId: Long, qe: QueryExecution): PlanStats = {
    val plan: SparkPlan = qe.executedPlan
    def count(pf: PartialFunction[SparkPlan, Int]): Int = collectWithSubqueries(plan)(pf).sum
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s.metrics }
    def scan(k: String): Long = scans.map(_.get(k).map(_.value).getOrElse(0L)).sum
    PlanStats(execId, qe.tracker.phases.values.map(_.durationMs).sum,
      count { case _: ShuffleExchangeLike => 1 },
      count { case _: ReusedExchangeExec => 1 },
      count { case _: BroadcastExchangeLike => 1 },
      scan("numFiles"), scan("filesSize"), scan("numOutputRows"), scan("scanTime"))
  }
}

/** In-memory span and counter recorder for the traced run.
  *
  * The client thread opens spans around each operation and each layer call
  * ([[op]], [[call]]); before a layer call it stores the span id in the
  * SparkContext local property [[SpanProp]], and the SparkListener reads it
  * back from `SparkListenerJobStart.properties`, so every job becomes a
  * child span of the call that submitted it. Plans are attributed through
  * the SQL execution id the same job carries: at each
  * `SparkListenerSQLExecutionEnd` the listener reads that execution's final
  * plan. When disabled every method is a pass-through and no listener is
  * registered.
  */
final class Tracer(val enabled: Boolean) {
  val SpanProp = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Long] = Nil
  private var opId = 0L
  private var spark: SparkSession = _
  private val counters = mutable.LinkedHashMap[String, Double]()

  // nanoTime <-> epoch-ms bridge for listener timestamps
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private def toNs(epochMs: Long): Long = nano0 + (epochMs - epoch0) * 1000000L

  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobExec = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanStats]()

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val parent = p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .foreach(x => jobExec.put(e.jobId, x.toLong))
      jobSpan.put(e.jobId, parent)
      jobStart.put(e.jobId, e.time)
      jobs.put(e.jobId, new JobStats)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val parent: Long = Option(jobSpan.get(e.jobId)).map(_.longValue).getOrElse(0L)
      val start: Long = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      val op = Option(spanOp.get(parent)).map(_.longValue).getOrElse(0L)
      jobSpans.add(Span(ids.incrementAndGet(), parent, op, "spark", s"job${e.jobId}", toNs(start), toNs(e.time)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        // the event's QueryExecution is not public API; read it reflectively
        val qe = try end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
                 catch { case _: Exception => null }
        if (qe != null) plans.add(PlanStats.of(end.executionId, qe))
      case _ => ()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(js => js.synchronized(js.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val js = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).orNull
      if (js == null) return
      val m = e.taskMetrics
      js.synchronized {
        js.tasks += 1
        Option(stageSubmit.get(e.stageId)).foreach(s =>
          js.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s.longValue))
        if (m != null) {
          js.runMs += m.executorRunTime
          js.gcMs += m.jvmGCTime
          js.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          js.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          js.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
          js.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          js.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
  }

  // op id of every span, readable from the listener thread
  private val spanOp = new ConcurrentHashMap[Long, java.lang.Long]()

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(Listener)
  }

  /** Waits until the listener bus has delivered every queued event. */
  def drain(): Unit = if (enabled) {
    org.apache.spark.GraftSparkInternals.drainListenerBus(spark.sparkContext, 30000L)
  }

  def detach(): Unit = if (enabled && spark != null) {
    drain()
    spark.sparkContext.removeSparkListener(Listener)
  }

  private def open[T](layer: String, name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse(0L)
    val id = ids.incrementAndGet()
    spanOp.put(id, opId)
    stack = id :: stack
    spark.sparkContext.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spark.sparkContext.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      spans.synchronized(spans += Span(id, parent, opId, layer, name, t0, t1))
    }
  }

  /** Root span of one operation. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body else { opId += 1; open("op", name)(body) }

  /** Counter-only work of the traced run, outside every operation
    * (operation id -1, so it is kept out of the run's totals). */
  def aside[T](name: String)(body: => T): T =
    if (!enabled) body else {
      val saved = opId
      opId = -1
      try open("probe", name)(body) finally opId = saved
    }

  /** Span around one call into `layer`. */
  def call[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body else open(layer, name)(body)

  def add(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  def allSpans: Seq[Span] =
    spans.synchronized(spans.toList) ++ jobSpans.asScala

  def jobStats: Map[Int, JobStats] = jobs.asScala.toMap
  def jobParent: Map[Int, Long] = jobSpan.asScala.map { case (k, v) => k -> v.longValue }.toMap
  def jobExecution: Map[Int, Long] = jobExec.asScala.map { case (k, v) => k -> v.longValue }.toMap
  def planStats: Seq[PlanStats] = plans.asScala.toList
}

object Trace {
  /** Self time per span: its duration minus the union of its children's
    * intervals clipped to it. */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> ((s.endNs - s.startNs - covered) / 1e6)
    }.toMap
  }

  /** Spans as a JSON document (one object per span). */
  def toJson(all: Seq[Span], self: Map[Long, Double]): String = {
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    all.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}","name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"dur_ms":${s.durMs}%.3f,""" +
        f""""self_ms":${self.getOrElse(s.id, 0.0)}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
