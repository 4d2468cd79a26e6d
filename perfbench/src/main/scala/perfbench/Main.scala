package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A benchmark workload: a set-up that runs inside a fresh session, a
  * seeded operation sequence, and a checker for each operation's answer.
  * Operations run one at a time (closed loop, one client). */
trait Workload {
  type O
  /** Starts from a fresh session: loads or caches fixtures, builds indexes. */
  def setup(spark: SparkSession): Unit
  /** First calls of each operation kind, once, after the set-up. */
  def warmUp(): Unit = ()
  /** Operations in one run of `seconds` nominal length. */
  def nOps(seconds: Int): Int
  def plan(seed: Long, n: Int): IndexedSeq[O]
  /** Latency class of an operation: "probe", "write" or "request". */
  def kind(o: O): String
  def name(o: O): String
  /** Runs one operation; returns what [[check]] needs. */
  def run(o: O, t: Tracer): Any
  /** None when the answer is right, else the reason it is wrong. */
  def check(o: O, answer: Any): Option[String]
  /** Untimed bookkeeping just before and just after an operation. */
  def prepare(o: O): Unit = ()
  def settle(o: O, t: Tracer): Unit = ()
  /** Checks of the state the whole run left behind; one entry per fault. */
  def finalCheck(): Seq[String] = Nil
  /** Traced run only: counters that need extra work, after the run. */
  def traceCounters(t: Tracer): Unit = ()
  /** Workload-specific end-to-end figures: (name, value, unit, note). */
  def extraMetrics(lat: Seq[(O, Double)]): Seq[(String, Double, String, String)] = Nil
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, dataKey: String, work: String, expected: String,
                      record: Option[String]) {
  /** The session runs at local[nproc]. */
  val cpus: Int = Runtime.getRuntime.availableProcessors
}

object Main {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", need("data"), m.getOrElse("data-key", ""),
      need("work"), m.getOrElse("expected", ""), m.get("record"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample. Below 20 samples that would not reach the
    * median, so the maximum is reported instead. Returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size >= 20) (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
    else (s.lastOption.getOrElse(Double.NaN), 100.0)
  }

  def workload(a: Args): Workload = a.workload match {
    case "batch_sweep" => new BatchSweep(a)
    case "dossier_requests" => new DossierRequests(a)
    case "index_churn" => new IndexChurn(a)
    case w => sys.error(s"unknown workload $w")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val wl = workload(a)
    a.record.foreach { out => wl match {
      case b: BatchSweep => b.record(out); return
      case _ => sys.error("--record applies to batch_sweep only")
    }}

    // set-up: session start, fixture load or cache, index build, warm-up
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(a.cpus.toString)
    wl.setup(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    wl.warmUp()
    val warmS = (System.nanoTime() - t0) / 1e9 - setupS

    val n = wl.nOps(a.seconds)
    val ops = wl.plan(a.seed, n)
    val tracer = new Tracer(a.trace)
    tracer.attach(spark)
    val heap = new HeapPeak
    val cpu = new CpuMeter
    spark.sparkContext.addSparkListener(cpu)
    val threads = ManagementFactory.getThreadMXBean
    var clientCpuNs = 0L
    var gcRun = 0L
    val jit0 = jitMs()
    val answers = new Array[Either[Throwable, Any]](ops.size)
    val lat = new Array[Double](ops.size)
    ops.indices.foreach { i =>
      wl.prepare(ops(i))
      val gc0 = gcMs()
      val c0 = threads.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      answers(i) =
        try Right(tracer.op(wl.name(ops(i)))(wl.run(ops(i), tracer)))
        catch { case e: Exception => Left(e) }
      lat(i) = (System.nanoTime() - t0) / 1e9
      clientCpuNs += threads.getCurrentThreadCpuTime - c0
      gcRun += gcMs() - gc0
      wl.settle(ops(i), tracer)
    }
    val jitRun = jitMs() - jit0
    org.apache.spark.GraftSparkInternals.drainListenerBus(spark.sparkContext, 30000L)
    spark.sparkContext.removeSparkListener(cpu)
    val cpuS = (clientCpuNs + cpu.taskCpuNs.get) / 1e9
    tracer.drain()

    // outside the timed window: check every answer
    val failures = ops.indices.flatMap { i =>
      (answers(i) match {
        case Left(e) => Some(s"error: $e")
        case Right(ans) =>
          try wl.check(ops(i), ans) catch { case e: Exception => Some(s"check error: $e") }
      }).map(r => s"${wl.name(ops(i))}#$i: $r")
    } ++ (try wl.finalCheck() catch { case e: Exception => Seq(s"final check error: $e") })
      .map(r => s"final state: $r")
    failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    if (a.trace) tracer.aside("counters")(wl.traceCounters(tracer))
    tracer.detach()
    val heapPeakMb = heap.finish()

    val runS = lat.sum
    val (tailS, tailPct) = tail(lat.toSeq)
    // gated in BENCHMARK.json; the rest of the report is informational
    val e2e = Seq(
      ("setup_s", setupS + warmS, "s", f"set-up $setupS%.2f + warm-up $warmS%.2f"),
      ("run_s", runS, "s", s"${ops.size} operations"),
      ("op_geomean_s", math.exp(lat.map(math.log).sum / lat.length), "s", s"n=${ops.size}"),
      ("cpu_s", cpuS, "s", f"client thread ${clientCpuNs / 1e9}%.2f + Spark tasks ${cpu.taskCpuNs.get / 1e9}%.2f"))
    val extra = Seq(
      ("op_p50_s", median(lat.toSeq), "s", s"n=${ops.size}"),
      ("op_tail_s", tailS, "s", f"p$tailPct%.1f, n=${ops.size}"),
      ("heap_peak_mb", heapPeakMb, "MB", "peak heap after a collection"),
      ("fail_frac", failures.size.toDouble / ops.size, "ratio", s"${failures.size}/${ops.size}")) ++
      wl.extraMetrics(ops.zip(lat.toSeq))

    println(s"# workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} cores=${a.cpus}")
    (e2e ++ extra).foreach { case (k, v, u, note) => println(f"# $k%-16s $v%14.6f $u%-6s $note") }
    println("# ops: " + ops.indices.map(i => f"${wl.name(ops(i))}=${lat(i)}%.3f").mkString(" "))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e.map { case (k, v, u, _) => (k, v, u) }
      else {
        val layers = PerLayer.compute(tracer, runS * 1000.0, a.cpus, ops.size, gcRun, jitRun,
          ops.map(wl.name).zip(lat.toSeq))
        val spans = tracer.allSpans
        val path = new File(a.work, s"spans-${a.workload}-${a.seed}.json")
        val w = new PrintWriter(path)
        try w.write(Trace.toJson(spans, Trace.selfMs(spans))) finally w.close()
        println(s"# spans: ${spans.size} written to $path")
        PerLayer.printSummary(layers)
        layers.filter(m => PerLayer.inResult(m._1))
      }
    spark.stop()
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": ${ops.size}, "failed": ${failures.size}, "metrics": {$body}}""")
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
}

/** CPU time of the Spark tasks that ran during the timed operations. */
final class CpuMeter extends org.apache.spark.scheduler.SparkListener {
  val taskCpuNs = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m => taskCpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime))
}

/** Peak driver heap after a collection, over the timed run: the heap
  * pools' usage right after each collection, as the collectors report it
  * in their notifications. It reads what the run's own collections leave
  * and forces none. */
final class HeapPeak {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max(_, _))
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null); e
  }

  /** Stops listening; the peak in MB, at least the heap pools' usage
    * after their last collection (their collection usage). */
  def finish(): Double = {
    emitters.foreach(_.removeNotificationListener(listener))
    val lastCollected = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => heapPools(p.getName)).flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    math.max(peak.get, lastCollected) / (1024.0 * 1024.0)
  }
}
