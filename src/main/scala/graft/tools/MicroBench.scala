package graft.tools

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.{GraftSession, HostProbes, SparkEntry}
import graft.GraftSession.Compiles
import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The query profiler: times graded queries by registry name and prints
  * one JSON record per query. Build tool; not a graded surface.
  *
  * Usage: runMain graft.tools.MicroBench <reps> <query ...|all>
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  *
  * `all` is every [[SparkEntry.queries]] name, sorted. Names resolve before
  * the session starts: an unknown one exits 2 with the usage line. With
  * reps > 1 each query runs one warm-up pass and then `reps` timed passes,
  * and `wall_s` is their median (the A/B number for plan-choice decisions).
  * With reps == 1 it runs one cold pass per query: the whole-registry
  * inventory sweep, where a warm-up would double a ~17 min sf0.1 run.
  * Every pass writes to the noop sink, so the full plan executes.
  *
  * Each stdout line is one record with one fixed key set: `query`, `ok`,
  * `error`, `wall_s`, `walls`; the Spark counters `jobs`, `stages`,
  * `tasks`, `task_run_ms`, `task_gc_ms`, `shuffle_read_mb`,
  * `shuffle_write_mb`, `shuffle_records_written`, `spill_mb`; the plan
  * counters `exchanges` (shuffles), `reused_exchanges`,
  * `broadcast_exchanges`, `scans` (file scans), `codegen_stages`; the
  * Janino counters `codegen_compiles` and `codegen_ms` (generated classes
  * compiled, and the time spent compiling them); and `top_stages` (the
  * pass's five longest stages). The Spark and Janino counters cover the
  * last timed pass, read with the listener bus drained before and after
  * it; the plan counters sum over EVERY plan that pass executed, so
  * the per-level Materialize jobs of the iterative loops count (a loop's
  * final plan reads a checkpoint and shows none of them). After each
  * record the query's AQE-final formatted plan goes to stderr under
  * `== <query> ==`. The last stdout line is the summary (`total_s`
  * includes the host drains; `codegen_compiles` counts every class the
  * sweep compiled, `metaspace_mb` is read after a full GC at its end);
  * the exit code is 1 if any query failed. Under sbt, stdout lines carry
  * sbt's `[info] ` prefix.
  *
  * At rehearsal sfs (sf0.4+) each heavy query leaves a multi-GB dirty
  * writeback backlog that time-shares the single disk with the NEXT
  * query's reps — the self-generated storm that made round-9's sf6.4
  * sweep numbers non-comparable across queries. Before every query,
  * MicroBench drains with the full HostProbes.awaitQuiet gate (PSI-io
  * < 5%, dirty < 2 GB, external cpu < 2 cores; budget 3 min); between
  * reps it runs the cheap io/dirty point check and drains only when
  * that reads stormy (a rep's own writeback backlog) — so every timed
  * rep starts against a settled device and `min` approximates the
  * uncontended cost.
  */
object MicroBench {

  private val Usage = "usage: runMain graft.tools.MicroBench <reps> <query ...|all>"

  /** One query's profile: its stdout record and its final plan (empty when
    * no plan executed). */
  final case class Profile(ok: Boolean, record: JObject, plan: String) {
    def json: String = compact(render(record))
  }

  private final case class Stage(id: Int, wallMs: Long, runMs: Long, gcMs: Long, tasks: Int,
                                 name: String, readBytes: Long, writeBytes: Long,
                                 recordsWritten: Long, spillBytes: Long)

  /** Query names from the command line: `all` expands to the sorted
    * registry; Left(message) names the unknown ones. */
  def resolve(args: Seq[String], known: Set[String]): Either[String, Seq[String]] =
    if (args == Seq("all")) Right(known.toSeq.sorted)
    else args.filterNot(known) match {
      case Seq() if args.nonEmpty => Right(args)
      case Seq() => Left(Usage)
      case unknown => Left(s"$Usage\nunknown query: ${unknown.mkString(", ")}")
    }

  /** Profiles one query: a warm-up pass when reps > 1, then `reps` timed
    * passes, `beforePass` running ahead of each timed one. A throw ends the
    * query with `ok = false`; its counters then cover the failed pass. */
  def profile(spark: SparkSession, name: String, reps: Int,
              build: SparkSession => DataFrame,
              beforePass: () => Unit): Profile = {
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stageListener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.add(Stage(si.stageId,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.executorRunTime, m.jvmGCTime, si.numTasks, si.name,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe)
    }
    def drain(): Unit =
      if (!GraftSparkInternals.drainListenerBus(sc, 10000L))
        System.err.println(s"[microbench] $name: listener bus did not drain; counters may be short")
    var compiled = Compiles(0L, 0.0)
    def pass(): Double = {
      drain(); stages.clear(); plans.clear(); jobs.set(0)
      val c0 = GraftSession.compiles()
      val t0 = System.nanoTime()
      try build(spark).write.mode("overwrite").format("noop").save()
      finally { drain(); compiled = GraftSession.compiles() - c0 }
      (System.nanoTime() - t0) / 1e9
    }
    sc.addSparkListener(stageListener)
    spark.listenerManager.register(planListener)
    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    val error = try {
      if (reps > 1) pass()
      (1 to reps).foreach { _ => beforePass(); walls += pass() }
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    finally {
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(stageListener)
    }
    val st = stages.toArray(Array.empty[Stage]).toSeq
    val qes = plans.toArray(Array.empty[QueryExecution]).toSeq
    val executed = qes.map(_.executedPlan)
    def count(pf: PartialFunction[SparkPlan, Int]): JValue = JInt(Plans.count(executed)(pf))
    def mb(bytes: Long): JValue = JDouble(math.round(bytes / 1e4) / 1e2)
    def secs(s: Double): JValue = JDouble(math.round(s * 1e3) / 1e3)
    val median = if (error.isEmpty) secs(walls.sorted.apply(reps / 2)) else JNull
    val record = JObject(List(
      "query" -> JString(name),
      "ok" -> JBool(error.isEmpty),
      "error" -> error.fold[JValue](JNull)(JString(_)),
      "wall_s" -> median,
      "walls" -> JArray(walls.toList.map(secs)),
      "jobs" -> JInt(jobs.get),
      "stages" -> JInt(st.size),
      "tasks" -> JInt(st.map(_.tasks.toLong).sum),
      "task_run_ms" -> JInt(st.map(_.runMs).sum),
      "task_gc_ms" -> JInt(st.map(_.gcMs).sum),
      "shuffle_read_mb" -> mb(st.map(_.readBytes).sum),
      "shuffle_write_mb" -> mb(st.map(_.writeBytes).sum),
      "shuffle_records_written" -> JInt(st.map(_.recordsWritten).sum),
      "spill_mb" -> mb(st.map(_.spillBytes).sum),
      "exchanges" -> count { case _: ShuffleExchangeLike => 1 },
      "reused_exchanges" -> count { case _: ReusedExchangeExec => 1 },
      "broadcast_exchanges" -> count { case _: BroadcastExchangeLike => 1 },
      "scans" -> count { case _: FileSourceScanExec => 1 },
      "codegen_stages" -> count { case _: WholeStageCodegenExec => 1 },
      "codegen_compiles" -> JInt(compiled.n),
      "codegen_ms" -> JDouble(math.round(compiled.ms * 10) / 10.0),
      "top_stages" -> JArray(st.sortBy(s => (-s.wallMs, s.id)).take(5).toList.map(s =>
        JObject(List("id" -> JInt(s.id), "wall_ms" -> JInt(s.wallMs), "run_ms" -> JInt(s.runMs),
          "tasks" -> JInt(s.tasks), "name" -> JString(s.name)))))))
    Profile(error.isEmpty, record, qes.lastOption.fold("")(_.explainString(FormattedMode)))
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    /** Nodes matched by `pf` over executed plans, AQE query stages and
      * subqueries included. */
    def count(plans: Seq[SparkPlan])(pf: PartialFunction[SparkPlan, Int]): Int =
      plans.map(collectWithSubqueries(_)(pf).sum).sum
  }

  /** The command: 0 when every query ran, 1 when any failed, 2 on a usage
    * error (nothing runs). */
  def run(args: Seq[String]): Int = {
    val reps = args.headOption.flatMap(_.toIntOption).filter(_ >= 1)
    val names = resolve(args.drop(1), SparkEntry.queries.keySet)
    (reps, names) match {
      case (None, _) => System.err.println(Usage); 2
      case (_, Left(msg)) => System.err.println(msg); 2
      case (Some(n), Right(qs)) => sweep(n, qs)
    }
  }

  private def sweep(reps: Int, names: Seq[String]): Int = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    var drainNs = 0L
    def drain(): Unit = {
      val t0 = System.nanoTime()
      val ok = HostProbes.awaitQuiet(t0 + 180L * 1000000000L)
      drainNs += System.nanoTime() - t0
      if (!ok) System.err.println("[microbench] drain budget expired — next timing may carry writeback contention")
    }
    try {
      val t0 = System.nanoTime()
      // session and reader start-up, kept out of the first query's pass
      spark.read.parquet(s"$sfDir/region.parquet").count()
      val c0 = GraftSession.compiles()
      val failed = names.filterNot { n =>
        drain()
        val p = profile(spark, n, reps, SparkEntry.queries(n)(_, sfDir),
          () => if (!HostProbes.ioQuiet()) drain())
        println(p.json)
        System.err.println(s"== $n ==\n${p.plan}")
        p.ok
      }
      println(compact(render(JObject(List(
        "total_s" -> JDouble(math.round((System.nanoTime() - t0) / 1e6) / 1e3),
        "drain_s" -> JDouble(math.round(drainNs / 1e6) / 1e3),
        "queries" -> JInt(names.size),
        "codegen_compiles" -> JInt((GraftSession.compiles() - c0).n),
        "metaspace_mb" -> JDouble(math.round(metaspaceBytes() / 1e4) / 1e2),
        "failed" -> JArray(failed.toList.map(JString(_))))))))
      if (failed.isEmpty) 0 else 1
    } finally spark.stop()
  }

  /** Metaspace in use after a full GC: what the loaded classes, the
    * cached generated ones among them, hold. */
  private def metaspaceBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum
  }

  def main(args: Array[String]): Unit = {
    val code = run(args.toSeq)
    if (code != 0) sys.exit(code)
  }
}
