package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.tools.MicroBench
import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.json4s._

/** [[MicroBench]]'s per-query profile, run without the host drain: the
  * record carries the fixed key set, its Spark counters are live, its plan
  * counters see every plan a pass executes, a failing query leaves a
  * record and the sweep goes on, and bad names stop the command first. */
class MicroBenchSpec extends SparkSpec {

  private val keys = Seq("query", "ok", "error", "wall_s", "walls",
    "jobs", "stages", "tasks", "task_run_ms", "task_gc_ms",
    "shuffle_read_mb", "shuffle_write_mb", "shuffle_records_written", "spill_mb",
    "exchanges", "reused_exchanges", "broadcast_exchanges", "scans", "codegen_stages",
    "codegen_compiles", "codegen_ms", "top_stages")

  private def profile(name: String) =
    MicroBench.profile(spark, name, 1, SparkEntry.queries(name)(_, sfDir), () => ())

  private def long(p: MicroBench.Profile, key: String): BigInt = p.record \ key match {
    case JInt(v) => v
    case other => fail(s"$key is not an integer: $other")
  }

  test("g02_khop's record counts the per-level broadcast plans behind its checkpointed final plan") {
    val p = profile("g02_khop")
    assert(p.ok, p.json)
    // the final plan scans a checkpoint; only the per-level joins broadcast
    assert(long(p, "broadcast_exchanges") >= 1, p.json)
    assert(p.plan.nonEmpty)
  }

  test("a record carries exactly the fixed key set and live Spark counters") {
    val p = profile("r09_agg")
    assert(p.ok, p.json)
    assert(p.record.obj.map(_._1) === keys)
    Seq("jobs", "stages", "tasks").foreach(k => assert(long(p, k) > 0, s"$k in ${p.json}"))
    val JArray(walls) = p.record \ "walls"
    assert(walls.size == 1)
    assert((p.record \ "wall_s") == walls.head)
    val JArray(top) = p.record \ "top_stages"
    assert(top.nonEmpty && top.size <= 5)
  }

  test("a throwing query yields ok = false with its message, and the next query is still profiled") {
    val bad = MicroBench.profile(spark, "boom", 1,
      _ => throw new IllegalStateException("no such table"), () => ())
    assert(!bad.ok)
    assert(bad.record \ "ok" == JBool(false))
    assert(bad.record \ "error" == JString("IllegalStateException: no such table"))
    assert(bad.record.obj.map(_._1) === keys)
    val next = profile("r09_agg")
    assert(next.ok, next.json)
    assert(long(next, "jobs") > 0)
  }

  test("an unknown query name is rejected before any query runs") {
    assert(MicroBench.resolve(Seq("all"), Set("b", "a")) == Right(Seq("a", "b")))
    assert(MicroBench.resolve(Seq("a", "zz"), Set("a")).isLeft)
    assert(MicroBench.resolve(Nil, Set("a")).isLeft)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSparkInternals.drainListenerBus(sc, 10000L)
    sc.addSparkListener(listener)
    val out = new java.io.ByteArrayOutputStream
    try {
      val code = Console.withOut(out)(MicroBench.run(Seq("1", "g02_khop", "no_such_query")))
      assert(code == 2)
      assert(MicroBench.run(Seq("zero", "g02_khop")) == 2)
      assert(GraftSparkInternals.drainListenerBus(sc, 10000L), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, "a query ran before the names were checked")
    assert(out.size == 0, out.toString)
  }
}
