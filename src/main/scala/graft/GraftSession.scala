package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Single session factory for every entry point (Verify, Bench, tools,
  * tests) — the config set here IS the engine's required runtime contract
  * (UTC for oracle parity, nanosAsLong for the events table), so it must
  * not drift between surfaces. [[builder]] is the contract; the test
  * session adds its warehouse directory and partition count to it.
  */
object GraftSession {

  /** Size of the JVM-global cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100). A class
    * evicted from the cache is compiled again by Janino the next time a
    * plan needs it, and at benchmark scale compiling is a fixed cost of
    * every operation: with the default, index_churn's timed run (seed 3,
    * 4 cores) compiled 445 classes in 2.4 s of an 8.1 s run, because its
    * operation kinds evicted each other's classes. An entry is a class per
    * class loader that asked for it, and in local mode the driver and the
    * task threads carry different loaders, so most classes take two.
    * Measured working sets with an unbounded cache: index_churn 258
    * entries over set-up and run; `MicroBench 1 all` at sf0.01, every
    * graded query in one session, 3,515. 4,096 holds the whole registry
    * with ~16% headroom. Holding it costs ~30 MB of Metaspace (245 MB at
    * the end of that sweep against 215 MB with the default, ~9 KB an
    * entry). The cache is JVM-global and built when `CodeGenerator` is
    * first used, from the conf of the session active on that thread
    * (Spark's default when there is none), which is why [[start]] builds
    * it. */
  val CodegenCacheEntries = 4096

  /** The session contract as a builder: `local[cpus]`, shuffle partitions
    * = cpus unless overridden, UTC, nanosAsLong, and the codegen settings
    * that let a generated class compile once per session. */
  def builder(cpus: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      // Shuffle partitions default to the core count (the driver/judge
      // surface at the graded sfs), overridable for rehearsals past the
      // fixture scale: partition count is the memory-per-task lever
      // (rows/partition × concurrent tasks must fit the unified pool —
      // the builder-prompt sizing rule), and a production cluster sizes
      // it to data volume, not cores. Measured: s09's ~180M-row edge
      // reduction at sf6.4 OOMs 32 tasks × 5.6M-group hash maps at 32
      // partitions/32g and completes at 128 partitions, same plan.
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      // Stage ids in generated class names make an identical pipeline at a
      // different stage id a different class, compiled again. With them
      // off and the cache size above, index_churn's timed run compiled 72
      // classes in 0.5 s instead of 445 in 2.4 s, and every repeated
      // operation kind compiled nothing on its repeat. Only class names
      // change; plans and the generated logic are the same.
      .config("spark.sql.codegen.useIdInClassName", "false")
    // Optional shuffle/spill/broadcast codec override (lz4 default) for
    // rehearsal A/Bs at the single-disk I/O wall: a denser codec trades
    // CPU for disk bandwidth, which is the binding resource past ~500M
    // shuffle rows on one local disk (SCALE.md round 9 measures zstd vs
    // lz4 here; production clusters set the same key per workload).
    sys.env.get("SPARK_GRAFT_IO_CODEC").foreach(c =>
      b.config("spark.io.compression.codec", c))
    b
  }

  def local(cpus: String): SparkSession = start(builder(cpus))

  /** The session of `b`, with the log level and checkpoint mode every
    * entry point runs with. */
  def start(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    // build the JVM-global class cache now, sized by this session's conf;
    // a no-op when an earlier use in this JVM has built it already
    SparkSession.setActiveSession(s)
    CodeGenerator.compileTime
    // ERROR: WARN-level noise (e.g. WindowExec on the small-feed window
    // tier, which userTransitions only selects under its size threshold)
    // would otherwise drown the bench JSON line
    s.sparkContext.setLogLevel("ERROR")
    // Optional reliable-checkpoint mode: when set, Materialize upgrades
    // every iterative-loop lineage cut from localCheckpoint (executor
    // blocks, lost with the executor) to fault-tolerant dir-based
    // checkpoints — the mode a 1000-executor deployment runs with its
    // checkpoint dir on HDFS/S3. Local rehearsals point it at a tmp dir
    // to measure the storage-tier cost (SCALE.md round 8).
    sys.env.get("SPARK_GRAFT_CKPT_DIR").foreach(s.sparkContext.setCheckpointDir)
    s
  }

  /** Generated classes Janino has compiled in this JVM, and the time spent
    * compiling them. Take the difference of two readings around a pass. */
  final case class Compiles(n: Long, ms: Double) {
    def -(o: Compiles): Compiles = Compiles(n - o.n, ms - o.ms)
  }

  def compiles(): Compiles =
    Compiles(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)
}
