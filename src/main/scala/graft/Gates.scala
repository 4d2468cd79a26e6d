package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Every measured gate of the engine: the row or edge counts below which an
  * operator takes its small-input form (a broadcast hint, the in-process
  * tier of the extract-then-analyze path, README.md:28) and above which it
  * takes its scale form (a shuffle join, the distributed tier). The count is
  * measured at run time, one job over the frame the operator goes on to use
  * ([[graft.graph.Materialize.counted]]); the thresholds below are what this
  * library has measured, with the measurement next to each.
  *
  * One session key, [[ForceKey]] (`spark.graft.gates.force`, default false),
  * makes every threshold read 0, so every gate takes its scale branch on any
  * non-empty input: the switch tests and invariance runs use to reach the
  * shuffle joins and distributed tiers at fixture scale. As a `spark.` key it
  * can also come from a `-D` system property through SparkConf. Unset, the
  * thresholds are the constants here and the plans are the small-input ones.
  */
object Gates {
  val ForceKey = "spark.graft.gates.force"

  /** Broadcast hint on a measured frontier, visited, membership, label or
    * vocabulary set (Traversals, ErScore, TokenSetJoin). The sets are one or
    * two long columns, so 4M rows are ~32 MB per executor copy. The measured
    * sets are checkpointed, so AQE has no statistics to find the conversion
    * itself; past the gate the joins stay shuffle joins instead of
    * overflowing the driver. */
  val broadcastRows = 4000000L

  /** Broadcast hint on the distributed Brandes tier's per-level
    * (source, node, sigma) state: 2M three-column rows are ~50 MB per
    * executor copy. */
  val betweennessBroadcastRows = 2000000L

  /** cc's driver union-find tier, in raw edge rows (an upper bound on
    * distinct edges, so the gate errs toward the distributed tier). Edges
    * stream through toLocalIterator one partition at a time and the resident
    * state is the parent map alone, ~40-60 bytes per node with LongMap
    * headers: ~150 MB at 4M edges even if every edge brings a new node.
    * ccDecrement's rebuild floors read the same value, on labels and on
    * surviving edges: under both the from-scratch rebuild is this one-pass
    * tier (0.6 s against 4.1 s for the incremental dataflow on a 96k-label
    * graph, SCALE.md round 14). */
  val ccLocalEdges = 4000000L

  /** The in-process Tarjan (scc) and Brandes (betweennessSampled) tiers, in
    * distinct edges. They collect the edge list; with JVM object headers the
    * tuples plus adjacency and index maps cost ~200-300 bytes per edge, so 1M
    * edges stay around a few hundred MB, safe on a default 1-2 GB driver. */
  val localEdges = 1000000L

  /** cc's GraphX Pregel tier, in raw edge rows; above it the Kiveris star
    * tier runs. Measured single-JVM ceiling, round 10: g07's contracted graph
    * holds at ~84M edges with a 32g heap (sf6.4) and fails at ~167M (sf12.8:
    * heap OOM at 32g, heartbeat-starved GC death at 64g, with
    * MEMORY_AND_DISK caching; Pregel's task-local per-partition arrays are
    * the killers and no storage level spills them). 100M sits between the
    * hold and fail points. The star tier completes the sf12.8 graph in
    * ~640 s. On a cluster the ceiling grows with executor count. */
  val graphxEdges = 100000000L

  /** Broadcast hint on ccIncrement's merge map and ccDecrement's touched
    * label set: ~16 B per (long, long) row plus hash-relation overhead keeps
    * 10M rows around 300 MB, under executor broadcast budgets. */
  val mergeBroadcastRows = 10000000L

  /** userTransitions' unpartitioned window tier, in feed rows: the window
    * moves the whole feed through one task, fine while it fits one sort
    * buffer; above it the range-partitioned OrderedLag tier runs. */
  val windowRows = 10000000L

  /** The tier decision: whether measured `rows` fit the small tier bounded
    * by `max` (0 when the session sets [[ForceKey]]). */
  def fits(spark: SparkSession, rows: Long, max: Long): Boolean =
    rows <= (if (spark.conf.get(ForceKey, "false").toBoolean) 0L else max)

  /** The broadcast decision: `df` with a broadcast hint when its measured
    * `rows` fit under `max`, else `df` as it is. */
  def broadcastIf(df: DataFrame, rows: Long, max: Long = broadcastRows): DataFrame =
    if (fits(df.sparkSession, rows, max)) broadcast(df) else df
}
