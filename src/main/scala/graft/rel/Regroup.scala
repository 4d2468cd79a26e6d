package graft.rel

import org.apache.spark.sql.{Column, DataFrame}

/** Aggregation-placement helper distilled from the round-8 g03 root-cause
  * (SCALE.md round 8; VERDICT r8 #8).
  *
  * Spark's default plan for `join.groupBy(k).agg(...)` runs a map-side
  * partial aggregate over the join's raw output, then exchanges on the
  * group keys. That partial pass only helps when rows sharing a group key
  * actually MEET in the same partition. When the group keys differ from
  * the join key, each (group-key) pair's contributions arrive via
  * different probe rows scattered across partitions — the partial agg
  * collapses (almost) nothing and degrades into building giant, spilling
  * hash maps over the full fan-out. [[aggregateByNewKeys]] exchanges the
  * join output on the GROUP keys FIRST, so the same rows cross the wire
  * either way but the partial pass then collapses fully.
  *
  * Decision rule — measured, not guessed (three probes, SCALE.md round 8;
  * apply the helper only when ALL THREE hold):
  *   1. FAN-OUT: the join multiplies rows substantially (g03's
  *      part→supplier step: 130M rows from a 15M-row frontier at sf0.8).
  *   2. KEY MISMATCH: group keys ≠ join key, so the default partial agg
  *      cannot collapse (each group's rows land in different partitions).
  *   3. SPILL: the default plan's partial-agg hash map actually spills
  *      (check the agg node's spill metrics) — below memory, the wasted
  *      partial pass is cheap and the extra exchange is pure overhead.
  * Negative results are part of the rule: l03's inverted-index agg
  * (fan-out but no spilling map → no benefit) and g11's pair agg (same)
  * both measured the exchange as a wash or regression, and stayed on the
  * default plan. The win this helper encodes: the isolated g03 step
  * 54.7 → 10.0 s, whole query halved at sf0.8. The one-off probes that
  * took these measurements are in git history (readable at commit
  * 1ff956e); re-check a case with `graft.tools.MicroBench`, whose
  * records carry the spill and shuffle volumes the rule reads.
  */
object Regroup {

  /** `df.repartition(partitionKeys).groupBy(groupKeys).agg(aggs)` — the
    * exchange-before-aggregate shape. The explicit repartition carries a
    * hash partitioning that satisfies the final agg (partitionKeys must be
    * a SUBSET of groupKeys: rows sharing all group keys then share the
    * partition), so Catalyst inserts no second exchange: plan cost is the
    * one unavoidable shuffle of the fan-out rows, minus the degenerate
    * partial-agg pass.
    *
    * `partitionKeys` (default: the group keys) is the §2.4 exchange-reuse
    * lever: when the CONSUMER of the aggregate joins or groups on a subset
    * of the group keys, partitioning on exactly that subset makes the agg
    * output's partitioning satisfy the consumer too — one exchange serves
    * both operators (iterative propagation keys each step's output on the
    * next step's join key this way). Callers pick a subset with enough
    * distinct values to spread; the aggregate's correctness never depends
    * on the choice.
    */
  def aggregateByNewKeys(df: DataFrame, groupKeys: Seq[Column],
                         aggs: Seq[Column],
                         partitionKeys: Seq[Column] = Nil): DataFrame = {
    require(groupKeys.nonEmpty && aggs.nonEmpty,
      "aggregateByNewKeys needs at least one group key and one aggregate")
    val pk = if (partitionKeys.nonEmpty) partitionKeys else groupKeys
    df.repartition(pk: _*)
      .groupBy(groupKeys: _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
