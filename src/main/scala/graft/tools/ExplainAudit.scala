package graft.tools

import graft.SparkEntry

/** Dumps `explain("formatted")` for a representative query set to
  * PLANS.md — the plan-shape evidence behind the scale claims in SCALE.md
  * (pushdown reaches the scan, dims broadcast, codegen spans are wide).
  * Build tool; re-run after plan-affecting changes:
  *   sbt "runMain graft.tools.ExplainAudit"
  */
object ExplainAudit {
  val audited: Seq[(String, String)] = Seq(
    "r01_projection" -> "ReadSchema must list only the 3 projected columns",
    "r02_filter" -> "PushedFilters must carry every scan-eligible predicate",
    "r03_join_broadcast" -> "customer side must plan as BroadcastHashJoin",
    "r09_agg" -> "HashAggregate must appear partial (before) + final (after) the exchange",
    "r16_topk" -> "orderBy.limit must plan TakeOrderedAndProject, not a global sort",
    "g12_snapshot" -> "temporal validity predicate must push into the edge-side scans",
    "l05_cosine_topk_native" -> "cosine_sim must sit inside a WholeStageCodegen span",
    "r30_sample" -> "hash-sample predicate must evaluate at the scan (no shuffle)",
    "r07b_asof_join_custom" -> "AsOfJoinExec must appear with EnsureRequirements-inserted Exchange + Sort on both sides",
    "r34_range_frame" -> "RANGE interval frame must plan ONE Window over one hash exchange + sort (value-bounded frame, no extra pass)",
    "l25_span_dedup" -> "exactly ONE documents scan: span grouping with partial collect_set, inline pair expansion — a rare-span semi-join formulation re-scans the corpus per join arm",
    "t09_stream_stream_join" -> "one join on user_id carrying both range predicates as its condition (batch twin of the watermarked symmetric hash join)",
    "r36_skew_salted_join" -> "join keys must include the __salt column (hot key spread across 8 buckets); dim side exploded 8x before the join",
    "l33_dsir_importance" -> "ONE documents scan (bucket counts materialized, all views derive from them); the 64-row delta table must BroadcastHashJoin into the per-doc counts",
    "r39_gapfill" -> "every Window must partition by priority (no 'Window [...] ORDER BY' without PARTITION BY = no single-task global sort); spine derives from one 2-scalar aggregate",
    "r40_rolling_distinct" -> "distinct-count must plan as two-phase HashAggregate expansion over the exploded contribution days (partial before the exchange), never a per-day collected user set",
    "g28_random_walks" -> "one materialized adjacency feeds all three step joins (no re-derivation of the edge list per step)",
    "t08_running_state" -> "ONE Window, PARTITIONED by user_id, over one hash exchange + sort (the T6 running state as a prefix aggregate — never an unpartitioned window; the top-level Sort is the graded output ordering every query carries)",
    "l05_ann_lsh" -> "6-row hyperplane table and 6-row query-bucket set must both BROADCAST (BroadcastNestedLoopJoin for hp, BroadcastHashJoin on (t, ba, bb) for candidates) — the corpus is scanned once for bucketing and once for the rerank of the pruned candidate set, never all-pairs",
    "g34_temporal_reach" -> "valid_from IS NOT NULL must push into the edge scans; each of the 3 relaxation rounds must plan join + partial/final min-HashAggregate (earliest-arrival dominance: one row of state per node, no path enumeration)",
    // VERDICT r9 #6 — the four heaviest headliners, pinned. g02/g03 iterate
    // through Materialize (checkpoint truncation), so their interesting
    // per-level plans never reach the final plan below; PlanSpec captures
    // every EXECUTED plan of their runs via a QueryExecutionListener and
    // asserts the properties there (g02: a BroadcastHashJoin frontier level;
    // g03: REPARTITION_BY_COL exchange-before-agg). The final plans are
    // still printed here for the record.
    "g02_khop" -> "final plan is post-checkpoint by design; the ENFORCED pin is PlanSpec 'g02: the per-level frontier join broadcasts under the measured gate' (listener-captured per-level plans)",
    "g03_ubo_exposure" -> "final plan is post-checkpoint by design; the ENFORCED pin is PlanSpec 'g03: ubo step exchanges on the NEW group keys before the fan-out agg' (REPARTITION_BY_COL before the share agg)",
    "g11_conflict_shared_part" -> "the (custkey, partkey) DISTINCT HashAggregate must sit BELOW the partkey self-join (dedup-before-pair) — enforced in PlanSpec; no CartesianProduct anywhere",
    "l02_minhash_lsh" -> "candidates must come from the equi-join on the band columns (h, mh_r0..), never an all-pairs join; the exact jaccard rerank projects only above that join — enforced in PlanSpec",
    "g47_snapshot_series" -> "every per-year branch must push its validity bound into ITS scan: >= 7 LessThanOrEqual(l_shipdate,...) and >= 7 LessThanOrEqual(o_orderdate,...) in PushedFilters — enforced in PlanSpec",
    // round 11
    "g50_token_er_catalog" -> "candidates must come from the equi-join on the prefix token (SortMergeJoin/ShuffledHashJoin on tok) with the Arasu/PPJoin length band as a RESIDUAL predicate on that join — never a CartesianProduct; the exact array_intersect rerank projects only above the candidate dedup — enforced in PlanSpec",
    "g51_fuzzy_lev2_names" -> "candidates from the equi-join on depth-2 deletion keys over the NAME VOCABULARY (the part groupBy sits below the key explode, so the pair join runs on distinct names, not rows); levenshtein rerank above the dedup; no CartesianProduct",
    "g52_entity_dossier" -> "final plan is post-checkpoint by design (the backward cone iterates through Materialize); the visible shape is the 5-section union with the risk section's broadcast semi-joins (seed's parts) and broadcast attribute joins — per-section scans are intentionally separate (see the query's composition notes)",
    "g54_abbrev_linkage" -> "two-table prefix-filter join: candidates from the equi-join on the shared prefix token (df over the UNION of both collections) with the length band as a residual; mapTokens normalization must stay an expression (map-literal element_at, no extra join); array_intersect rerank above the candidate dedup — enforced in PlanSpec",
    "t13_watchlist_screen" -> "Screening.screen fragment must be shuffle-free on the record side (BroadcastExchange of the key index is the only exchange; no HashAggregate — the array_min-intersect dedup replaces distinct, keeping the fragment append-legal on a stream) — enforced in PlanSpec on the fragment; here the graded twin additionally broadcasts the matched-entity set into the order flow",
    "s09_timeslider_export" -> "final plan is post-checkpoint by design (the batched (seed, as_of) traversal iterates through Materialize); the ENFORCED pin is PlanSpec 's09: per-level slider frontier broadcasts with the validity residual on the join' — every slider position rides one traversal, validity never forces a per-position edge re-scan",
    "g56_ubo_asof" -> "final plan is post-checkpoint by design (the keyed propagation materializes at its last step); the ENFORCED pin is PlanSpec 'g56: slider dates add ZERO scans' — exactly 2 lineitem scans (one per dated layer, conditional per-date aggregates) across every executed plan of the run, for any number of slider dates",
    "g57_connection" -> "post-checkpoint final plan shows the meet: the single materialized cone table joined to ITSELF on the node id (two gated broadcast sides), the min-window + final aggregate above it, and the left join restoring beyond-bound pairs — no per-pair traversal, no radius-4 frontier anywhere",
    "g58_connection_path" -> "same meet shape as g57 plus 2x radius conditional backtrack joins against the ONE materialized parent-cone table — path strings appear only above the witness aggregate (|pairs| rows), never below it; no path-enumerating join anywhere in the plan",
    "g55_jw_screen_rank" -> "the 5-row probe set must BROADCAST (BroadcastNestedLoopJoin) against the one vocabulary scan — scan-once/score-in-codegen; the jaro_winkler projection must sit inside a WholeStageCodegen span (executed-plan check in PlanSpec)",
    // round 12
    "g59_strongest_connection" -> "post-checkpoint final plan shows the max-product meet: the ONE materialized per-cell-argmax cone table joined to itself on the node id, the (strength DESC, chain ASC) rank window above it, chain string surgery only above the rank (|pairs| rows) — never in the frontier; no per-pair DP anywhere",
    "g60_connection_asof" -> "the g57 meet shape with as_of in BOTH meet join key sets — one (seed, as_of)-batched traversal feeds the self-join, no per-position edge re-scan (the s09 argument; enforced for the shared primitive in PlanSpec)",
    "g61_er_screening_queue" -> "candidates must be the UNION of the prefix-token equi-join (block threshold) and the deletion-key equi-join — both lossless blockers, neither a CartesianProduct; the three scorers (array_intersect Jaccard, jaro_winkler, levenshtein) project above the candidate dedup with measured-gate broadcasts on the label rejoin",
    "t14_alert_dossier" -> "the record side must stay shuffle-free THROUGH the dossier enrichment: Screening.screen's broadcast key index + ONE BroadcastExchange of the watchlist-sized dossier aggregate — the only HashAggregate sits on the dossier build (wid keys), never on the stream side — enforced in PlanSpec",
    "g62_dossier_asof" -> "final plan is post-checkpoint by design (dated supplied layer + graph build + propagation all materialize); the ENFORCED pin is PlanSpec 'g62: slider dates and dossier sections hold lineitem at 4 scans' — 2 dated layers + 2 materialized edge-union branches, for any number of slider positions or sections",
    "g63_fanin_velocity" -> "ONE hash exchange on the target feeds BOTH the value-bounded RANGE-frame window and the per-target peak aggregation (same key ⇒ partitioning reuse; enforced on the scale-tier derivation in PlanSpec); no self-join, no bucket duplication",
    "t15_fanin_alert" -> "dedup-then-count: HashAggregate-free dropDuplicates (window, src, dst) feeding the windowed count — in batch Catalyst plans both as aggregates over ONE exchange sequence; the streaming form chains two watermark-bounded stateful operators (StreamingSpec)",
    "s11_timeslider_delta" -> "post-checkpoint final plan joins the materialized member/instance tables to their position-SHIFTED selves (left_anti) — the shift is a when-chain projection, NOT a join; slider positions add zero edge scans (the shared egoMembers primitive, given (seed, as_of) seeds, is PlanSpec-pinned via s09)",
    "s10_graphml_import" -> "the xpath extraction must stay a per-row projection over the document column (posexplode realignment — no shuffle introduced by the parse); aggregation above it is ordinary partial/final",
    "g64_strongest_asof" -> "the g59 meet shape with as_of in the DP state and BOTH meet join key sets — dated layers feed one (owner, as_of)-batched Viterbi recurrence; positions ride state width, never extra passes",
    "s12_nodelink_import" -> "from_json + explode must stay per-row projections over the document columns (JsonToStructs then Generate — no shuffle from the parse); same re-aggregation shape as s10")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit (generated by graft.tools.ExplainAudit)\n\n"
    sb ++= s"Source sf: `$sfDir`. Each section states the property the plan must\n"
    sb ++= "exhibit (the check), then the `explain(\"formatted\")` output it was\n"
    sb ++= "verified against. Regenerate after plan-affecting changes.\n"
    audited.foreach { case (name, check) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // queryExecution.explainString gives the same text explain() prints
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb ++= s"\n## $name\n\n**Check:** $check\n\n```\n$plan```\n"
    }
    // Codegen evidence needs the EXECUTED plan: AQE only collapses codegen
    // stages (the `*(n)` prefixes) into the final plan after the query runs.
    val executedAudited: Seq[(String, String)] = Seq(
      "r07b_asof_join_custom" ->
        "executed plan must show WholeStageCodegen spanning AsOfJoinExec (`*(n) AsOfJoin`)",
      "l05_cosine_topk_native" ->
        "executed plan must keep the cosine_sim projection inside a codegen span")
    executedAudited.foreach { case (name, check) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      sb ++= s"\n## $name (executed)\n\n**Check:** $check\n\n```\n" +
        df.queryExecution.executedPlan.toString + "```\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${audited.size} plans)")
    spark.stop()
  }
}
