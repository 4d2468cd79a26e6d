package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Gates

/** DataFrame-native bounded traversals (SURVEY.md §2 G2/G5/G14, §4.3) and
  * the round loop under every graph iteration ([[levels]]).
  */
object Traversals {

  /** One frontier level or whole-state round: its frame and its measured row count. */
  private[graph] type Level = (DataFrame, Long)

  /** The row count of a level 0 the caller leaves lazy (a walk's seed). */
  private[graph] val Unmeasured = -1L

  /** A stop rule: `(previous level, last level) => stop`, read after every round. */
  private[graph] type Stop = (Level, Level) => Boolean

  /** The default rule: stop after the first empty level. Exact for every
    * loop here: an empty level steps to an empty level. */
  private[graph] val Empty: Stop = (_, last) => last._2 == 0L

  /** The peel rule, for loops whose every level is a subset of the one
    * before it: an equal row count then means an equal set, and every
    * later round would return it unchanged. */
  private[graph] val Unchanged: Stop = (prev, last) => last._2 == 0L || last._2 == prev._2

  /** The round loop under every iteration in this package. Frontier loops:
    * [[kHop]] and the ego traversals, [[Algorithms.betweennessDistributed]],
    * [[Algorithms.harmonicKHop]], [[Ubo.strongestChain]] and [[simplePaths]].
    * Whole-state loops, which read only the last level: label propagation,
    * Bellman–Ford, PageRank, HITS, the k-core and k-truss peels and star
    * CC. Spark's DataFrame API has no recursion operator, so an iteration is
    * a driver-side loop of joins; *Pregelix* (VLDB 2014) runs each
    * vertex-centric superstep as such a dataflow step.
    *
    * Level i (1 ≤ i ≤ maxLevels) is `step(level i−1, its row count, levels
    * 0..i−2)`, materialized and counted in ONE [[Materialize.counted]] job;
    * with `active`, a level's count is its rows where that boolean column
    * is true (a Pregel round's active vertices).
    * The checkpoint truncates lineage, so level k does not re-derive levels
    * 1..k−1 (the classic failure mode of iterative DataFrame code, SURVEY.md
    * §7.3), and the count feeds the next step's gates and the stop rule.
    * Level 0 is the caller's: counted when a step gates on it, or
    * [[Unmeasured]] when the caller leaves it lazy. An empty level 0 runs
    * no round; after each round `stop` decides ([[Empty]] by default,
    * [[Unchanged]] for peels), and no job runs past the round it stops.
    * With `fixpoint`, a loop still running after `maxLevels` rounds throws:
    * the caller asked for a fixpoint, never a short answer.
    *
    * Returns level 0 and every level computed, the last one included. A
    * whole-state caller keeps only the last frame, so the earlier
    * checkpoints become collectable when the loop returns.
    */
  private[graph] def levels(level0: Level, maxLevels: Int, stop: Stop = Empty,
                            fixpoint: Boolean = false, active: Option[String] = None)
                           (step: (DataFrame, Long, Seq[Level]) => DataFrame): Seq[Level] = {
    var out = Vector(level0)
    var done = level0._2 == 0L
    while (!done && out.size <= maxLevels) {
      out :+= Materialize.counted(step(out.last._1, out.last._2, out.init), active)
      done = stop(out(out.size - 2), out.last)
    }
    if (fixpoint && !done) throw new IllegalStateException(s"no fixpoint in $maxLevels rounds")
    out
  }

  /** The BFS step for [[levels]]: `expand` takes the gated previous level
    * to the next level's candidate rows, and the step keeps those whose
    * `cell` (the node column plus its batch key) no earlier level holds.
    * The visited set stays a LAZY union of the levels' cells (lineage depth
    * = level count, always small; re-copying it every level would be
    * O(depth × |visited|) work), anti-joined per cell, so the frontier stays
    * a set and path multiplicity never multiplies the data volume.
    *
    * Broadcast hints: bounded traversals are drill-downs, so the frontier
    * and visited sets are orders of magnitude smaller than the edge table —
    * broadcasting them means the EDGE TABLE NEVER SHUFFLES (one scan of
    * cached blocks per hop). The levels are RDD-backed with unknown stats,
    * so AQE cannot find this conversion itself; their measured row counts
    * gate the hints at `max` rows ([[graft.Gates.broadcastIf]]), and past
    * the gate the joins stay shuffle joins instead of overflowing the driver.
    */
  private[graph] def bfs(cell: Seq[String], max: Long)(expand: DataFrame => DataFrame)
      : (DataFrame, Long, Seq[Level]) => DataFrame = { (prev, rows, earlier) =>
    val visited = earlier :+ ((prev, rows))
    expand(Gates.broadcastIf(prev, rows, max)).join(Gates.broadcastIf(
      visited.map(_._1.select(cell.map(col): _*)).reduce(_ unionByName _), visited.map(_._2).sum, max),
      cell, "left_anti")
  }

  /** Min-depth BFS: nodes reachable from `start` (column `id`) in ≤ maxHops
    * directed hops over `edges` (columns `src`, `dst`). Returns (id, depth)
    * where depth is the minimum hop count — BFS order guarantees min-depth.
    */
  def kHop(edges: DataFrame, start: DataFrame, maxHops: Int): DataFrame =
    withDepth(kHopLevels(edges, start, maxHops))

  private def kHopLevels(edges: DataFrame, start: DataFrame, maxHops: Int): Seq[Level] = {
    // Materialize the edge list once: the edge derivation (unions + window
    // functions in GraphBuilder) would otherwise recompute on every hop.
    // Reachability is invariant under edge multiplicity, so dedup up front:
    // on a multigraph (INTERACTED repeats) every duplicate edge would
    // multiply each hop's join output before the per-level distinct —
    // distinct-ing once here shrinks every subsequent shuffle.
    val e = edges.select(col("src"), col("dst")).distinct().transform(Materialize.apply)
    bfsLevels(e, start.select(col("id")).distinct().withColumn("depth", lit(0L)),
      Nil, maxHops, parents = false)
  }

  /** The BFS levels under [[kHop]], [[egoMembers]] and [[egoMembersParents]].
    * Rows carry `keys` (Nil, seed, or seed + as_of) besides `id`; with
    * as_of, `e` carries `active_from` and validity is a residual predicate
    * on the hop join. A level reduces the hop to distinct (keys, id) — or
    * with `parents` to the min discovering node. */
  private def bfsLevels(e: DataFrame, level0: DataFrame, keys: Seq[String], maxHops: Int,
                        parents: Boolean): Seq[Level] = {
    val cell = keys :+ "id"
    val hop =
      if (keys.contains("as_of")) col("src") === col("fid") && col("active_from") <= col("as_of")
      else col("src") === col("fid")
    levels(Materialize.counted(level0), maxHops)(bfs(cell, Gates.broadcastRows) { frontier =>
      val reached = e.join(frontier.select(cell.map(col): _*).withColumnRenamed("id", "fid"), hop)
      if (parents) reached.groupBy(keys.map(col) :+ col("dst"): _*)
        .agg(min(col("fid")).as("parent"))
        .withColumnRenamed("dst", "id")
      else reached.select(keys.map(col) :+ col("dst").as("id"): _*).distinct()
    })
  }

  /** BFS levels as one frame: level 0 carries its own `depth`, level i gets depth i. */
  private def withDepth(levels: Seq[Level]): DataFrame = levels.zipWithIndex.map {
    case ((df, _), 0) => df
    case ((df, _), i) => df.withColumn("depth", lit(i.toLong))
  }.reduce(_ unionByName _)

  /** `Seq("as_of")` when a batch frame carries the Time-Slider's snapshot
    * date, else Nil: every loop reads its as-of form from its input. */
  private[graph] def asOfKey(df: DataFrame): Seq[String] =
    if (df.columns.contains("as_of")) Seq("as_of") else Nil

  /** A dated batch fails loudly on input lacking a column its form needs. */
  private[graph] def requireDated(df: DataFrame, column: String, what: String): Unit =
    require(df.columns.contains(column), s"$what: a batch with as_of needs edges with " +
      s"`$column` (got ${df.columns.mkString(", ")})")

  /** Undirected view of a directed edge list. */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))

  /** All simple paths (no node revisits) of length 1..maxDepth from startId,
    * as '->'-joined id strings (the ownership chains behind a UBO figure,
    * README.md:11,13). Path enumeration DOES multiply with fan-out — callers
    * bound it with maxDepth and a small start set; at 100 TB this is a
    * per-entity drill-down, never a whole-graph operator.
    */
  def simplePaths(edges: DataFrame, startId: Long, maxDepth: Int): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst")).transform(Materialize.apply)
    val start = spark.range(1).select(
      lit(startId.toString).as("path_str"), lit(startId).as("last"),
      lit(0).as("depth"), array(lit(startId)).as("visited"))
    val paths = levels((start, Unmeasured), maxDepth) { (prev, _, earlier) =>
      prev.join(e, col("src") === col("last"))
        .filter(!array_contains(col("visited"), col("dst")))
        .select(concat(col("path_str"), lit("->"), col("dst").cast("string")).as("path_str"),
                col("dst").as("last"), lit(earlier.size + 1).as("depth"),
                array_append(col("visited"), col("dst")).as("visited"))
    }
    // maxDepth < 1 → no paths (empty result, not a crash)
    paths.tail.map(_._1).reduceOption(_ unionByName _).getOrElse(start.limit(0))
      .select(col("path_str"), col("depth"))
  }

  /** Ego network: the subgraph induced by the ≤ radius undirected
    * neighborhood of `centerId` (reference: interactive relationship mapping
    * renders a neighborhood, README.md:11).
    */
  def egoNet(edges: DataFrame, centerId: Long, radius: Int): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.transform(Materialize.apply) // reused: symmetrize + 2 induced joins
    val start = spark.range(1).select(lit(centerId).as("id"))
    val lv = kHopLevels(symmetrize(e), start, radius)
    val reach = withDepth(lv).select(col("id"))
    // the reach set is RDD-backed (no stats): its size, the levels' summed
    // counts (disjoint by the visited anti-join), gates the induced joins'
    // broadcast hints as in [[bfs]]
    val n = lv.map(_._2).sum
    e.join(Gates.broadcastIf(reach.withColumnRenamed("id", "sid"), n),
        col("src") === col("sid"), "left_semi")
      .join(Gates.broadcastIf(reach.withColumnRenamed("id", "did"), n),
        col("dst") === col("did"), "left_semi")
  }

  /** Batched multi-seed ego membership: for every seed in `seeds` (one
    * `seed` column), the nodes within ≤ radius undirected hops, as
    * (seed, id, depth) with min depth. One plan for ALL seeds — the
    * per-level join carries the seed column instead of looping per seed,
    * so k ego nets cost the same number of shuffles as one (the export
    * path the visualization layer batches over, README.md:19). Same
    * measured broadcast gate and per-level localCheckpoint as [[kHop]];
    * the visited anti-join is per (seed, id), so overlapping
    * neighborhoods don't collapse into each other.
    *
    * Multi-SNAPSHOT form, the Time-Slider's feed (README.md:17): `seeds`
    * carrying `as_of` make the (seed, as_of) PAIR the batch key, rows come
    * out as (seed, as_of, id, depth), and `edges` need `valid_from`. The
    * pair rides the per-level join exactly as seed does (the g53 "batch key
    * is free" shape) with validity a residual predicate on that join, so
    * the edge table is scanned `radius` times TOTAL, not radius × positions
    * (branch-per-year re-scans ≈ positions/2 full scans per level on
    * cumulative validity windows). Parallel edge instances collapse to
    * `min(valid_from)` (NULL ⇒ epoch): a node is reachable at `as_of` iff
    * SOME instance had started, and the reduction shrinks the join's left
    * side to distinct pairs.
    */
  def egoMembers(edges: DataFrame, seeds: DataFrame, radius: Int): DataFrame =
    ego(edges, seeds, radius, parents = false)

  /** [[egoMembers]] / [[egoMembersParents]]: undirected edges (`active_from` per pair
    * when dated) and depth-0 rows (each batch key, its seed as member) via [[bfsLevels]]. */
  private def ego(edges: DataFrame, seeds: DataFrame, radius: Int,
                  parents: Boolean): DataFrame = {
    val keys = "seed" +: asOfKey(seeds)
    val e =
      if (keys.size == 1) symmetrize(edges).distinct().transform(Materialize.apply)
      else {
        requireDated(edges, "valid_from", "egoMembers")
        def vf = coalesce(col("valid_from"), lit("1970-01-01 00:00:00").cast("timestamp_ntz")).as("vf")
        edges.select(col("src"), col("dst"), vf)
          .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"), vf))
          .groupBy("src", "dst").agg(min(col("vf")).as("active_from"))
          .transform(Materialize.apply)
      }
    val parent = if (parents) Seq(lit(-1L).as("parent")) else Nil
    withDepth(bfsLevels(e, seeds.select(keys.map(col): _*).distinct()
      .select(keys.map(col) ++ Seq(col("seed").as("id"), lit(0L).as("depth")) ++ parent: _*),
      keys, radius, parents))
  }

  /** Per-seed induced edge lists: every edge whose BOTH endpoints belong
    * to the same seed's member set, tagged with that seed. Two equi-joins
    * against the (small, measured-gate broadcast) membership table — the
    * edge table never shuffles when the gate holds.
    *
    * `members` carrying `as_of` ([[egoMembers]]' snapshot output) also
    * need the edge INSTANCE valid at that position (`edges` need
    * `valid_from`): traversal collapses parallel instances, the document
    * lists every valid one — a post-join filter on the joined as_of.
    */
  def inducedEdges(edges: DataFrame, members: DataFrame): DataFrame = {
    val keys = "seed" +: asOfKey(members)
    val dated = keys.size > 1
    if (dated) requireDated(edges, "valid_from", "inducedEdges")
    val (m, rows) = Materialize.counted(members.select(keys.map(col) :+ col("id"): _*).distinct())
    def side(end: String) =
      Gates.broadcastIf(m.select(keys.map(col) :+ col("id").as(end): _*), rows)
    val ind = edges.join(side("src"), Seq("src")).join(side("dst"), keys :+ "dst")
    if (dated) ind.filter(col("valid_from").isNull || col("valid_from") <= col("as_of")) else ind
  }

  /** [[egoMembers]] carrying a PARENT pointer: per (seed, id), the minimum
    * frontier node that discovered id at its first BFS level (−1 for the
    * seed row). The min makes the pointer deterministic, so a path
    * reconstructed by following parents is canonical — the same path in
    * any engine that picks (min depth, then min parent), which is exactly
    * the tie rule the oracle mirror applies to its walk-enumerated reach
    * (at radius ≤ 2 the two rules coincide: a length-d walk's last hop
    * comes from a node whose OWN min depth is d−1, since no-self-loop
    * symmetric graphs admit no shorter-walk padding inside the bound —
    * the min over discovering-frontier parents equals the min over
    * min-depth-row parents). Seeds carrying `as_of` batch per snapshot as
    * in [[egoMembers]].
    */
  def egoMembersParents(edges: DataFrame, seeds: DataFrame, radius: Int): DataFrame =
    ego(edges, seeds, radius, parents = true)

  /** [[connectionDistance]] plus the WITNESS PATH: for each connected
    * (s_id, t_id) pair, one canonical shortest path rendered as an
    * '->'-joined id string (g05's path convention) — the drawable answer
    * to "how are X and Y connected?". The meet node is the distance
    * query's deterministic witness (min id at min total depth); the path
    * is reconstructed by following [[egoMembersParents]]' min-parent
    * pointers from the meet toward BOTH seeds — `radius` conditional
    * backtrack joins per side against the one materialized cone table,
    * never a path-enumerating traversal (the frontier stays (seed, id)
    * rows; path strings exist only for the ≤ |pairs| witness rows).
    * Pairs beyond 2·radius report dist −1 and path '-'.
    */
  def connectionPaths(edges: DataFrame, pairs: DataFrame, radius: Int): DataFrame = {
    // reused: both meet sides + 2·radius backtracks
    val (m, rows) = Materialize.counted(egoMembersParents(edges, endpoints(pairs, "seed", Nil), radius))
    var cur = shortestMeets(pairs, m, rows, Nil)
      .groupBy("s_id", "t_id", "dist")
      .agg(min(col("id")).as("meet"))
      .select(col("s_id"), col("t_id"), col("dist"),
              col("meet").as("s_cur"), col("meet").cast("string").as("s_chain"),
              col("meet").as("t_cur"), lit("").as("t_chain"))
    for (_ <- 1 to radius) {
      val stepS = when(col("s_par").isNotNull && col("s_par") =!= -1L, true).otherwise(false)
      val stepT = when(col("t_par").isNotNull && col("t_par") =!= -1L, true).otherwise(false)
      cur = cur
        .join(m.select(col("seed").as("s_id"), col("id").as("s_cur"),
          col("parent").as("s_par")), Seq("s_id", "s_cur"), "left")
        .join(m.select(col("seed").as("t_id"), col("id").as("t_cur"),
          col("parent").as("t_par")), Seq("t_id", "t_cur"), "left")
        .select(col("s_id"), col("t_id"), col("dist"),
          when(stepS, col("s_par")).otherwise(col("s_cur")).as("s_cur"),
          when(stepS, concat(col("s_par").cast("string"), lit("->"), col("s_chain")))
            .otherwise(col("s_chain")).as("s_chain"),
          when(stepT, col("t_par")).otherwise(col("t_cur")).as("t_cur"),
          when(stepT, concat(col("t_chain"), lit("->"), col("t_par").cast("string")))
            .otherwise(col("t_chain")).as("t_chain"))
    }
    pairs.join(cur, Seq("s_id", "t_id"), "left")
      .select(col("s_id"), col("t_id"),
              coalesce(col("dist"), lit(-1L)).as("dist"),
              coalesce(concat(col("s_chain"), col("t_chain")), lit("-")).as("path_str"))
  }

  /** Batched s–t connection distance via bidirectional meet-in-the-middle:
    * for every (s_id, t_id) row in `pairs`, the exact undirected shortest
    * distance when it is ≤ 2·radius, else −1 (the documented bound). A
    * path of length L ≤ 2·radius splits at its midpoint into halves of
    * ≤ radius each, so min over meeting nodes m of depth_s(m) + depth_t(m)
    * is exact within the bound — and because the search is undirected,
    * forward and backward cones are the SAME computation: all pair
    * endpoints batch as seeds of ONE [[egoMembers]] traversal (one
    * symmetrize, `radius` edge scans total), and the meet is an equi-join
    * of that single member table with itself on the node id. The 100 TB
    * arithmetic: a radius-2k single-source frontier is ~b^2k rows; two
    * radius-k cones are ~2·b^k.
    *
    * `n_meet` counts the meeting nodes — nodes inside BOTH radius cones
    * with depth_s + depth_t = dist, i.e. the shortest-path nodes both
    * cones can see: at dist = 2·radius that is exactly the path midpoints
    * (1 = a single bottleneck entity, large = structurally entangled); at
    * smaller distances the visible window widens toward the endpoints.
    * `meet_min` is the least such node id, a deterministic witness.
    *
    * AT each Time-Slider position: `pairs` carrying `as_of` get the
    * distance over edges whose earliest instance had started by that date
    * ("were X and Y connected in 1996?"), one row per (s_id, t_id, as_of);
    * `edges` need `valid_from`. The (seed, as_of) batch key of
    * [[egoMembers]] answers every (pair, position) in one traversal, and
    * the meet joins carry as_of so nothing leaks between positions.
    */
  def connectionDistance(edges: DataFrame, pairs: DataFrame, radius: Int): DataFrame = {
    val k = asOfKey(pairs)
    // reused as both cone sides of the meet
    val (m, rows) = Materialize.counted(egoMembers(edges, endpoints(pairs, "seed", k), radius))
    val best = shortestMeets(pairs, m, rows, k)
      .groupBy("s_id", ("t_id" +: k) :+ "dist": _*)
      .agg(count(lit(1)).as("n_meet"), min(col("id")).as("meet_min"))
    pairs.join(best, Seq("s_id", "t_id") ++ k, "left")
      .select((Seq(col("s_id"), col("t_id")) ++ k.map(col)) ++ Seq(
              coalesce(col("dist"), lit(-1L)).as("dist"),
              coalesce(col("n_meet"), lit(0L)).as("n_meet"),
              coalesce(col("meet_min"), lit(-1L)).as("meet_min")): _*)
  }

  /** Every pair endpoint as a batch row (column `as`, plus the key `k`). */
  private def endpoints(pairs: DataFrame, as: String, k: Seq[String]): DataFrame =
    pairs.select(col("s_id").as(as) +: k.map(col): _*)
      .unionByName(pairs.select(col("t_id").as(as) +: k.map(col): _*)).distinct()

  /** Meet nodes at each pair's least total depth: (s_id, t_id, k…, id, tot, dist).
    * The member table `m` (`rows` rows) is checkpointed, so AQE has no
    * stats for it: left to AQE, whether a meet join turns into a broadcast
    * depends on which of its shuffle stages finishes first, and the plan and
    * its job count vary between runs. The measured gate fixes the plan. */
  private def shortestMeets(pairs: DataFrame, m: DataFrame, rows: Long, k: Seq[String]): DataFrame = {
    def side(end: String, depth: String) = Gates.broadcastIf(
      m.select((col("seed").as(end) +: k.map(col)) ++ Seq(col("id"), col("depth").as(depth)): _*),
      rows, Gates.broadcastRows)
    pairs.join(side("s_id", "df"), "s_id" +: k)
      .join(side("t_id", "db"), ("t_id" +: k) :+ "id")
      .select((Seq(col("s_id"), col("t_id")) ++ k.map(col)) ++
        Seq(col("id"), (col("df") + col("db")).as("tot")): _*)
      .withColumn("dist", min(col("tot")).over(Window.partitionBy("s_id", "t_id" +: k: _*)))
      .filter(col("tot") === col("dist"))
  }

  /** Batched s–t STRONGEST connection via bidirectional meet-in-the-middle
    * on MAX-PRODUCT: for every (s_id, t_id) pair, the maximum-product chain
    * of ≤ 2·radius undirected weighted edges (weights in (0, 1] — ownership
    * shares), with the chain itself as a '->'-joined id string. The
    * analyst's follow-up to [[connectionDistance]]'s hop count: not "how
    * FAR apart are X and Y" but "how STRONG is the strongest link chain"
    * (reference README.md:13 UBO percentages × README.md:28 weighted
    * pathfinding).
    *
    * Exactness (the [[connectionDistance]] split argument carried to
    * max-product): a simple path of length L ≤ 2·radius splits at its
    * midpoint into halves of ≤ radius; each cone's per-cell value
    * best(m) — the [[Ubo.strongestChain]] recurrence run from every pair
    * endpoint as one batched owner set over the symmetrized edges —
    * dominates its half, so max over m of best_s(m)·best_t(m) ≥ the best
    * simple-path product. Conversely every meet value IS a walk product,
    * and with weights ≤ 1 a walk is dominated by the simple path inside it
    * (cycle factors only shrink the product), so the meet max EQUALS the
    * best simple-path product within the bound. The reported witness chain
    * is the deterministic argmax (strength DESC, chain ASC per pair — the
    * g39 tie rule); on ties the concatenated halves can share an interior
    * node (a walk), but its product still equals the simple-path optimum.
    *
    * Scale arithmetic as [[connectionDistance]]: two radius-k cones are
    * ~2·b^k rows vs ~b^2k single-source, and the per-cell rn=1 prune caps
    * each cone at |seeds| × |nodes| with ONE chain string per cell — never
    * a path enumeration. Pairs with no ≤ 2·radius connection report
    * strength 0, chain '-', hops −1.
    *
    * AT each Time-Slider position: `pairs` carrying `as_of` need a DATED,
    * per-position-renormalized web (as_of, src, dst, weight) as `edges` —
    * "how STRONG was the strongest chain in 1996?" (with g57/g59/g60 the
    * {distance, strength} × {now, as-of} matrix). (owner, as_of) is the
    * [[Ubo.strongestChain]] batch key, the meet joins carry as_of, and the
    * exactness argument holds per position.
    */
  def strongestConnections(edges: DataFrame, pairs: DataFrame, radius: Int): DataFrame = {
    val k = asOfKey(pairs)
    if (k.nonEmpty) requireDated(edges, "as_of", "strongestConnections")
    val symw = edges.select(k.map(col) ++ Seq(col("src"), col("dst"), col("weight")): _*)
      .unionByName(edges.select(k.map(col) ++
        Seq(col("dst").as("src"), col("src").as("dst"), col("weight")): _*))
    val seeds = endpoints(pairs, "owner", k)
    // level-0 rows join the DP output so a pair can meet AT an endpoint
    // (hops_t = 0 ⇒ the whole chain lives in one cone); the re-rank uses
    // the same (share DESC, chain ASC) order, where the seed's own 1.0 row
    // wins every tie (its chain is a strict prefix, so it sorts first)
    val w = Window.partitionBy((col("owner") +: k.map(col)) :+ col("entity"): _*)
      .orderBy(col("share").desc, col("chain"))
    val lvl0 = seeds.select((col("owner") +: k.map(col)) ++ Seq(col("owner").as("entity"),
      lit(1.0).cast("double").as("share"), col("owner").cast("string").as("chain"),
      lit(0).as("hops")): _*)
    val cones = lvl0.unionByName(Ubo.strongestChain(symw, seeds, radius))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .transform(Materialize.apply) // reused as both meet sides
    def side(end: String, x: String) = cones.select((col("owner").as(end) +: k.map(col)) ++
      Seq(col("entity").as("id"), col("share").as(s"share_$x"), col("chain").as(s"chain_$x"),
          col("hops").as(s"hops_$x")): _*)
    // chain_t runs t→…→m; symmetric weights make its reversal m→…→t the
    // same product, so the full chain is chain_s ++ reverse(chain_t)[2:]
    // — string surgery on the ≤ |pairs|-dominated meet rows only, never
    // in the frontier (the g58 discipline)
    val rt = reverse(split(col("chain_t"), "->"))
    val meets = pairs.join(side("s_id", "s"), "s_id" +: k).join(side("t_id", "t"), ("t_id" +: k) :+ "id")
      .withColumn("strength", col("share_s") * col("share_t"))
      .withColumn("chain", concat_ws("->",
        concat(split(col("chain_s"), "->"), slice(rt, lit(2), size(rt) - 1))))
      .withColumn("hops", (col("hops_s") + col("hops_t")).cast("long"))
    val pw = Window.partitionBy("s_id", "t_id" +: k: _*).orderBy(col("strength").desc, col("chain"))
    val best = meets.withColumn("rn", row_number().over(pw)).filter(col("rn") === 1)
      .select((Seq(col("s_id"), col("t_id")) ++ k.map(col)) ++ Seq(
              round(col("strength"), 6).as("strength6"), col("chain"), col("hops")): _*)
    pairs.join(best, Seq("s_id", "t_id") ++ k, "left")
      .select((Seq(col("s_id"), col("t_id")) ++ k.map(col)) ++ Seq(
              coalesce(col("strength6"), lit(0.0)).as("strength6"),
              coalesce(col("chain"), lit("-")).as("chain"),
              coalesce(col("hops"), lit(-1L)).as("hops")): _*)
  }

  /** Per-seed member CAP for ego exports: keeps each seed's top `cap`
    * members ranked by (min depth asc, induced incident-weight strength
    * desc, id asc), so a supernode ego cannot emit an unbounded document
    * (a radius-2 ego on a hub otherwise collect_lists millions of nodes
    * into ONE json value — the export's only unbounded allocation; the
    * VERDICT r10 s07 caveat). Ranking semantics: depth dominates (the
    * whole 1-hop shell outranks any 2-hop node — truncation peels the
    * neighborhood from the outside in), strength = the member's total
    * incident edge weight WITHIN the pre-cap induced subgraph (computed
    * by one [[inducedEdges]] pass, so it reflects prominence in the
    * document being drawn, not global degree), id breaks ties
    * deterministically. The seed itself is depth 0 and always survives.
    *
    * Returns (seed, id, depth, n_total) with `n_total` the PRE-cap member
    * count — callers surface it next to the cap so consumers can SEE
    * truncation instead of mistaking a capped document for the whole
    * neighborhood. The per-seed window shuffle partitions on seed; its
    * partitions are ego-sized (bounded by the radius gate), never
    * board-sized.
    *
    * Members carrying `as_of` rank per (seed, as_of) — a LOCATED_IN hub
    * ego growing with the board (the SCALE.md s09 caveat) is truncated per
    * slider position — with strength taken in the position's OWN
    * validity-filtered induced snapshot (`edges` need `valid_from`).
    */
  def capEgoMembers(edges: DataFrame, members: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must keep at least the seed, got $cap")
    val keys = "seed" +: asOfKey(members)
    if (keys.size > 1) requireDated(edges, "valid_from", "capEgoMembers")
    val validity = if (keys.size > 1) Seq(col("valid_from")) else Nil
    val m = members.select(keys.map(col) ++ Seq(col("id"), col("depth")): _*)
      .transform(Materialize.apply)
    val ind = inducedEdges(
      edges.select(Seq(col("src"), col("dst"), col("weight")) ++ validity: _*), m)
    val strength = ind.select(keys.map(col) ++ Seq(col("src").as("id"), col("weight")): _*)
      .unionByName(ind.select(keys.map(col) ++ Seq(col("dst").as("id"), col("weight")): _*))
      .groupBy(keys.head, keys.tail :+ "id": _*).agg(sum(col("weight")).as("strength"))
    val bySeed = Window.partitionBy(keys.head, keys.tail: _*)
    val rank = bySeed.orderBy(col("depth").asc, col("strength").desc_nulls_last, col("id").asc)
    m.join(strength, keys :+ "id", "left")
      .withColumn("rnk", row_number().over(rank))
      .withColumn("n_total", count(lit(1)).over(bySeed))
      .filter(col("rnk") <= cap)
      .select(keys.map(col) ++ Seq(col("id"), col("depth"), col("n_total")): _*)
  }
}
