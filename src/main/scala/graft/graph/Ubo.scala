package graft.graph

import graft.Tables
import graft.Tables.dec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** UBO-style ownership propagation (reference: "Automatically calculate …
  * Ultimate Beneficial Owners", /root/reference/README.md:13; cycle safety
  * per README.md:15 "circular ownership loops").
  *
  * Semantics: share(owner → entity) = Σ over all paths of Π edge weights,
  * computed as `steps` matrix-power iterations (join + groupBy-sum per step).
  * A step count is a depth cap — on cyclic graphs the propagation is bounded
  * by construction, the documented cycle-safe semantics (SURVEY.md §7.3.2).
  *
  * Scale posture: each step is a shuffle join keyed on the current entity —
  * the frontier stays (owner, entity)-aggregated, so size is bounded by
  * |owners| × |entities| regardless of path multiplicity (no path-enumeration
  * blowup). `localCheckpoint` every 3 steps truncates lineage.
  *
  * Numeric discipline: weights are ratios of exact decimal sums (deterministic
  * doubles in both engines); path-sum aggregation is float-order-dependent, so
  * graded outputs round to 6 decimals (SURVEY.md §5.3 rule 2).
  */
object Ubo {
  import GraphBuilder._

  /** Normalized 3-layer ownership DAG: customer -(1/n_orders)-> order
    * -(qty share)-> part -(supply share)-> supplier. Out-weights sum to 1.0
    * per source node, the ownership-percentage invariant.
    */
  def placedEdges(t: Tables): DataFrame = t.orders
    .select((lit(CustomerBase) + col("o_custkey")).as("src"),
            (lit(OrderBase) + col("o_orderkey")).as("dst"))
    .withColumn("weight", lit(1.0) / count(lit(1)).over(Window.partitionBy(col("src"))))
    .select(col("src"), col("dst"), col("weight"))

  def containsEdges(t: Tables): DataFrame = t.lineitem
    .groupBy(col("l_orderkey"), col("l_partkey"))
    .agg(sum(dec(col("l_quantity"))).as("qty"))
    .withColumn("total", sum(col("qty")).over(Window.partitionBy(col("l_orderkey"))))
    .select((lit(OrderBase) + col("l_orderkey")).as("src"),
            (lit(PartBase) + col("l_partkey")).as("dst"),
            (col("qty").cast("double") / col("total").cast("double")).as("weight"))

  def suppliedByEdges(t: Tables): DataFrame = t.lineitem
    .groupBy(col("l_partkey"), col("l_suppkey"))
    .agg(sum(dec(col("l_quantity"))).as("qty"))
    .withColumn("total", sum(col("qty")).over(Window.partitionBy(col("l_partkey"))))
    .select((lit(PartBase) + col("l_partkey")).as("src"),
            (lit(SupplierBase) + col("l_suppkey")).as("dst"),
            (col("qty").cast("double") / col("total").cast("double")).as("weight"))

  def uboEdges(t: Tables): DataFrame =
    placedEdges(t).unionByName(containsEdges(t)).unionByName(suppliedByEdges(t))

  /** Collapsed INTERACTED user pairs with multiplicity (single-sourced from
    * [[GraphBuilder.userTransitions]]).
    */
  def interactedPairs(t: Tables): DataFrame =
    GraphBuilder.userTransitions(t)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("cnt"))

  /** Out-normalized INTERACTED user graph — cyclic, for the depth-capped
    * propagation demo. weight(u,v) = cnt(u,v) / out_cnt(u).
    */
  def interactedWeighted(t: Tables): DataFrame =
    interactedPairs(t)
      .withColumn("weight",
        col("cnt").cast("double") / sum(col("cnt")).over(Window.partitionBy(col("src"))).cast("double"))
      .select(col("src"), col("dst"), col("weight"))

  /** `steps` propagation iterations of (owner, entity, share) over
    * (src, dst, weight) edges. Matrix-power semantics: shares over parallel
    * paths sum at every step.
    *
    * `epsilon`: prune (owner, entity) pairs whose share drops below it after
    * each step — THE scale lever. Without it, a fast-mixing graph degrades to
    * |owners|×|entities| dense state times out-degree per step (observed:
    * 30 s at sf0.1 on the cyclic user graph). Pruned semantics are part of
    * the operator contract and mirrored exactly in the oracle SQL (HAVING
    * share >= eps per step), per SURVEY.md §7.3.2.
    */
  def propagate(edges: DataFrame, init: DataFrame, steps: Int,
                epsilon: Option[Double] = None): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("weight")).transform(Materialize.apply)
    propagateLayers(Seq.fill(steps)(e), init, epsilon, materializeLayers = false)
  }

  /** First propagation step for an IDENTITY seed frame (owner = entity,
    * share = 1.0) — r17 opt, guide §1.2 "the distributed algorithm":
    * joining such a seed set to a layer on entity = src and summing
    * share × weight per (owner, dst) collapses to a FILTERED PROJECTION
    * of the layer, because every (owner, dst) group is the single layer
    * row (src, dst) with src in the seed set (the normalized layers are
    * unique per (src, dst) by construction — groupBy outputs), and
    * SUM(1.0 × weight) over one row is `weight` bit-exactly (IEEE 754:
    * 1.0 × w = w; a singleton sum is the identity). Eliding the join
    * saves one shuffle join + one exchange-aggregate per seeded
    * propagation; results are bit-identical to
    * step(identitySeeds, layer, epsilon).
    *
    * `ownerPred` must select exactly the seed srcs (lit(true) when the
    * seed set is the layer's whole src domain, as in g03's
    * all-customers cone). A DATED layer (carrying `as_of`, unique per
    * (as_of, src, dst)) yields (owner, as_of, entity, share), per cell.
    */
  def seedStep(layer: DataFrame, ownerPred: Column,
               epsilon: Option[Double] = None): DataFrame = {
    var s1 = layer.filter(ownerPred)
      .select((col("src").as("owner") +: Traversals.asOfKey(layer).map(col)) ++
              Seq(col("dst").as("entity"), col("weight").as("share")): _*)
    epsilon.foreach(eps => s1 = s1.filter(col("share") >= eps))
    s1
  }

  /** Layered variant: step k joins only `layers(k)` — on a layered DAG
    * (customer→order→part→supplier) each step's probe side shrinks to the
    * one relevant edge set instead of the full union. Identical results to
    * [[propagate]] when layers partition the edges by source type (a join on
    * `entity = src` can only ever match the matching layer).
    *
    * Batched over SNAPSHOT DATES when `init` carries `as_of`: the layers
    * must carry `as_of` too and each step joins on (entity = src AND as_of)
    * — every slider position's cone propagates in the SAME joins (the g53
    * free-batch-key argument on the date axis), and no share mass leaks
    * between positions. Callers build the per-date layers from one scan.
    */
  def propagateLayers(layers: Seq[DataFrame], init: DataFrame,
                      epsilon: Option[Double] = None,
                      materializeLayers: Boolean = true): DataFrame = {
    val k = Traversals.asOfKey(init)
    var own = init.select((col("owner") +: k.map(col)) ++ Seq(col("entity"), col("share")): _*)
    var i = 1
    layers.foreach { layer =>
      if (k.nonEmpty) Traversals.requireDated(layer, "as_of", "propagateLayers")
      val e0 = layer.select(k.map(col) ++ Seq(col("src"), col("dst"), col("weight")): _*)
      val e = if (materializeLayers) e0.transform(Materialize.apply) else e0
      own = step(own, e, epsilon)
      // mid-loop lineage truncation only: a checkpoint after the LAST step
      // is pure overhead (one extra job + a block-manager round trip for a
      // result every caller consumes exactly once — r17 opt, guide §2/§5)
      if (i % 3 == 0 && i < layers.size) own = own.transform(Materialize.apply)
      i += 1
    }
    own
  }

  /** Strongest-ownership-chain DP (reference README.md:11,13 — showing THE
    * chain behind a UBO figure): per (owner, target), the maximum-product
    * path of ≤ maxHops edges, with the chain itself reconstructed as a
    * '->'-joined id string (g05's path convention). A compliance user asks
    * "through which chain does X control Y?" — [[propagate]] answers with
    * the SUM over all paths; this answers with the argmax path.
    *
    * Viterbi-style bounded dynamic program over unrolled steps: frontier i
    * holds, per (owner, entity), the best EXACTLY-i-hop path (share +
    * chain), pruned to one row per cell by (share DESC, chain ASC). The
    * per-step prune loses nothing: every extension multiplies by the same
    * edge weight, so the best prefix stays best (max-product optimal
    * substructure — the min-plus/−log-weight DP without the log round
    * trip; weights ≤ 1 so products only shrink), and equal-hop chains to
    * the same node never string-prefix each other (same component count),
    * so the ASC tie order is extension-invariant. Walk semantics: with
    * weights ≤ 1, any walk revisiting a node is dominated by the simple
    * path it contains, so the DP's argmax VALUE equals the simple-path
    * argmax; GraphAlgosSpec cross-checks the values against a GraphX
    * Pregel max-product run ([[Algorithms.maxProductGraphX]]).
    *
    * Scale posture: state is capped at |owners| × |nodes| rows per step BY
    * CONSTRUCTION (the rn=1 prune), each step one equi-join on the entity
    * key plus one (owner, entity)-partitioned window — the bounded-owner
    * drill-down contract of [[propagate]]'s cyclic form, with a ≤
    * maxHops+1-id string column riding along. Mirrored step-for-step by
    * [[UboSql.chainStep]].
    *
    * AT each Time-Slider position: `owners` carrying `as_of` need a DATED
    * web (`edges` with `as_of`, see GraphQueries.datedUboLayers); as_of
    * joins the step-join and argmax keys, so positions ride the state width
    * (the g56 argument) and the prune's proof holds per position. Mirrored
    * by [[UboSql.chainStep]] with the as_of key.
    */
  def strongestChain(edges: DataFrame, owners: DataFrame, maxHops: Int): DataFrame = {
    val keys = "owner" +: Traversals.asOfKey(owners)
    val k = keys.tail
    if (k.nonEmpty) Traversals.requireDated(edges, "as_of", "strongestChain")
    val e = edges.select(k.map(c => col(c).as(s"e_$c")) ++
      Seq(col("src"), col("dst"), col("weight")): _*).transform(Materialize.apply)
    val owned = owners.select(keys.map(col): _*).distinct()
      .select(keys.map(col) ++ Seq(col("owner").as("entity"), lit(1.0).as("share"),
              col("owner").cast("string").as("chain")): _*)
    val chains = Traversals.levels((owned, Traversals.Unmeasured), maxHops) { (prev, _, _) =>
      argmaxByCell(
        prev.join(e, onEntity(k))
          .select(keys.map(col) ++ Seq(col("dst").as("entity"),
                  (col("share") * col("weight")).as("share"),
                  concat(col("chain"), lit("->"), col("dst").cast("string")).as("chain")): _*),
        keys)
    }
    val best = chains.tail.zipWithIndex
      .map { case ((df, _), i) => df.withColumn("hops", lit(i + 1)) }
      .reduce(_ unionByName _)
    // cross-level argmax: hops rides along (chain determines hops, so the
    // (share, chain) order can never need it as a tie-break)
    argmaxByCell(best, keys, "hops")
  }

  /** The per-cell argmax `(share DESC, chain ASC)` as an AGGREGATE instead
    * of a `row_number = 1` window (r17 opt, guide §2.3 "aggregate before
    * you shuffle"): `min(struct(-share, chain))` picks the identical
    * winner — share > 0 always (products of positive weights), so -share
    * ascending IS share descending, the chain field applies the same ASC
    * tie-break, and `-(-x) = x` is bit-exact in IEEE 754 — but as a
    * DeclarativeAggregate it gets a map-side partial pass: each step's
    * join fan-out collapses to ≤ one row per (keys, entity) cell PER
    * PARTITION before the exchange, where the window shipped every
    * extension row and sorted it. Same rows out, far fewer rows shuffled.
    * `extra` columns ride along in the winner's struct.
    */
  private def argmaxByCell(extended: DataFrame, keys: Seq[String], extra: String*): DataFrame = {
    val fields = "chain" +: extra
    extended
      .groupBy(keys.map(col) :+ col("entity"): _*)
      .agg(min(struct((-col("share")).as("ns") +: fields.map(c => col(c).as(c)): _*)).as("b"))
      .select((keys.map(col) :+ col("entity") :+ (-col("b.ns")).as("share")) ++
        fields.map(c => col(s"b.$c").as(c)): _*)
  }

  /** The step join: entity = src, plus as_of = e_as_of (the layer's as_of
    * renamed) for a dated batch. */
  private def onEntity(k: Seq[String]): Column =
    k.foldLeft(col("entity") === col("src"))((on, c) => on && col(c) === col(s"e_$c"))

  /** One propagation step. The step is the canonical
    * [[graft.rel.Regroup.aggregateByNewKeys]] case — all three conditions
    * of its decision rule hold here: the join fans out (130M rows from a
    * 15M-row frontier at sf0.8), the group keys (owner, dst) differ from
    * the join key (entity = src), and the default plan's partial-agg map
    * spills. Exchanging the fan-out on the group keys before aggregating
    * made the isolated step 54.7 → 10.0 s and halved whole-query g03 at
    * sf0.8 (SCALE.md round 8); the probes cited in Regroup's scaladoc
    * also record where the same move does NOT pay (l03, g11).
    */
  def step(own: DataFrame, layer: DataFrame,
           epsilon: Option[Double] = None): DataFrame = {
    val k = Traversals.asOfKey(own)
    // partition the fan-out on dst ALONE (a subset of the group keys, so
    // the agg still collapses fully): the step's output is then hash-
    // partitioned on what becomes `entity` — exactly the NEXT step's join
    // key — so the following join re-exchanges only the layer side, never
    // the propagated state (§2.4 exchange reuse; r17 opt). A dated step
    // partitions on (as_of, dst), the next step's dated join keys.
    var next = graft.rel.Regroup.aggregateByNewKeys(
      own.join(if (k.isEmpty) layer else layer.withColumnRenamed("as_of", "e_as_of"), onEntity(k)),
      groupKeys = (col("owner") +: k.map(col)) :+ col("dst"),
      aggs = Seq(sum(col("share") * col("weight")).as("share")),
      partitionKeys = k.map(col) :+ col("dst"))
    epsilon.foreach(eps => next = next.filter(col("share") >= eps))
    next.select((col("owner") +: k.map(col)) ++ Seq(col("dst").as("entity"), col("share")): _*)
  }
}

/** DuckDB mirrors for [[Ubo]] — MUST stay in lockstep with the Spark code. */
object UboSql {
  val uboEdgesCte: String =
    """ubo_edges AS (
      |  SELECT 3000000000 + o_custkey AS src, 6000000000 + o_orderkey AS dst,
      |         CAST(1.0 AS DOUBLE) / COUNT(*) OVER (PARTITION BY o_custkey) AS weight
      |  FROM orders
      |  UNION ALL
      |  SELECT 6000000000 + l_orderkey, 5000000000 + l_partkey,
      |         CAST(qty AS DOUBLE) / CAST(SUM(qty) OVER (PARTITION BY l_orderkey) AS DOUBLE)
      |  FROM (SELECT l_orderkey, l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty FROM lineitem GROUP BY 1, 2)
      |  UNION ALL
      |  SELECT 5000000000 + l_partkey, 4000000000 + l_suppkey,
      |         CAST(qty AS DOUBLE) / CAST(SUM(qty) OVER (PARTITION BY l_partkey) AS DOUBLE)
      |  FROM (SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty FROM lineitem GROUP BY 1, 2)
      |)""".stripMargin

  /** Collapsed INTERACTED pairs with multiplicity (cnt kept for thresholds). */
  val interactedPairsCte: String =
    """ie_pairs AS (
      |  SELECT 7000000000 + prev AS src, 7000000000 + user_id AS dst, COUNT(*) AS cnt
      |  FROM (SELECT user_id, ts, event_id, LAG(user_id) OVER (ORDER BY ts, event_id) AS prev FROM events)
      |  WHERE prev IS NOT NULL AND prev <> user_id GROUP BY 1, 2
      |)""".stripMargin

  val interactedWeightedCte: String = interactedPairsCte + """,
      |ie_edges AS (
      |  SELECT src, dst, CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY src) AS DOUBLE) AS weight
      |  FROM ie_pairs
      |)""".stripMargin

  /** One unrolled propagation step (the CTE equivalent of one loop pass).
    * `epsilon` mirrors Ubo.propagate's per-step pruning.
    */
  def step(prev: String, cur: String, edges: String, epsilon: Option[Double] = None): String = {
    val having = epsilon.map(e => s" HAVING SUM(p.share * e.weight) >= $e").getOrElse("")
    s"""$cur AS (
       |  SELECT p.owner, e.dst AS entity, SUM(p.share * e.weight) AS share
       |  FROM $prev p JOIN $edges e ON e.src = p.entity GROUP BY 1, 2$having)""".stripMargin
  }

  /** One unrolled [[Ubo.strongestChain]] DP step: extend every frontier
    * cell by one edge, keep the (share DESC, chain ASC) argmax per
    * (owner, keys…, entity). The window sits in an outer subquery so both
    * engines rank the SAME computed (share, chain) values. `keys` is the
    * batch key beside owner — `Seq("as_of")` for the dated step, whose
    * slider position joins the step-join and window keys.
    */
  def chainStep(prev: String, cur: String, edges: String, keys: Seq[String] = Nil): String = {
    val k = keys.map(c => s", $c").mkString
    val pk = keys.map(c => s", p.$c").mkString
    val on = keys.map(c => s" AND e.$c = p.$c").mkString
    s"""$cur AS (
       |  SELECT owner$k, entity, share, chain FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY owner$k, entity
       |                                 ORDER BY share DESC, chain) AS rn
       |    FROM (SELECT p.owner$pk, e.dst AS entity, p.share * e.weight AS share,
       |                 p.chain || '->' || CAST(e.dst AS VARCHAR) AS chain
       |          FROM $prev p JOIN $edges e ON e.src = p.entity$on))
       |  WHERE rn = 1)""".stripMargin
  }
}
