package graft

import graft.graph.{Algorithms, GraphBuilder, GraphQueries, Traversals, Ubo}
import org.apache.spark.sql.functions._

class TraversalsSpec extends SparkSpec {
  import spark.implicits._

  // 1->2->3->4, 1->3 (shortcut), 5 isolated-ish: 5->1
  private def edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (5L, 1L))
    .toDF("src", "dst")

  test("kHop returns min BFS depth") {
    val start = Seq(1L).toDF("id")
    val got = Traversals.kHop(edges, start, 3).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("kHop respects hop cap") {
    val got = Traversals.kHop(edges, Seq(1L).toDF("id"), 1).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("kHop launches no job past the first empty level") {
    // from 1 the BFS reaches {2, 3}, then {4}, then nothing: a cap past
    // that level costs no job
    def run(cap: Int) = jobs(Traversals.kHop(edges, Seq(1L).toDF("id"), cap)
      .as[(Long, Long)].collect().toMap)
    val (at3, n3) = run(3)
    val (at9, n9) = run(9)
    assert(at9 === at3)
    assert(n9 === n3, s"cap 9 ran $n9 jobs, cap 3 ran $n3")
  }

  test("simplePaths guards cycles") {
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val paths = Traversals.simplePaths(cyc, 1L, 5).as[(String, Int)].collect().toMap
    // 1->2, 1->2->3 only; the step back to 1 is blocked by the visited guard
    assert(paths.keySet === Set("1->2", "1->2->3"))
  }

  test("egoNet induces the neighborhood subgraph") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L)).toDF("src", "dst")
      .withColumn("rel_type", lit("E"))
    val got = Traversals.egoNet(e, 1L, 2).select("src", "dst").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (2L, 3L))) // 3->4 excluded: 4 is 3 hops out
  }

  test("egoNet takes its reach size from the BFS level counts") {
    // the reach set's size gates the induced joins' broadcasts; a count of
    // the reach union would add two jobs (its exchange's and its result's)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L)).toDF("src", "dst")
      .withColumn("rel_type", lit("E"))
    val (got, n) = jobs(Traversals.egoNet(e, 1L, 2).select("src", "dst").as[(Long, Long)].collect())
    assert(got.toSet === Set((1L, 2L), (2L, 3L)))
    assert(n === 14, s"$n jobs")
  }

  test("batched egoMembers/inducedEdges reproduce per-seed egoNet") {
    val e = GraphBuilder.edges(Tables(spark, sfDir))
    val seedIds = Seq(GraphBuilder.CustomerBase + 1L, GraphBuilder.CustomerBase + 2L)
    val members = Traversals.egoMembers(e, seedIds.toDF("seed"), 2)
    val batched = Traversals.inducedEdges(e, members)
    for (seed <- seedIds) {
      val single = Traversals.egoNet(e, seed, 2)
        .select("src", "dst", "rel_type").as[(Long, Long, String)].collect().toSet
      val got = batched.filter(col("seed") === seed)
        .select("src", "dst", "rel_type").as[(Long, Long, String)].collect().toSet
      assert(got.nonEmpty && got === single, s"seed $seed diverged")
    }
    // distinct seeds must not bleed into each other: seed col partitions rows
    assert(members.groupBy("seed").count().count() === 2L)
  }

  test("above the broadcast gate the traversals degrade to shuffle joins with IDENTICAL results") {
    // forcing the gates turns every gated hint off — the plan kHop /
    // egoMembers / inducedEdges run when a reachable set outgrows the 4M
    // gate at scale (SCALE.md round 11: g02's visited set is one doubling
    // from crossing it). The degraded path must be a pure plan change:
    // same rows, same depths, same induced edges.
    val e = GraphBuilder.edges(Tables(spark, sfDir))
    val start = Seq(GraphBuilder.CustomerBase + 1L).toDF("id")
    def rows =
      Traversals.kHop(e, start, 3)
        .as[(Long, Long)].collect().toSet
    val broadcastPath = rows
    assert(broadcastPath.nonEmpty && broadcastPath === gatesForced(rows),
      "kHop results must not depend on the broadcast gate")
    val seeds = Seq(GraphBuilder.CustomerBase + 1L).toDF("seed")
    def ego = {
      val m = Traversals.egoMembers(e, seeds, 2)
      Traversals.inducedEdges(e, m)
        .select("src", "dst", "rel_type").as[(Long, Long, String)].collect().toSet
    }
    val egoBroadcast = ego
    assert(egoBroadcast.nonEmpty && egoBroadcast === gatesForced(ego),
      "ego extraction results must not depend on the broadcast gate")
  }
}

class AlgorithmsSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents labels components by min id") {
    val e = Seq((1L, 2L), (3L, 4L), (4L, 5L), (7L, 7L)).toDF("src", "dst")
    val got = Algorithms.connectedComponents(e).as[(Long, Long)].collect().toMap
    assert(got(1L) === 1L && got(2L) === 1L)
    assert(got(3L) === 3L && got(4L) === 3L && got(5L) === 3L)
    assert(got(7L) === 7L)
  }

  test("labelPropagation splits bridge-joined triangles into their communities") {
    // two triangles {1,2,3} and {10,11,12} joined by one bridge 3-10: CC
    // would merge everything; LPA keeps the dense cores apart
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
                (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val got = Algorithms.labelPropagation(e, 3).as[(Long, Long)].collect().toMap
    assert(got.keySet === Set(1L, 2L, 3L, 10L, 11L, 12L))
    assert(Set(got(1L), got(2L), got(3L)).size === 1, "left triangle converges to one label")
    assert(Set(got(10L), got(11L), got(12L)).size === 1, "right triangle converges to one label")
    assert(got(1L) !== got(10L), "bridge must not merge the communities")
  }

  test("labelPropagation is deterministic across runs and partitionings") {
    val t = Tables(spark, sfDir)
    val e2 = Ubo.interactedPairs(t).filter(col("cnt") >= 2).select(col("src"), col("dst"))
    val a = Algorithms.labelPropagation(e2, 3).as[(Long, Long)].collect().toMap
    val b = Algorithms.labelPropagation(e2.repartition(13), 3).as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("strongestChain picks the argmax path and breaks product ties by chain order") {
    // direct 1->2 (0.3) loses to 1->3 (0.8) -> 2 (0.9) = 0.72: the DP must
    // return the 2-hop chain. And an EXACT product tie (1->4 direct 0.4 vs
    // 1->3->4 = 0.8*0.5, exact in binary: ×0.5 is an exponent shift) must
    // resolve by chain ASC — "1->3->4" < "1->4" ('3' < '4' at index 3), so
    // the 2-hop chain wins the tie, NOT the shorter one: the contract is
    // string order, not hop count.
    val e = Seq((1L, 2L, 0.3), (1L, 3L, 0.8), (3L, 2L, 0.9),
                (1L, 4L, 0.4), (3L, 4L, 0.5))
      .toDF("src", "dst", "weight")
    val got = Ubo.strongestChain(e, Seq(1L).toDF("owner"), maxHops = 3)
      .as[(Long, Long, Double, String, Int)].collect()
      .map(r => r._2 -> ((r._3 * 1e9).round / 1e9, r._4, r._5)).toMap
    assert(got(2L) === ((0.72, "1->3->2", 2)))
    assert(got(3L) === ((0.8, "1->3", 1)))
    assert(got(4L) === ((0.4, "1->3->4", 2)), "tie must break by chain string order")
  }

  test("strongestChain and harmonicKHop run one job per level") {
    // one counted job per level plus the AQE stage jobs of its exchanges;
    // a job for the lazy level 0 or a second job per level moves the pin
    val chain = Seq((1L, 2L, 0.3), (1L, 3L, 0.8), (3L, 2L, 0.9), (1L, 4L, 0.4), (3L, 4L, 0.5))
      .toDF("src", "dst", "weight")
    val (_, nChain) = jobs(Ubo.strongestChain(chain, Seq(1L).toDF("owner"), maxHops = 3).collect())
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val (_, nHarmonic) = jobs(Algorithms.harmonicKHop(star, 3).collect())
    assert((nChain, nHarmonic) === ((13, 13)))
  }

  test("strongestChain values match a GraphX Pregel max-product run") {
    // same walk set, same prefix-first product accumulation → the max per
    // target matches BITWISE, not approximately (Ubo.strongestChain doc).
    val t = Tables(spark, sfDir)
    val e = Ubo.interactedWeighted(t)
    val src = e.select(min(col("src"))).as[Long].head()
    val dp = Ubo.strongestChain(e, Seq(src).toDF("owner"), maxHops = 4)
      .filter(col("entity") =!= col("owner"))
      .select(col("entity"), col("share")).as[(Long, Double)].collect().toMap
    val px = Algorithms.maxProductGraphX(e, src, maxIters = 4)
      .as[(Long, Double)].collect().toMap
    assert(dp.nonEmpty && dp.keySet === px.keySet)
    dp.foreach { case (id, s) =>
      assert(s === px(id), s"share mismatch at $id: dp=$s pregel=${px(id)}")
    }
  }

  test("aggregateMessages in-weight stats match the DataFrame groupBy twin") {
    val t = Tables(spark, sfDir)
    val e = graft.graph.Ubo.suppliedByEdges(t)
    val gx = Algorithms.inWeightStats(e)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2 * 1e9).round, r._3)).toMap
    val df = e.groupBy(col("dst").as("id"))
      .agg(sum("weight").as("s"), max("weight").as("m"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2 * 1e9).round, r._3)).toMap
    assert(gx.keySet === df.keySet)
    gx.foreach { case (id, (s, m)) =>
      assert(math.abs(s - df(id)._1) <= 1, s"sum mismatch at $id") // float-order tolerance
      assert(m === df(id)._2, s"max mismatch at $id")
    }
  }

  test("ccUnionFind matches GraphX CC, boundaries and self-loops included") {
    // the drill-down tier under Algorithms.cc's gate: identical labels to
    // the distributed tier on multigraph edges, self-loops, and chains
    val e = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 5L), (7L, 7L), (5L, 3L))
      .toDF("src", "dst")
    val uf = Algorithms.ccUnionFind(e).as[(Long, Long)].collect().toMap
    val gx = Algorithms.connectedComponents(e).as[(Long, Long)].collect().toMap
    assert(uf === gx)
    // random multi-partition graph: decreasing ids force real path
    // compression (unions always re-root at the smaller id)
    val rnd = new scala.util.Random(7)
    val er = (1 to 3000).map(_ => (rnd.nextInt(400).toLong + 1, rnd.nextInt(400).toLong + 1))
      .toDF("src", "dst").repartition(11)
    val ufr = Algorithms.ccUnionFind(er).as[(Long, Long)].collect().toMap
    val gxr = Algorithms.connectedComponents(er).as[(Long, Long)].collect().toMap
    assert(ufr === gxr)
  }

  test("cc gate: both tiers agree on the graded strong user graph") {
    // same posture as BetweennessSpec's cross-tier case: force the
    // distributed tier (every gate at 0 selects the star tier) on the graph
    // the drill-down tier grades and assert identical labelings
    val t = Tables(spark, sfDir)
    val e2 = graft.graph.Ubo.interactedPairs(t).filter(col("cnt") >= 2).select("src", "dst")
    val local = Algorithms.cc(e2).as[(Long, Long)].collect().toMap
    val dist = gatesForced(Algorithms.cc(e2).as[(Long, Long)].collect().toMap)
    assert(local === dist)
  }

  test("hitsBounded: star graph concentrates authority on the center") {
    // 1,2,3 all point at 9: 9 is the sole authority (score 1 after 1-norm),
    // the three spokes are equal hubs (1/3 each), and the roles don't mix.
    val e = Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("src", "dst")
    val got = Algorithms.hitsBounded(e, 3).as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(math.abs(got(9L)._2 - 1.0) < 1e-12, "all authority on the center")
    assert(got(9L)._1 === 0.0, "the center points at nothing: zero hub")
    Seq(1L, 2L, 3L).foreach { u =>
      assert(math.abs(got(u)._1 - 1.0 / 3) < 1e-12, s"equal hub share for $u")
      assert(got(u)._2 === 0.0, s"nothing points at $u: zero auth")
    }
  }

  test("hitsBounded scores normalize to 1 and survive repartitioning") {
    val t = Tables(spark, sfDir)
    val e2 = Ubo.interactedPairs(t).filter(col("cnt") >= 2).select(col("src"), col("dst"))
    def run(e: org.apache.spark.sql.DataFrame) =
      Algorithms.hitsBounded(e, 2).as[(Long, Double, Double)].collect()
        .map(r => (r._1, (r._2 * 1e6).round, (r._3 * 1e6).round)).sortBy(_._1).toSeq
    val a = Algorithms.hitsBounded(e2, 2).agg(sum("hub"), sum("auth"))
      .as[(Double, Double)].head()
    assert(math.abs(a._1 - 1.0) < 1e-9 && math.abs(a._2 - 1.0) < 1e-9)
    assert(run(e2) === run(e2.repartition(13)), "rounded scores partition-invariant")
  }

  test("kCoreBounded peels pendants, keeps the clique, reaches a fixpoint") {
    // K4 {1,2,3,4} (3-core) + chain 4-5-6 that must peel off
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
                (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val got = Algorithms.kCoreBounded(e, 3, 4).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // fixpoint: extra rounds change nothing (peeling is monotone)
    val more = Algorithms.kCoreBounded(e, 3, 6).as[(Long, Long)].collect().toMap
    assert(more === got)
  }

  test("kCoreBounded at the graded round count has converged (one more round is a no-op)") {
    // guards the g23 calibration: if data or k ever change such that 4
    // rounds stop reaching the fixpoint, this fails rather than silently
    // grading an intermediate peel state (see kCoreBounded's caveat).
    val t = Tables(spark, sfDir)
    val e2 = Ubo.interactedPairs(t).filter(col("cnt") >= 2).select(col("src"), col("dst"))
    val r4 = Algorithms.kCoreBounded(e2, 14, 4).as[(Long, Long)].collect().toMap
    val r5 = Algorithms.kCoreBounded(e2, 14, 5).as[(Long, Long)].collect().toMap
    assert(r4 === r5)
    r4.foreach { case (id, deg) => assert(deg >= 14, s"non-core survivor $id (deg $deg)") }
  }

  test("kCoreBounded matches a driver-side peeling reimplementation") {
    val t = Tables(spark, sfDir)
    val e2 = Ubo.interactedPairs(t).filter(col("cnt") >= 2).select(col("src"), col("dst"))
    val got = Algorithms.kCoreBounded(e2, 5, 4).as[(Long, Long)].collect().toMap
    // independent recomputation: symmetrize, then 4 synchronous peel rounds
    val sym = e2.as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    var alive = sym.map(_._1).toSet
    for (_ <- 1 to 4) {
      val deg = sym.filter(p => alive(p._1) && alive(p._2)).groupBy(_._1).map { case (v, es) => v -> es.length }
      alive = deg.filter(_._2 >= 5).keySet
    }
    val expect = sym.filter(p => alive(p._1) && alive(p._2))
      .groupBy(_._1).map { case (v, es) => v -> es.length.toLong }
    assert(got === expect)
  }

  test("scc finds the cycle, leaves the tail trivial") {
    // 1->2->3->1 cycle, 3->4 tail
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val got = Algorithms.stronglyConnectedComponents(e).as[(Long, Long)].collect().toMap
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L)
    assert(got(4L) === 4L)
  }

  test("connectedComponentsStar matches GraphX CC (log-round twin)") {
    // long path (exercises the diameter-independence), two blobs, isolated edge
    val path = (100L until 140L).map(i => (i, i + 1))
    val e = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (7L, 8L), (9L, 10L)) ++ path)
      .toDF("src", "dst")
    val star = Algorithms.connectedComponentsStar(e).as[(Long, Long)].collect().toMap
    val gx = Algorithms.connectedComponents(e).as[(Long, Long)].collect().toMap
    assert(star === gx)
    // real-data cross-check on the full property graph
    val g = graft.graph.GraphBuilder(Tables(spark, sfDir))
    val star2 = Algorithms.connectedComponentsStar(g.edges).as[(Long, Long)].collect().toMap
    val gx2 = Algorithms.connectedComponents(g.edges).as[(Long, Long)].collect().toMap
    assert(star2 === gx2)
  }

  test("sccTarjan matches GraphX SCC (extract-then-analyze tier)") {
    // two cycles bridged by a one-way edge, plus a tail and a long path
    // (the path exercises the iterative DFS's deep-stack handling)
    val path = (100L until 160L).map(i => (i, i + 1))
    val e = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L),
      (5L, 6L)) ++ path).toDF("src", "dst")
    val tj = Algorithms.sccTarjan(e).as[(Long, Long)].collect().toMap
    val gx = Algorithms.stronglyConnectedComponents(e).as[(Long, Long)].collect().toMap
    assert(tj === gx)
    // real-data cross-check on the strong user graph
    val e2 = Ubo.interactedPairs(Tables(spark, sfDir)).filter(col("cnt") >= 2)
      .select("src", "dst")
    val tj2 = Algorithms.sccTarjan(e2).as[(Long, Long)].collect().toMap
    val gx2 = Algorithms.stronglyConnectedComponents(e2).as[(Long, Long)].collect().toMap
    assert(tj2 === gx2)
  }

  test("g07_cc_full contraction yields the uncontracted component histogram") {
    val contracted = graft.graph.GraphQueries.queries("g07_cc_full")(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    val g = graft.graph.GraphBuilder(Tables(spark, sfDir))
    val plain = Algorithms.connectedComponents(g.edges)
      .groupBy("component").count().as[(Long, Long)].collect().toMap
    assert(contracted === plain)
  }

  test("g17 triangle counts match GraphX TriangleCount") {
    val q = graft.graph.GraphQueries.queries("g17_triangles")
    val df = q(spark, sfDir).as[(Long, Long)].collect().toMap
    val e2 = Ubo.interactedPairs(Tables(spark, sfDir)).filter(col("cnt") >= 2)
      .select("src", "dst")
    val erdd = e2.rdd.map(r =>
      org.apache.spark.graphx.Edge(r.getLong(0), r.getLong(1), 1.0))
    val gx = org.apache.spark.graphx.Graph.fromEdges(erdd, 0)
      .triangleCount().vertices.filter(_._2 > 0).collect().toMap
      .map { case (k, v) => (k, v.toLong) }
    assert(df === gx)
  }

  test("scc tier selector: both tiers produce identical components") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L))
      .toDF("src", "dst")
    val local = Algorithms.scc(e).as[(Long, Long)].collect().toMap
    val forced = gatesForced(Algorithms.scc(e).as[(Long, Long)].collect().toMap)
    assert(local === forced, "local Tarjan tier and GraphX tier must agree")
  }

  /** The GraphX oracle for [[Algorithms.boundedSssp]] and [[Algorithms.sssp]]:
    * weighted single-source shortest paths as Pregel min-plus, relaxing
    * until no message fires. Edges (src, dst, weight); returns (id, dist). */
  private def ssspGraphX(edges: org.apache.spark.sql.DataFrame, source: Long) = {
    import org.apache.spark.graphx.{Edge, Graph}
    val g = Graph.fromEdges(edges.select(col("src"), col("dst"), col("weight")).rdd
        .map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2))), 0)
      .mapVertices((id, _) => if (id == source) 0.0 else Double.PositiveInfinity)
    g.pregel(Double.PositiveInfinity)(
        (_, d, msg) => math.min(d, msg),
        t => if (t.srcAttr + t.attr < t.dstAttr) Iterator((t.dstId, t.srcAttr + t.attr))
             else Iterator.empty,
        (a, b) => math.min(a, b))
      .vertices.filter(_._2 < Double.PositiveInfinity)
      .toDF("id", "dist")
  }

  test("ssspGraphX equals boundedSssp when rounds cover the diameter") {
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 5.0), (3L, 4L, 1.0))
      .toDF("src", "dst", "weight")
    val viaGraphX = ssspGraphX(e, 1L).as[(Long, Double)].collect().toMap
    val viaDf = Algorithms.boundedSssp(e.withColumnRenamed("weight", "cost"), 1L, 4)
      .as[(Long, Double)].collect().toMap
    assert(viaGraphX === Map(1L -> 0.0, 2L -> 1.0, 3L -> 3.0, 4L -> 4.0))
    assert(viaDf === viaGraphX)
  }

  test("sssp to its fixpoint equals GraphX Pregel min-plus bitwise on the g04b cost graph") {
    val t = Tables(spark, sfDir)
    val ce = Ubo.interactedPairs(t).filter(col("cnt") >= 2)
      .select(col("src"), col("dst"), (lit(1.0) / col("cnt").cast("double")).as("cost"))
    val got = Algorithms.sssp(ce, GraphBuilder.UserBase, 40).as[(Long, Double)].collect().toMap
    val gx = ssspGraphX(ce.withColumnRenamed("cost", "weight"), GraphBuilder.UserBase)
      .as[(Long, Double)].collect().toMap
    assert(got.size > 1, "the source reaches nothing: the comparison would show nothing")
    assert(got.keySet === gx.keySet)
    got.foreach { case (id, d) =>
      assert(java.lang.Double.doubleToLongBits(d) === java.lang.Double.doubleToLongBits(gx(id)),
        s"node $id: $d vs ${gx(id)}")
    }
  }

  test("pageRankBounded: sink fed by all nodes ranks highest") {
    // star into 9: everyone points at 9
    val e = (1L to 8L).map(i => (i, 9L, 1.0)).toDF("src", "dst", "weight")
    val pr = Algorithms.pageRankBounded(e, 5).as[(Long, Double)].collect().toMap
    assert(pr(9L) > pr(1L) * 5)
    assert((1L to 8L).map(pr).toSet.size === 1) // symmetric sources tie exactly
  }

  test("betweennessSampled: middle of a path carries the load") {
    // undirected path 1-2-3
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Algorithms.betweennessSampled(Traversals.symmetrize(e), 3)
      .as[(Long, Double)].collect().toMap
    assert(got(2L) === 2.0) // (1,3) and (3,1) shortest paths pass through 2
    assert(got.getOrElse(1L, 0.0) === 0.0 && got.getOrElse(3L, 0.0) === 0.0)
  }

  test("pageRankGraphX agrees with pageRankBounded on uniform weights") {
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val outDeg = raw.groupBy("src").agg(count(lit(1)).as("n"))
    val weighted = raw.join(outDeg, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("n")).as("weight"))
    val iters = 20
    val gx = Algorithms.pageRankGraphX(raw, iters).as[(Long, Double)].collect().toMap
    val df = Algorithms.pageRankBounded(weighted, iters).as[(Long, Double)].collect().toMap
    gx.foreach { case (id, v) => assert(math.abs(v - df(id)) < 1e-4, s"node $id: $v vs ${df(id)}") }
  }
}

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  test("snapshot applies full interval semantics when valid_to is present") {
    val ts = (x: String) => java.sql.Timestamp.valueOf(x)
    val edges = Seq(
      (1L, 2L, "E", 1.0, ts("1995-01-01 00:00:00"), ts("1998-01-01 00:00:00")), // active
      (2L, 3L, "E", 1.0, ts("1995-01-01 00:00:00"), ts("1996-01-01 00:00:00")), // expired
      (3L, 4L, "E", 1.0, ts("1999-01-01 00:00:00"), null.asInstanceOf[java.sql.Timestamp]), // not yet
      (4L, 5L, "E", 1.0, null.asInstanceOf[java.sql.Timestamp], null.asInstanceOf[java.sql.Timestamp]) // always
    ).toDF("src", "dst", "rel_type", "weight", "valid_from", "valid_to")
    val g = graft.graph.PropertyGraph(Seq((1L, "n", "x")).toDF("id", "label", "name"), edges)
    val at = org.apache.spark.sql.functions.lit("1997-06-01 00:00:00").cast("timestamp")
    val live = g.snapshot(at).edges.select("src").as[Long].collect().toSet
    assert(live === Set(1L, 4L))
    // boundary semantics: valid_to is EXCLUSIVE, valid_from inclusive
    val atEnd = org.apache.spark.sql.functions.lit("1998-01-01 00:00:00").cast("timestamp")
    assert(!g.snapshot(atEnd).edges.select("src").as[Long].collect().contains(1L))
  }

  test("snapshot without a valid_to column filters on valid_from only (driver graph)") {
    val g = graft.graph.GraphBuilder(Tables(spark, sfDir))
    val at = org.apache.spark.sql.functions.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    val n = g.snapshot(at).edges.count()
    assert(n > 0 && n < g.edges.count())
  }
}

class UboSpec extends SparkSpec {
  import spark.implicits._

  test("propagate sums parallel paths (diamond)") {
    // owner 1 -> {2: 0.6, 3: 0.4}; 2 -> 4: 1.0; 3 -> 4: 1.0
    val e = Seq((1L, 2L, 0.6), (1L, 3L, 0.4), (2L, 4L, 1.0), (3L, 4L, 1.0))
      .toDF("src", "dst", "weight")
    val init = Seq((1L, 1L, 1.0)).toDF("owner", "entity", "share")
    val got = Ubo.propagate(e, init, 2).as[(Long, Long, Double)].collect()
    assert(got.toSeq === Seq((1L, 4L, 1.0))) // 0.6*1 + 0.4*1, summed over paths
  }

  test("propagate is depth-capped on cycles") {
    val e = Seq((1L, 2L, 1.0), (2L, 1L, 1.0)).toDF("src", "dst", "weight")
    val init = Seq((1L, 1L, 1.0)).toDF("owner", "entity", "share")
    val got = Ubo.propagate(e, init, 5).as[(Long, Long, Double)].collect()
    assert(got.toSeq === Seq((1L, 2L, 1.0))) // odd steps land on 2; terminates
  }

  test("regulatory >=25% owner threshold fires on a concentrated fixture (g03_ubo_owners path)") {
    // Two owners of holding 10 (60/40); 10 owns 50% of target 100, plus
    // owner 2 holds 10% of 100 directly. Propagated shares into 100:
    //   owner 1: 0.6*0.5            = 0.30  (flagged at 25%)
    //   owner 2: 0.4*0.5 + 0.1*1.0  = 0.30 via two layers — but the direct
    //     10% edge enters at layer 2 only if present there; keep it simple:
    //     owner 2: 0.4*0.5 = 0.20   (below threshold)
    val e = Seq((1L, 10L, 0.6), (2L, 10L, 0.4), (10L, 100L, 0.5))
      .toDF("src", "dst", "weight")
    val init = Seq((1L, 1L, 1.0), (2L, 2L, 1.0)).toDF("owner", "entity", "share")
    val owners = Ubo.propagate(e, init, 2)
      .filter(col("entity") === 100L && round(col("share"), 6) >= 0.25)
      .select("owner").as[Long].collect().toSeq
    assert(owners === Seq(1L), s"expected exactly owner 1 flagged, got $owners")
  }

  test("ubo edge weights are out-normalized (sum to 1 per source)") {
    val t = Tables(spark, sfDir)
    val sums = Ubo.uboEdges(t).groupBy("src").agg(sum("weight").as("s"))
      .select("s").as[Double].collect()
    assert(sums.forall(s => math.abs(s - 1.0) < 1e-9))
  }
}

class ApproxSpec extends SparkSpec {
  test("approx_percentile tracks exact percentile within tolerance") {
    val row = Tables(spark, sfDir).lineitem.agg(
      expr("approx_percentile(l_quantity, 0.5, 10000)").as("a"),
      expr("percentile(l_quantity, 0.5)").as("e")).head()
    val (a, e) = (row.getDouble(0), row.getDouble(1))
    // quantities are integral 1..50: at accuracy 10000 the sketch lands on
    // an adjacent rank at worst
    assert(math.abs(a - e) <= 1.0, s"approx p50 $a vs exact $e")
  }

  test("r27b calibration: sketch percentile equals the exact discrete quantile at every graded sf") {
    // the g10/g23-style loud guard behind r27b's quantile_disc oracle: the
    // value-granularity argument (integral 1..50 quantities vs ±n/20000
    // rank error) must hold on the actual data — approx must EQUAL the
    // exact discrete quantile, per group, at every sf the driver grades
    import org.apache.spark.sql.Row
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val li = Tables(spark, s"/root/testdata/$sf").lineitem
      val approx = li.groupBy(col("l_returnflag")).agg(
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("p50"),
          expr("approx_percentile(l_quantity, 0.9, 10000)").as("p90"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val groups = li.select(col("l_returnflag"), col("l_quantity"))
        .collect().groupBy(_.getString(0))
      groups.foreach { case (flag, rows) =>
        val sorted = rows.map(_.getDouble(1)).sorted
        def qdisc(q: Double) = sorted(math.ceil(q * sorted.length).toInt - 1)
        assert(approx(flag)._1 === qdisc(0.5), s"$sf/$flag p50 sketch drifted off the exact value")
        assert(approx(flag)._2 === qdisc(0.9), s"$sf/$flag p90 sketch drifted off the exact value")
      }
      // the GRADED output now carries the bound as rel_err columns — read
      // them from the query itself, not a re-derivation
      val errs = graft.SparkEntry.queries("r27b_approx_percentile")(spark, s"/root/testdata/$sf")
        .select("rel_err_p50", "rel_err_p90").collect()
      assert(errs.nonEmpty)
      errs.foreach { r =>
        assert(r.getDouble(0) === 0.0 && r.getDouble(1) === 0.0,
          s"$sf: graded rel_err columns must witness sketch == exact, got $r")
      }
    }
  }

  test("approx_count_distinct is within its error bound") {
    val l = Tables(spark, sfDir).lineitem
    val row = l.agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("a"),
      countDistinct(col("l_partkey")).as("e")).head()
    val (a, e) = (row.getLong(0), row.getLong(1))
    assert(math.abs(a - e).toDouble / e < 0.1, s"approx $a vs exact $e")
    // The graded r11 form emits the 3·rsd bound as a 1/0 column (round-8
    // hash-check conversion) — it must be 1 here or the oracle goes red.
    val graded = graft.rel.RelQueries.queries("r11_approx_count_distinct")(spark, sfDir).head()
    assert(graded.getLong(graded.fieldIndex("within_3rsd")) == 1L)
  }

  test("MAD outlier gate matches a driver-side robust recompute and is non-vacuous") {
    val got = graft.rel.RelQueries.queries("r41_mad_outliers")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(got.nonEmpty)
    // linear-interpolated quantile at rank (n-1)*q — the percentile /
    // quantile_cont convention both engines share (r27 precedent)
    def qcont(sorted: Array[Double], q: Double): Double = {
      val pos = (sorted.length - 1) * q
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      val g = pos - lo
      sorted(lo) * (1 - g) + sorted(hi) * g
    }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val rows = Tables(spark, sfDir).events
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    rows.groupBy(_._1).foreach { case (et, vs) =>
      val xs = vs.map(_._2)
      val med = qcont(xs.sorted, 0.5)
      val devs = xs.map(x => math.abs(x - med))
      val mad = qcont(devs.sorted, 0.5)
      val outliers = devs.count(_ > 3.0 * mad).toLong
      val (gn, gmed, gmad, gout) = got(et)
      assert(gn === xs.length.toLong, s"$et n")
      assert(math.abs(gmed - r6(med)) < 2e-6, s"$et median")
      assert(math.abs(gmad - r6(mad)) < 2e-6, s"$et MAD")
      assert(gout === outliers, s"$et outlier count")
    }
    // the gate must bite on real data (a threshold nothing crosses is noise)
    assert(got.values.exists(_._4 > 0), "no group has any 3-MAD outlier")
  }
}

class KTrussSpec extends SparkSpec {
  import spark.implicits._

  test("kTrussBounded keeps the clique with exact support, peels the tail") {
    // K4 {1,2,3,4}: every edge closes 2 triangles -> 4-truss survives;
    // the 4-5-6 chain closes none and must peel in round one.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
                (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val got = Algorithms.kTrussBounded(e, 4, 3)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(got === k4.map(_ -> 2L).toMap)
  }

  test("kTrussBounded at the graded round count has converged (one more round is a no-op)") {
    // guards the g26 calibration, same posture as the g23 guard above
    val t = Tables(spark, sfDir)
    val e2 = Ubo.interactedPairs(t).filter(col("cnt") >= 2).select(col("src"), col("dst"))
    def run(r: Int) = Algorithms.kTrussBounded(e2, 5, r)
      .as[(Long, Long, Long)].collect().map(x => (x._1, x._2) -> x._3).toMap
    val r10 = run(10)
    assert(r10 === run(11))
    r10.foreach { case (e, s) => assert(s >= 3, s"under-supported edge $e (sup $s)") }
  }

  test("kTrussBounded matches a driver-side peeling reimplementation") {
    val t = Tables(spark, sfDir)
    val e2 = Ubo.interactedPairs(t).filter(col("cnt") >= 2).select(col("src"), col("dst"))
    val got = Algorithms.kTrussBounded(e2, 4, 6)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val sym = e2.as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    var ed = sym.filter(p => p._1 < p._2).toSet
    def support(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = es.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      es.toSeq.map { case (a, b) => (a, b) -> (adj(a) & adj(b)).size.toLong }.toMap
    }
    for (_ <- 1 to 6) { val s = support(ed); ed = ed.filter(e => s(e) >= 2) }
    assert(got === support(ed).filter { case (e, _) => ed(e) })
  }

  test("harmonicKHop: exact values on a star and on a path") {
    // star 0-{1,2,3,4}: center sees 4 at dist 1; each leaf sees the
    // center at 1 and the other 3 leaves at 2
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val gs = Algorithms.harmonicKHop(star, 3)
      .select("id", "harmonic").as[(Long, Double)].collect().toMap
    assert(gs(0L) === 4.0)
    (1L to 4L).foreach(l => assert(gs(l) === 1.0 + 3.0 / 2.0, s"leaf $l"))
    // path 1-2-3-4-5, k=3: end nodes reach 3 of 4; middle reaches all
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val gp = Algorithms.harmonicKHop(path, 3)
      .select("id", "harmonic").as[(Long, Double)].collect().toMap
    assert(gp(1L) === math.floor((1.0 + 0.5 + 1.0 / 3.0) * 1e6 + 0.5) / 1e6)
    assert(gp(3L) === 2.0 + 2.0 / 2.0)
  }

  test("simrank matches a driver-side reimplementation of two iterations") {
    val got = GraphQueries.queries("g32_simrank")(spark, sfDir)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got.nonEmpty)
    // rebuild the drill-down subgraph exactly as the query does
    val e2 = Ubo.interactedPairs(Tables(spark, sfDir)).filter(col("cnt") >= 2)
      .select("src", "dst").as[(Long, Long)].collect()
    val sub = e2.flatMap(e => Seq(e._1, e._2)).distinct.sorted.take(60).toSet
    val es = e2.filter(e => sub(e._1) && sub(e._2)).distinct
    val ins = es.groupBy(_._2).map { case (v, xs) => v -> xs.map(_._1).toSet }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val C = 0.8
    def s1(a: Long, b: Long): Double = {
      val (ia, ib) = (ins.getOrElse(a, Set.empty), ins.getOrElse(b, Set.empty))
      if (ia.isEmpty || ib.isEmpty) 0.0 else C * (ia & ib).size / (ia.size.toDouble * ib.size)
    }
    got.foreach { case ((a, b), (g1, g2)) =>
      val (ia, ib) = (ins(a), ins(b))
      assert((ia & ib).nonEmpty, "membership must be support-gated")
      assert(math.abs(g1 - r6(s1(a, b))) < 2e-6, s"s1($a,$b)")
      val cross = (for { u <- ia.toSeq; v <- ib.toSeq }
        yield if (u == v) 1.0 else s1(math.min(u, v), math.max(u, v))).sum
      assert(math.abs(g2 - C * cross / (ia.size.toDouble * ib.size)) < 2e-6, s"s2($a,$b)")
      assert(g2 <= 0.8 + 1e-9 && g2 > 0.0)
    }
  }

  test("random walks are valid paths on the graph and stable across runs") {
    val t = Tables(spark, sfDir)
    val sym = graft.graph.Traversals.symmetrize(
        Ubo.interactedPairs(t).filter(col("cnt") >= 2).select(col("src"), col("dst")))
      .distinct().as[(Long, Long)].collect().toSet
    val walks = GraphQueries.queries("g28_random_walks")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(walks.nonEmpty)
    walks.foreach { case (s0, n1, n2, n3) =>
      assert(sym((s0, n1)) && sym((n1, n2)) && sym((n2, n3)),
        s"walk $s0->$n1->$n2->$n3 must follow edges")
    }
    val again = GraphQueries.queries("g28_random_walks")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(walks.toSeq === again.toSeq, "walks must be deterministic")
  }

  test("modularity matches a driver-side recompute over the g18 partition") {
    val rows = GraphQueries.queries("g33_modularity")(spark, sfDir)
      .as[(Long, Long, Long, Long, Double)].collect()
    val (totalRows, perRows) = rows.partition(_._1 == -1L)
    assert(totalRows.length === 1, "exactly one community = -1 total row")
    assert(perRows.nonEmpty)
    // recompute from the same single-sourced communities + sym edges
    val t = Tables(spark, sfDir)
    val e2 = Ubo.interactedPairs(t).filter(col("cnt") >= 2)
      .select("src", "dst")
    val sym = Traversals.symmetrize(e2).distinct()
      .as[(Long, Long)].collect()
    val lab = Algorithms.labelPropagation(e2, 3)
      .as[(Long, Long)].collect().toMap
    val m2 = sym.length.toDouble
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val byC = sym.groupBy(e => lab(e._1))
    perRows.foreach { case (c, nNodes, vol, internal, dq) =>
      val es = byC(c)
      assert(vol === es.length.toLong, s"community $c volume")
      assert(internal === es.count(e => lab(e._2) == c).toLong, s"community $c internal")
      assert(nNodes === lab.count(_._2 == c).toLong, s"community $c size")
      assert(dq === r6(internal / m2 - (vol / m2) * (vol / m2)), s"community $c dq")
    }
    // the total row folds the per-community terms; Q bounded by definition
    val q = totalRows.head._5
    assert(math.abs(q - perRows.map(r => r._4 / m2 - (r._3 / m2) * (r._3 / m2)).sum) < 2e-6)
    assert(q >= -0.5 && q <= 1.0, s"modularity $q out of range")
    assert(totalRows.head._3 === sym.length.toLong, "total volume = |sym|")
  }

  test("temporal reach matches a driver-side earliest-arrival relaxation") {
    val got = GraphQueries.queries("g34_temporal_reach")(spark, sfDir)
      .as[(Long, java.sql.Timestamp)].collect().toMap
    assert(got.nonEmpty)
    val g = graft.graph.GraphBuilder(Tables(spark, sfDir))
    val dated = g.edges.filter(col("valid_from").isNotNull)
      .select("src", "dst", "valid_from")
      .as[(Long, Long, java.sql.Timestamp)].collect()
    val sentinel = java.sql.Timestamp.valueOf("1990-01-01 00:00:00")
    val start = g.edgesOf("LOCATED_IN")
      .filter(col("dst") === graft.graph.GraphBuilder.NationBase)
      .select("src").as[Long].collect().toSet
    var ea: Map[Long, java.sql.Timestamp] = start.map(_ -> sentinel).toMap
    for (_ <- 1 to 3) {
      val relaxed = dated.flatMap { case (s0, d0, vf) =>
        ea.get(s0).filter(a => !vf.before(a)).map(_ => d0 -> vf)
      }
      ea = (ea.toSeq ++ relaxed).groupBy(_._1).view
        .mapValues(_.map(_._2).minBy(_.getTime)).toMap
    }
    assert(got === ea, "earliest-arrival map must match the 3-round relaxation")
    // monotonicity is real: some snapshot-reachable node must be temporally
    // unreachable (a path exists but uses time-decreasing edges) OR arrival
    // strictly after the first hop — assert the constraint actually bit
    assert(got.values.exists(_ != sentinel), "some node reached via dated hops")
  }

  test("temporal relay motifs match a driver-side window count") {
    val got = GraphQueries.queries("g35_temporal_motif")(spark, sfDir)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.nonEmpty)
    val edges = graft.graph.GraphBuilder(Tables(spark, sfDir))
      .edgesOf("INTERACTED")
      .select("src", "dst", "valid_from")
      .as[(Long, Long, java.sql.Timestamp)].collect()
    // Instant comparison: the data is µs-precision, Timestamp.getTime is
    // ms-truncated — a ms-grid recompute could misjudge the window edge
    def inWindow(t1: java.sql.Timestamp, t2: java.sql.Timestamp): Boolean = {
      val (i1, i2) = (t1.toInstant, t2.toInstant)
      !i2.isBefore(i1) && !i2.isAfter(i1.plusSeconds(3600))
    }
    val expect = (for {
      (u, v, t1) <- edges; (v2, w, t2) <- edges
      if v2 == v && u != w && inWindow(t1, t2)
    } yield (v, u, w)).groupBy(_._1).map { case (v, ms) =>
      v -> (ms.length.toLong, ms.map(m => (m._2, m._3)).distinct.length.toLong)
    }
    assert(got === expect)
    // the window constraint must exclude something: relays without the
    // 1h bound would be strictly more numerous
    val unbounded = (for {
      (u, v, t1) <- edges; (v2, w, t2) <- edges
      if v2 == v && u != w && !t2.toInstant.isBefore(t1.toInstant)
    } yield v).length
    assert(unbounded > expect.values.map(_._1).sum, "Δ-window must prune")
  }
}
