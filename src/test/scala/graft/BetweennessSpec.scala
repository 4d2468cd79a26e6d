package graft

import org.apache.spark.sql.functions._
import graft.graph.{Algorithms, Traversals, Ubo}

/** G10 verification (VERDICT r5 asked for stronger anchors here):
  *
  *  1. an INDEPENDENT reimplementation — the pair-dependency formulation
  *     sigma_st(v) = sigma_sv * sigma_vt when d(s,v) + d(v,t) = d(s,t),
  *     which shares no code shape with Brandes' backward accumulation —
  *     checked against both tiers;
  *  2. cross-tier equality (local collect vs distributed dataflow) on
  *     crafted graphs and on the graded g10 subgraph;
  *  3. the gate itself: forcing the gates selects the distributed tier
  *     and the result must not change.
  */
class BetweennessSpec extends SparkSpec {
  import spark.implicits._

  /** Pair-dependency betweenness, straight from the definition. BFS gives
    * d and sigma from every node; then for every ordered pair (s, t) and
    * interior node v: delta += sigma_sv * sigma_vt / sigma_st when the
    * distances witness v on a shortest s→t path. Only sources in
    * `sources` accumulate (matching the sampled contract); the returned
    * map covers every node reached from a sampled source.
    */
  private def pairDependency(edges: Seq[(Long, Long)], nSources: Int): Map[Long, Double] = {
    val adj = edges.distinct.groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    def bfs(s: Long): (Map[Long, Int], Map[Long, Double]) = {
      var dist = Map(s -> 0)
      var sigma = Map(s -> 1.0).withDefaultValue(0.0)
      var frontier = List(s)
      while (frontier.nonEmpty) {
        val next = scala.collection.mutable.LinkedHashSet[Long]()
        for (u <- frontier; v <- adj.getOrElse(u, Seq.empty)) {
          if (!dist.contains(v)) { dist += (v -> (dist(u) + 1)); next += v }
          if (dist(v) == dist(u) + 1) sigma += (v -> (sigma(v) + sigma(u)))
        }
        frontier = next.toList
      }
      (dist, sigma)
    }
    val all = nodes.map(n => n -> bfs(n)).toMap
    val sources = nodes.take(nSources)
    val out = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
    for (s <- sources) {
      val (ds, ss) = all(s)
      for (w <- ds.keys if w != s) out(w) += 0.0 // reached row set, even if delta stays 0
      for (t <- ds.keys if t != s; v <- ds.keys if v != s && v != t) {
        val (dv, sv) = all(v)
        if (dv.contains(t) && ds(v) + dv(t) == ds(t))
          out(v) += ss(v) * sv(t) / ss(t)
      }
    }
    out.toMap
  }

  private def tiersOn(edges: Seq[(Long, Long)], nSources: Int): (Map[Long, Double], Map[Long, Double]) = {
    val df = edges.toDF("src", "dst")
    val local = Algorithms.betweennessLocal(df, nSources)
      .as[(Long, Double)].collect().toMap
    val dist = Algorithms.betweennessDistributed(df, nSources)
      .as[(Long, Double)].collect().toMap
    (local, dist)
  }

  private def assertClose(a: Map[Long, Double], b: Map[Long, Double]): Unit = {
    assert(a.keySet === b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-9, s"node $k: $v vs ${b(k)}") }
  }

  test("both tiers match the pair-dependency definition on a diamond + tail") {
    //    1 → 2 → 4 → 5 → 6
    //    1 → 3 → 4          (two shortest 1→4 paths; 4 carries the tail)
    val raw = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L))
    val edges = raw.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val expect = pairDependency(edges, 6)
    val (local, dist) = tiersOn(edges, 6)
    assertClose(local, expect)
    assertClose(dist, expect)
  }

  test("both tiers match the pair-dependency definition on a directed graph with unequal path counts") {
    // directed: multiple shortest-path multiplicities through 3 and 4
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 5L), (3L, 4L), (2L, 4L),
      (4L, 5L), (5L, 6L), (3L, 6L), (6L, 7L), (4L, 7L))
    val expect = pairDependency(edges, 7)
    val (local, dist) = tiersOn(edges, 7)
    assertClose(local, expect)
    assertClose(dist, expect)
  }

  test("sampling fewer sources than nodes: tiers agree and sample is the lowest ids") {
    val edges = Seq((10L, 20L), (20L, 30L), (30L, 40L), (40L, 10L), (20L, 40L))
    val expect = pairDependency(edges, 2)
    val (local, dist) = tiersOn(edges, 2)
    assertClose(local, expect)
    assertClose(dist, expect)
  }

  test("property: both tiers match the pair-dependency definition on random graphs") {
    // raw ScalaCheck with fixed seeds (PropertySpec convention — the
    // scalatest bridge isn't on the offline classpath); 3 cases, each
    // runs the full distributed BFS + accumulation
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(12, for {
      a <- Gen.choose(1L, 8L); b <- Gen.choose(1L, 8L) if a != b
    } yield (a, b)).suchThat(_.nonEmpty)
    val cs = (1 to 3).flatMap(i => gen.apply(Gen.Parameters.default, Seed(1006L + i)))
    assert(cs.nonEmpty, "generator produced no cases — property would pass vacuously")
    cs.foreach { es =>
      val expect = pairDependency(es, 8)
      val (local, dist) = tiersOn(es, 8)
      assertClose(local, expect)
      assertClose(dist, expect)
    }
  }

  test("degenerate graphs: empty output, no crash, on both tiers") {
    // star out of 1: no interior nodes → every dependency is 0 but every
    // reached node still gets a row; single edge → both endpoints' rows
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val expect = pairDependency(star, 4)
    val (local, dist) = tiersOn(star, 4)
    assertClose(local, expect)
    assertClose(dist, expect)
    assert(expect.values.forall(_ == 0.0))
    // sources with no out-edges reach nothing: only 2 can be a source
    // with out-degree > 0 here, and it reaches only 1
    val sink = Seq((2L, 1L))
    val (l2, d2) = tiersOn(sink, 2)
    assertClose(l2, pairDependency(sink, 2))
    assertClose(d2, l2)
  }

  test("g10 oracle calibration: BFS depth fits the 16 unrolled levels at every graded sf") {
    // the unrolled brandesSql oracle has exactly 16 forward/backward level
    // CTEs — this is the loud-failure guard the g10 comment promises
    // (measured ecc: 1 / 3 / 15 at sf0.001/0.01/0.1). The graded
    // subgraphs are tiny, so the guard measures per-source eccentricity
    // with a driver-side BFS (milliseconds) rather than re-running the
    // full distributed supersteps on every test invocation.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val t = Tables(spark, s"/root/testdata/$sf")
      val e2 = Ubo.interactedPairs(t).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      val es = Traversals.symmetrize(e2).as[(Long, Long)].collect()
      val adj = es.groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
      val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
      val maxEcc = nodes.take(16).map { s =>
        var dist = Map(s -> 0)
        var frontier = List(s)
        var d = 0
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(u => adj.getOrElse(u, Array.empty[Long]))
            .filterNot(dist.contains).distinct
          if (next.nonEmpty) { d += 1; dist ++= next.map(_ -> d) }
          frontier = next
        }
        d
      }.max
      assert(maxEcc <= 16, s"$sf per-source eccentricity $maxEcc exceeds the 16 unrolled oracle levels")
      assert(nodes.nonEmpty)
    }
  }

  test("gate: forcing the distributed tier on the graded g10 subgraph changes nothing") {
    val e2 = Ubo.interactedPairs(Tables(spark, sfDir)).filter(col("cnt") >= 2)
      .select(col("src"), col("dst"))
    val sym = Traversals.symmetrize(e2)
    val viaGate = Algorithms.betweennessSampled(sym, 16) // small graph → local tier
      .as[(Long, Double)].collect().toMap
    val forced = gatesForced(Algorithms.betweennessSampled(sym, 16) // → distributed tier
      .as[(Long, Double)].collect().toMap)
    assertClose(viaGate, forced)
    assert(viaGate.nonEmpty)
  }
}
