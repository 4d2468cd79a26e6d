package graft

import org.apache.spark.sql.functions._

/** Pins Traversals.connectionDistance's contract on fixtures a hash can't
  * argue from: exactness up to 2·radius, the −1 beyond-bound report, the
  * per-dist-band meeting-node window, and undirectedness.
  */
class ConnectionSpec extends SparkSpec {
  import spark.implicits._

  private def conn(edges: Seq[(Long, Long)], pairs: Seq[(Long, Long)], radius: Int = 2) =
    graph.Traversals.connectionDistance(
        edges.toDF("src", "dst"), pairs.toDF("s_id", "t_id"), radius)
      .collect()
      .map(r => (r.getAs[Long]("s_id"), r.getAs[Long]("t_id")) ->
        (r.getAs[Long]("dist"), r.getAs[Long]("n_meet"), r.getAs[Long]("meet_min")))
      .toMap

  test("exact distances up to 2·radius; beyond-bound pairs report -1/0/-1") {
    // chain 1-2-3-4-5-6 (directed edges; search must treat them undirected)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val out = conn(chain, Seq((1L, 5L), (1L, 6L), (5L, 1L), (2L, 2L)))
    // dist 4 = the radius-2 bound: the only node BOTH cones see is the
    // exact midpoint 3
    assert(out((1L, 5L)) === ((4L, 1L, 3L)))
    // dist 5 exceeds the bound
    assert(out((1L, 6L)) === ((-1L, 0L, -1L)))
    // undirected: reversed pair gives the same distance and midpoint
    assert(out((5L, 1L)) === ((4L, 1L, 3L)))
    // degenerate self-pair: distance 0, the node itself is the meet
    assert(out((2L, 2L))._1 === 0L)
  }

  test("n_meet is the shortest-path node set both cones see (widens as dist shrinks)") {
    // diamond 10-11-13 / 10-12-13: at dist 2 every shortest-path node
    // (both endpoints + both middles) sits inside both radius-2 cones
    val diamond = Seq((10L, 11L), (10L, 12L), (11L, 13L), (12L, 13L))
    val out = conn(diamond, Seq((10L, 13L)))
    assert(out((10L, 13L)) === ((2L, 4L, 10L)),
      "dist-2 meets must include endpoints and both parallel middles")
    // same diamond stretched to dist 4 (each arm subdivided): only the two
    // parallel midpoints are visible to both cones — width without endpoints
    val stretched = Seq((10L, 21L), (21L, 11L), (11L, 22L), (22L, 13L),
      (10L, 23L), (23L, 12L), (12L, 24L), (24L, 13L))
    val out4 = conn(stretched, Seq((10L, 13L)))
    assert(out4((10L, 13L)) === ((4L, 2L, 11L)),
      "dist-4 meets must be exactly the parallel midpoints")
  }

  test("connectionPaths: canonical witness paths; beyond-bound pairs report '-'") {
    def paths(edges: Seq[(Long, Long)], pairs: Seq[(Long, Long)]) =
      graph.Traversals.connectionPaths(
          edges.toDF("src", "dst"), pairs.toDF("s_id", "t_id"), 2)
        .collect()
        .map(r => (r.getAs[Long]("s_id"), r.getAs[Long]("t_id")) ->
          (r.getAs[Long]("dist"), r.getAs[String]("path_str")))
        .toMap
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val out = paths(chain, Seq((1L, 5L), (1L, 6L)))
    assert(out((1L, 5L)) === ((4L, "1->2->3->4->5")))
    assert(out((1L, 6L)) === ((-1L, "-")))
    // diamond: min-parent canonicality must pick the 11 arm, never 12
    val diamond = Seq((10L, 11L), (10L, 12L), (11L, 13L), (12L, 13L))
    assert(paths(diamond, Seq((10L, 13L)))((10L, 13L)) === ((2L, "10->11->13")))
  }

  test("graded g58 paths are real walks consistent with g57's distances") {
    val dists = SparkEntry.queries("g57_connection")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("s_id"), r.getAs[Long]("t_id")) -> r.getAs[Long]("dist"))
      .toMap
    val edges = graph.GraphBuilder.edges(Tables(spark, sfDir))
      .filter(col("rel_type").isin("PLACED", "CONTAINS", "SUPPLIED_BY"))
      .select("src", "dst").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))).toSet
    val rows = SparkEntry.queries("g58_connection_path")(spark, sfDir).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val (s, t) = (r.getAs[Long]("s_id"), r.getAs[Long]("t_id"))
      val dist = r.getAs[Long]("dist")
      assert(dist === dists((s, t)), "g58 distance diverged from g57")
      val nodes = r.getAs[String]("path_str").split("->").map(_.toLong)
      assert(nodes.length.toLong === dist + 1, s"path node count != dist+1 for ($s,$t)")
      assert(nodes.head === s && nodes.last === t, s"path endpoints wrong for ($s,$t)")
      nodes.sliding(2).foreach { hop =>
        assert(edges.contains((hop(0), hop(1))),
          s"($s,$t): path hop ${hop(0)}->${hop(1)} is not a real edge")
      }
    }
  }

  test("strongestConnections: meet-max finds the strongest chain even when it is NOT a shortest chain") {
    // direct edge 1-3 at 0.1 vs the detour 1-2-3 at 0.9·0.9 = 0.81: hop
    // distance says 1, strength says the 2-hop chain — the fixture the
    // VERDICT r11 #1 "done" clause names
    val e = Seq((1L, 3L, 0.1), (1L, 2L, 0.9), (2L, 3L, 0.9)).toDF("src", "dst", "weight")
    val out = graph.Traversals.strongestConnections(
        e, Seq((1L, 3L), (1L, 9L)).toDF("s_id", "t_id"), radius = 1)
      .collect()
      .map(r => (r.getAs[Long]("s_id"), r.getAs[Long]("t_id")) ->
        (r.getAs[Double]("strength6"), r.getAs[String]("chain"), r.getAs[Long]("hops")))
      .toMap
    assert(out((1L, 3L)) === ((0.81, "1->2->3", 2L)))
    // the same graph's hop distance is 1 — strongest ≠ shortest, by design
    assert(conn(Seq((1L, 3L), (1L, 2L), (2L, 3L)), Seq((1L, 3L)), 1)((1L, 3L))._1 === 1L)
    // isolated endpoint: no ≤2·radius connection → 0 / '-' / −1
    assert(out((1L, 9L)) === ((0.0, "-", -1L)))
  }

  test("strongestConnections ≡ single-source max-product over the doubled radius") {
    // meet-max exactness: per pair, the strength must equal what ONE
    // Ubo.strongestChain run from s over the symmetrized edges with
    // maxHops = 2·radius reports at entity t (the split-argument proof,
    // checked numerically on a multi-path weighted fixture)
    val e = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (1L, 4L, 0.6), (4L, 3L, 0.95),
                (3L, 5L, 0.5), (2L, 5L, 0.2)).toDF("src", "dst", "weight")
    val symw = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
    val pairs = Seq((1L, 3L), (1L, 5L), (4L, 5L)).toDF("s_id", "t_id")
    val meet = graph.Traversals.strongestConnections(e, pairs, radius = 2)
      .collect()
      .map(r => (r.getAs[Long]("s_id"), r.getAs[Long]("t_id")) -> r.getAs[Double]("strength6"))
      .toMap
    val single = graph.Ubo.strongestChain(
        symw, Seq(1L, 4L).toDF("owner"), maxHops = 4)
      .select(col("owner"), col("entity"), round(col("share"), 6).as("share6"))
      .collect()
      .map(r => (r.getAs[Long]("owner"), r.getAs[Long]("entity")) -> r.getAs[Double]("share6"))
      .toMap
    assert(meet((1L, 3L)) === single((1L, 3L)))
    assert(meet((1L, 5L)) === single((1L, 5L)))
    assert(meet((4L, 5L)) === single((4L, 5L)))
  }

  test("connectionDistanceAsOf: validity gates the hop; no cross-date leakage; batched ≡ per-date") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val e = Seq(
        (1L, 2L, Some(ts("1995-01-01 00:00:00"))),
        (2L, 3L, Some(ts("2000-01-01 00:00:00"))),
        (3L, 4L, None)) // NULL valid_from = always active
      .toDF("src", "dst", "valid_from")
    def asOfDf(pairs: Seq[(Long, Long, String)]) =
      pairs.toDF("s_id", "t_id", "ds")
        .select(col("s_id"), col("t_id"), col("ds").cast("timestamp_ntz").as("as_of"))
    val batched = graph.Traversals.connectionDistance(
        e, asOfDf(Seq(
          (1L, 3L, "1996-06-30 00:00:00"), (1L, 3L, "2001-06-30 00:00:00"),
          (2L, 4L, "1996-06-30 00:00:00"), (2L, 4L, "2001-06-30 00:00:00"))), radius = 2)
      .collect()
      .map(r => (r.getAs[Long]("s_id"), r.getAs[Long]("t_id"),
                 r.getAs[java.time.LocalDateTime]("as_of").getYear) ->
        (r.getAs[Long]("dist"), r.getAs[Long]("n_meet"), r.getAs[Long]("meet_min")))
      .toMap
    // 1996: 2-3 not yet active → 1..3 unreachable; 2001: dist 2 via node 2
    assert(batched((1L, 3L, 1996)) === ((-1L, 0L, -1L)),
      "a not-yet-valid edge leaked into an earlier slider position")
    assert(batched((1L, 3L, 2001))._1 === 2L)
    // 2..4 needs the 2000 edge too (2-3), then the always-active 3-4
    assert(batched((2L, 4L, 1996)) === ((-1L, 0L, -1L)))
    assert(batched((2L, 4L, 2001))._1 === 2L)
    // batching over dates must equal one call per date
    Seq("1996-06-30 00:00:00", "2001-06-30 00:00:00").foreach { ds =>
      val solo = graph.Traversals.connectionDistance(
          e, asOfDf(Seq((1L, 3L, ds), (2L, 4L, ds))), radius = 2)
        .collect()
        .map(r => (r.getAs[Long]("s_id"), r.getAs[Long]("t_id"),
                   r.getAs[java.time.LocalDateTime]("as_of").getYear) ->
          (r.getAs[Long]("dist"), r.getAs[Long]("n_meet"), r.getAs[Long]("meet_min")))
        .toMap
      solo.foreach { case (k, v) => assert(batched(k) === v, s"batched diverged at $k") }
    }
  }

  test("g64: the date-past-all-data slice equals g59; earlier dates renormalize strengths") {
    // 2001 is past every o_orderdate/l_shipdate, so the dated web equals
    // the undated web and the as-of answer must reproduce g59 exactly
    // (strengths to the 6-decimal contract, identical witness chains)
    val g59 = SparkEntry.queries("g59_strongest_connection")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("s_id"), r.getAs[Long]("t_id")) ->
        (r.getAs[Double]("strength6"), r.getAs[String]("chain"), r.getAs[Long]("hops")))
      .toMap
    val g64 = SparkEntry.queries("g64_strongest_asof")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("s_id"), r.getAs[Long]("t_id"),
                 r.getAs[Long]("as_of_year")) ->
        (r.getAs[Double]("strength6"), r.getAs[String]("chain"), r.getAs[Long]("hops")))
      .toMap
    g59.foreach { case ((s0, t0), (st, ch, h)) =>
      val (st2, ch2, h2) = g64((s0, t0, 2001L))
      assert(math.abs(st2 - st) <= 1e-6 && ch2 == ch && h2 == h,
        s"2001 slice diverged from g59 at ($s0,$t0): ($st2,$ch2,$h2) vs ($st,$ch,$h)")
    }
    // the 1997 position must DIFFER somewhere (weaker graph, renormalized
    // weights) — otherwise the slider axis is decorative on this fixture
    assert(g59.keys.exists { case (s0, t0) =>
      g64((s0, t0, 1997L)) != g64((s0, t0, 2001L)) },
      "1997 and 2001 strongest connections identical for every pair")
  }

  test("graded g57 invariants: dist within [-1, 4]; -1 implies empty meet") {
    val rows = SparkEntry.queries("g57_connection")(spark, sfDir).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val (dist, nMeet) = (r.getAs[Long]("dist"), r.getAs[Long]("n_meet"))
      assert(dist == -1L || (dist >= 1L && dist <= 4L), s"dist out of contract: $dist")
      assert((dist == -1L) == (nMeet == 0L), s"dist/meet inconsistency: $dist/$nMeet")
    }
    // the fixture's transactional web connects all three graded pairs
    assert(rows.forall(_.getAs[Long]("dist") > 0L),
      "fixture no longer exercises connected pairs")
  }
}
