package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.Algorithms

/** [[Algorithms.ccDecrement]] contract: maintaining a CC labeling under
  * edge REMOVALS equals a full re-run of cc() on the surviving graph —
  * with the node universe preserved (a node whose every edge expired stays
  * labeled as a singleton; expiry removes edges, not entities) — on hand
  * fixtures covering every split topology (bridge removal splitting a
  * component, cycle removal NOT splitting, full-component expiry to
  * singletons, untouched components passing through, unknown-edge no-op,
  * replay idempotence) and on the real graded slice (g68's windowed strong
  * user graph), where decrement-then-increment must match the unsplit
  * rebuild the DuckDB oracle runs.
  */
class CcDecrementSpec extends SparkSpec {
  import spark.implicits._

  private def edges(e: Seq[(Long, Long)]): DataFrame = e.toDF("src", "dst")

  private def labels(df: DataFrame): Map[Long, Long] =
    df.select("id", "component").as[(Long, Long)].collect().toMap

  /** decrement ≡ rebuild-on-surviving + singletons for edge-less nodes,
    * with default gates (every fixture here sits under the rebuild floor)
    * and with the gates forced, which runs the incremental path: the
    * touched components, the majority-touched fallback and the stitch. */
  private def checkEquiv(base: Seq[(Long, Long)],
                         removed: Seq[(Long, Long)]): Map[Long, Long] = {
    val surviving = base.filterNot(removed.contains)
    def dec = labels(Algorithms.ccDecrement(
      Algorithms.cc(edges(base)), edges(surviving), edges(removed)))
    val reb = labels(Algorithms.cc(edges(surviving)))
    val allNodes = (base.map(_._1) ++ base.map(_._2)).toSet
    val expected = allNodes.map(n => n -> reb.getOrElse(n, n)).toMap
    val got = dec
    assert(got === expected)
    assert(gatesForced(dec) === expected, "the incremental path (gates forced) diverged")
    got
  }

  //   1-2-3   10-11   20-21-22 (21-22 also bridged 20-22 → cycle)
  private val base = Seq((1L, 2L), (2L, 3L), (10L, 11L),
                         (20L, 21L), (21L, 22L), (20L, 22L))

  test("bridge removal splits a component into two, labels = new minima") {
    val got = checkEquiv(base, Seq((2L, 3L)))
    assert(got(1L) === 1L && got(2L) === 1L) // 1-2 survives
    assert(got(3L) === 3L)                   // 3 split off, new singleton min
    assert(got(10L) === 10L && got(20L) === 20L) // untouched components
  }

  test("removing one cycle edge does not split (redundant connectivity)") {
    val got = checkEquiv(base, Seq((20L, 21L)))
    assert(got(20L) === 20L && got(21L) === 20L && got(22L) === 20L)
  }

  test("expiring a component's every edge leaves labeled singletons") {
    val got = checkEquiv(base, Seq((10L, 11L)))
    assert(got(10L) === 10L && got(11L) === 11L)
    assert(got.keySet.contains(11L)) // node survives edge expiry
  }

  test("removal that isolates the component's min id relabels the rest") {
    val got = checkEquiv(base, Seq((1L, 2L)))
    assert(got(1L) === 1L)                  // isolated, keeps own id
    assert(got(2L) === 2L && got(3L) === 2L) // rest re-rooted at new min
  }

  test("removing an edge unknown to the labeling is a no-op") {
    val got = checkEquiv(base, Seq((100L, 101L)))
    assert(got === labels(Algorithms.cc(edges(base))))
  }

  test("empty removal returns the base labeling unchanged") {
    val got = checkEquiv(base, Seq.empty)
    assert(got === labels(Algorithms.cc(edges(base))))
  }

  test("re-applying the same removal is a no-op (at-least-once replay safety)") {
    val removed = Seq((2L, 3L))
    val surviving = edges(base.filterNot(removed.contains))
    val once = Algorithms.ccDecrement(
      Algorithms.cc(edges(base)), surviving, edges(removed))
    val twice = Algorithms.ccDecrement(once, surviving, edges(removed))
    assert(labels(twice) === labels(once))
  }

  test("decrement then increment composes: mixed delta equals rebuild") {
    // remove the 2-3 bridge, then add 3-10: the final labeling must equal
    // the rebuild of (surviving ∪ added) — the g68 composition in miniature
    val removed = Seq((2L, 3L))
    val added = Seq((3L, 10L))
    val surviving = base.filterNot(removed.contains)
    val afterDec = Algorithms.ccDecrement(
      Algorithms.cc(edges(base)), edges(surviving), edges(removed))
    val got = labels(Algorithms.ccIncrement(afterDec, edges(added)))
    val reb = labels(Algorithms.cc(edges(surviving ++ added)))
    val allNodes = (base.map(_._1) ++ base.map(_._2)).toSet
    assert(got === allNodes.map(n => n -> reb.getOrElse(n, n)).toMap)
  }

  test("majority-touched blast radius routes through the rebuild fallback with identical labels") {
    // a giant component holding >half the labels: the self-gating fallback
    // (measured at sf6.4: incremental 97.6 s vs rebuild 35.9 s there)
    // must produce the same labeling as the incremental path's contract —
    // full node universe, expired nodes as singletons
    val giant = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
                    (10L, 11L))
    val got = checkEquiv(giant, Seq((3L, 4L)))   // splits the 6-node giant
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 4L, 10L -> 10L, 11L -> 10L))
    // and full expiry of the giant leaves every node a labeled singleton
    val all = checkEquiv(giant, giant.take(5))
    assert((1L to 6L).forall(n => all(n) == n))
  }

  test("decremental ER (g69) equals the from-scratch re-resolution over surviving records") {
    // the g67≡g48 discipline on the deletion side: the graded decrement
    // and an in-engine full re-resolution of the surviving slice must be
    // row-identical, so a drift between the two paths fails here before
    // the driver sees it
    val cust = Tables(spark, sfDir).customer.select(
      col("c_custkey").as("id"), col("c_name").as("name"),
      col("c_nationkey").as("nk"))
    val surviving = cust.filter(col("id") % 17 =!= 0)
    val ents = surviving.select(col("id"), col("name"))
    val pairs = graft.rel.FuzzyJoin.selfJoinLev1(surviving.select("id", "name"))
      .join(broadcast(surviving.select(col("id").as("id_a"), col("nk").as("nk_a"))), Seq("id_a"))
      .join(broadcast(surviving.select(col("id").as("id_b"), col("nk").as("nk_b"))), Seq("id_b"))
      .filter(col("nk_a") === col("nk_b"))
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val reb = Algorithms.cc(pairs)
      .filter(col("id") =!= col("component"))
      .join(broadcast(ents), Seq("id"))
      .join(broadcast(ents.select(col("id").as("component"), col("name").as("canonical_name"))),
            Seq("component"))
      .select(col("id").as("custkey"), col("name"),
              col("component").as("merged_into"), col("canonical_name"))
      .orderBy("custkey").collect().toSeq
    val got = SparkEntry.queries("g69_er_decrement")(spark, sfDir).collect().toSeq
    assert(got.nonEmpty && got === reb)
    // erased records are GONE from the map (not singletons, not labels)
    got.foreach { r =>
      assert(r.getLong(0) % 17 != 0 && r.getLong(2) % 17 != 0,
        s"erased record leaked into the maintained map: $r")
    }
  }

  test("real slice: g68's decrement+increment equals the T2 window rebuild") {
    val t = Tables(spark, sfDir)
    val trans = graft.graph.GraphBuilder.userTransitions(t)
      .select(col("src"), col("dst"), col("ts").cast("timestamp_ntz").as("ts"))
    def strongWin(at: String) = {
      val hi = lit(at).cast("timestamp_ntz")
      trans.filter(col("ts") > hi - expr("INTERVAL 7 DAYS") && col("ts") <= hi)
        .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select("src", "dst")
    }
    val e1 = strongWin("2024-01-10 00:00:00")
    val e2 = strongWin("2024-01-20 00:00:00")
    val removed = e1.except(e2)
    val added = e2.except(e1)
    assert(!removed.isEmpty, "fixture must exercise genuine expiry")
    assert(!added.isEmpty, "fixture must exercise genuine births")
    val surviving = e1.join(e2, Seq("src", "dst"), "left_semi")
    val afterDec = Algorithms.ccDecrement(Algorithms.cc(e1), surviving, removed)
    val got = labels(Algorithms.ccIncrement(afterDec, added))
    val reb = labels(Algorithms.cc(e2))
    val universe = labels(Algorithms.cc(e1)).keySet ++ reb.keySet
    assert(got === universe.map(n => n -> reb.getOrElse(n, n)).toMap)
  }
}
