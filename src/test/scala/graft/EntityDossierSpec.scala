package graft

import graft.graph.GraphBuilder
import org.apache.spark.sql.functions._

/** g52 composes four pipelines into one briefing for a seed entity; the
  * oracle hashes the values, so this spec pins the COMPOSITION invariants
  * that a hash can't express as intent: every section present, the owner
  * section rank-truncated, the conflict section cut to pairs implicating
  * a principal owner (not the whole g46 board), and the backward
  * single-seed propagation agreeing with the board-wide forward g03
  * propagation on the seed's column (same paths, same products — the
  * exactness argument for running the cone WITHOUT epsilon).
  */
class EntityDossierSpec extends SparkSpec {
  import spark.implicits._

  private val seed = GraphBuilder.SupplierBase + 1L
  private lazy val dossier = {
    val df = SparkEntry.queries("g52_entity_dossier")(spark, sfDir)
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
  }

  test("all five sections present; owner section rank-truncated to 25") {
    val bySection = dossier.groupBy(_._1)
    assert(bySection.keySet === Set("owner", "name_conflict", "risk_part", "ego_edges", "ego_nodes"))
    assert(bySection("owner").length <= 25 && bySection("owner").nonEmpty)
    assert(bySection("ego_nodes").length === 1)
  }

  test("owner scores equal the forward board-wide propagation's seed column") {
    // backward-from-seed (exact, no epsilon) must dominate the forward
    // epsilon-pruned board propagation: every forward-surviving owner of
    // the seed appears backward with share >= the pruned forward value.
    val fwd = SparkEntry.queries("g03_ubo_exposure")(spark, sfDir)
      .filter(col("supplier") === seed)
      .select(col("owner"), col("exposure")).as[(Long, Double)].collect().toMap
    assert(fwd.nonEmpty)
    val owners = dossier.filter(_._1 == "owner").map(t => t._2 -> t._4).toMap
    val topMin = owners.values.min
    fwd.foreach { case (o, exposure) =>
      owners.get(o).foreach { backShare =>
        assert(backShare >= exposure - 1e-6,
          s"owner $o: backward exact share $backShare below forward pruned $exposure")
      }
      // a forward owner missing from the top-25 must be below its floor
      if (!owners.contains(o))
        assert(exposure <= topMin + 1e-6,
          s"forward owner $o ($exposure) outranks the backward top-25 floor $topMin")
    }
  }

  test("conflict section implicates a principal owner on at least one end") {
    val principals = dossier.filter(_._1 == "owner").map(_._2).toSet
    val conflicts = dossier.filter(_._1 == "name_conflict")
    assert(conflicts.nonEmpty)
    // key is the a-side; the detail carries both names — check the a-side
    // OR b-side resolves to a principal via the name
    val names = Tables(spark, sfDir).customer
      .select((lit(GraphBuilder.CustomerBase) + col("c_custkey")).as("id"), col("c_name"))
      .as[(Long, String)].collect().toMap
    val principalNames = principals.map(names)
    conflicts.foreach { case (_, key, detail, _) =>
      val Array(na, nb) = detail.split(" ~ ", 2)
      assert(principals.contains(key) || principalNames.contains(na) || principalNames.contains(nb),
        s"conflict row ($key, $detail) implicates no principal owner")
    }
  }

  test("g53 batched cones agree with g52's single-seed cone on the shared seed") {
    // the watchlist batching claim: a k-row init must produce, for each
    // seed, EXACTLY the single-seed propagation's numbers — no cross-seed
    // bleed through the shared (owner, entity) state. g52's owner section
    // is the single-seed top-25; g53's supplier-1 rows must equal its
    // first 5 under the same (share desc, holder asc) order.
    val batched = SparkEntry.queries("g53_watchlist_dossiers")(spark, sfDir)
      .filter(col("supplier") === seed)
      .orderBy(col("rnk"))
      .collect().map(r => (r.getAs[Long]("holder"), r.getAs[Double]("share6")))
    assert(batched.length === 5)
    val single = dossier.filter(_._1 == "owner")
      .map(t => (t._2, t._4)).sortBy { case (o, sh) => (-sh, o) }.take(5)
    assert(batched.toSeq === single.toSeq,
      s"batched cone diverged from the single-seed cone:\n$batched\nvs\n${single.toSeq}")
  }

  test("g56: a slider date past all fixture data reproduces the g53 (undated) cone") {
    // as-of semantics cross-check: with as_of beyond every o_orderdate /
    // l_shipdate in the fixture, nothing is filtered and every per-date
    // weight renormalizes over the SAME totals as the undated layers — the
    // 2001 slice of g56 must therefore equal g53's cone (same holders in
    // the same order, shares equal to the 6-decimal contract).
    val asof = SparkEntry.queries("g56_ubo_asof")(spark, sfDir)
      .filter(col("as_of_year") === 2001L)
      .orderBy(col("supplier"), col("rnk"))
      .collect().map(r => (r.getAs[Long]("supplier"), r.getAs[Long]("rnk"),
        r.getAs[Long]("holder"), r.getAs[Double]("share6")))
    val undated = SparkEntry.queries("g53_watchlist_dossiers")(spark, sfDir)
      .orderBy(col("supplier"), col("rnk"))
      .collect().map(r => (r.getAs[Long]("supplier"), r.getAs[Long]("rnk"),
        r.getAs[Long]("holder"), r.getAs[Double]("share6")))
    assert(asof.length === undated.length && asof.nonEmpty)
    asof.zip(undated).foreach { case (a, u) =>
      assert(a._1 == u._1 && a._2 == u._2 && a._3 == u._3,
        s"holder ranking diverged: $a vs $u")
      assert(math.abs(a._4 - u._4) <= 1e-6, s"share diverged beyond rounding: $a vs $u")
    }
  }

  test("g56: earlier slider dates renormalize (not merely subset) the cone") {
    // the semantic point of as-of UBO: at an earlier date the same holder's
    // share is computed against that date's totals, so at least one holder
    // common to both dates must carry a DIFFERENT share — a pure validity
    // filter (no renormalization) would keep every common share identical.
    val rows = SparkEntry.queries("g56_ubo_asof")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("as_of_year"), r.getAs[Long]("supplier"),
        r.getAs[Long]("holder"), r.getAs[Double]("share6")))
    val y1996 = rows.filter(_._1 == 1996L).map(t => (t._2, t._3) -> t._4).toMap
    val y2001 = rows.filter(_._1 == 2001L).map(t => (t._2, t._3) -> t._4).toMap
    val common = y1996.keySet.intersect(y2001.keySet)
    assert(common.nonEmpty, "no holder survives from 1996 to 2001 — fixture too sparse")
    assert(common.exists(k => math.abs(y1996(k) - y2001(k)) > 1e-6),
      "every common holder kept an identical share — weights did not renormalize")
  }

  test("propagateLayersAsOf: no share mass leaks between slider dates") {
    val d1 = "1996-12-31 23:59:59"
    val d2 = "2001-12-31 23:59:59"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // at d1 only A→B exists (weight 1); at d2 the mass splits B=0.25, C=0.75
    val layer = Seq((d1, 10L, 20L, 1.0), (d2, 10L, 20L, 0.25), (d2, 10L, 30L, 0.75))
      .map { case (ds, a, b, w) => (ts(ds), a, b, w) }
      .toDF("as_of", "src", "dst", "weight")
      .withColumn("as_of", col("as_of").cast("timestamp_ntz"))
    val init = Seq(d1, d2).map(ts).toDF("as_of")
      .withColumn("as_of", col("as_of").cast("timestamp_ntz"))
      .select(lit(10L).as("owner"), col("as_of"), lit(10L).as("entity"),
              lit(1.0).cast("double").as("share"))
    val out = graph.Ubo.propagateLayers(Seq(layer), init).collect()
      .map(r => (r.getAs[java.time.LocalDateTime]("as_of").getYear,
        r.getAs[Long]("entity"), r.getAs[Double]("share"))).toSet
    assert(out === Set((1996, 20L, 1.0), (2001, 20L, 0.25), (2001, 30L, 0.75)),
      s"per-date propagation wrong or leaked across dates: $out")
  }

  test("g62b: capped ego sections — kept = min(cap, total), truncation visible and exercised, edges closed over the kept set") {
    // the TimesliderExportSpec cap contract carried to the dossier
    // deployment shape (VERDICT r12 #4): every (supplier, date) frame
    // survives with the pre-cap total riding along, and the fixture must
    // actually truncate somewhere or the guard is idle
    val rows = SparkEntry.queries("g62b_dossier_ego_capped")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val frames = rows.groupBy(r => (r.getAs[Long]("supplier"), r.getAs[Long]("as_of_year")))
    assert(frames.size === 4, s"2 suppliers x 2 dates expected, got ${frames.keySet}")
    frames.foreach { case (key, rs) =>
      val nTotal = rs.head.getAs[Long]("n_total")
      val nKept = rs.head.getAs[Long]("n_kept")
      assert(nKept === math.min(40L, nTotal), s"$key: kept must be min(cap, total)")
      assert(rs.map(_.getAs[Long]("n_total")).toSet.size === 1,
        s"$key: pre-cap total must be constant within a frame")
    }
    assert(frames.exists(_._2.head.getAs[Long]("n_total") > 40L),
      "fixture no longer exercises truncation — lower the cap or raise radius")
    // edge closure: the capped frame's edge mass can never exceed the
    // uncapped frame's (g62's ego_edges section over the same dates)
    val full = SparkEntry.queries("g62_dossier_asof")(spark, sfDir).collect()
      .filter(_.getAs[String]("section") == "ego_edges")
      .groupBy(r => (r.getAs[Long]("supplier"), r.getAs[Long]("as_of_year")))
      .view.mapValues(_.map(_.getAs[Double]("score")).sum).toMap
    frames.foreach { case (key, rs) =>
      val cappedEdges = rs.filter(_.getAs[String]("rel_type") != "(none)")
        .map(_.getAs[Long]("n_edges")).sum
      full.get(key).foreach { fullEdges =>
        assert(cappedEdges <= fullEdges.toLong,
          s"$key: capped induced edges ($cappedEdges) exceed the uncapped frame's ($fullEdges)")
      }
    }
  }

  test("risk parts are the seed's own parts, flags follow g16 semantics") {
    val seedParts = graph.GraphBuilder.edges(Tables(spark, sfDir))
      .filter(col("rel_type") === "SUPPLIED_BY" && col("dst") === seed)
      .select(col("src")).as[Long].collect().toSet
    val risk = dossier.filter(_._1 == "risk_part")
    assert(risk.nonEmpty)
    risk.foreach { case (_, key, detail, score) =>
      assert(seedParts.contains(key), s"risk part $key not supplied by the seed")
      assert(score >= 2.5 - 1e-9)
      if (score >= 3.0) assert(detail == "dominant_supplier,highly_concentrated")
      else assert(detail == "dominant_supplier")
    }
  }
}
