package graft

import graft.graph.{GraphBuilder, Traversals, Ubo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** s11 (Time-Slider delta export) and g62 (dossier as-of): the hash
  * oracles grade the values; these pin the composition invariants a hash
  * can't express as intent — slider MONOTONICITY (the property that makes
  * delta ≡ additions), per-position reconciliation (totals are running
  * sums of adds), the first-position full-frame convention, g62's
  * date-past-all-data agreement with the current-graph g52/g53 machinery,
  * and cross-date divergence (the slider axis is load-bearing).
  */
class AsofCompositionSpec extends SparkSpec {
  import spark.implicits._

  private val years = Seq(1995L, 1997L, 1999L, 2001L)

  private lazy val s11 = SparkEntry.queries("s11_timeslider_delta")(spark, sfDir)
    .collect()
    .map(r => (r.getAs[Long]("seed"), r.getAs[Long]("year"), r.getAs[Long]("n_nodes"),
      r.getAs[Long]("n_nodes_added"), r.getAs[Long]("n_edges"),
      r.getAs[Long]("n_edges_added"), r.getAs[Long]("first_new_node")))

  test("s11: totals reconcile as running sums of adds; first position is the full frame") {
    assert(s11.nonEmpty)
    s11.groupBy(_._1).foreach { case (_, rows) =>
      val srt = rows.sortBy(_._2)
      assert(srt.map(_._2).toSeq === years, "every slider position must be present")
      assert(srt.head._3 === srt.head._4, "first position: node delta IS the frame")
      assert(srt.head._5 === srt.head._6, "first position: edge delta IS the frame")
      srt.sliding(2).foreach {
        case Array(p, n) =>
          assert(n._3 === p._3 + n._4, s"node totals must be prev + added: $p -> $n")
          assert(n._5 === p._5 + n._6, s"edge-instance totals must be prev + added: $p -> $n")
        case _ =>
      }
    }
  }

  test("s11: the fixture exercises the delta (some later position adds nodes)") {
    assert(s11.exists(t => t._2 > years.head && t._4 > 0),
      "no later position added anything — the delta axis is decorative on this fixture")
  }

  test("s11 premise: ego membership is MONOTONE along the slider") {
    val sy = (for { c <- 1 to 2; y <- years } yield
        (GraphBuilder.CustomerBase + c, s"$y-12-31 23:59:59"))
      .toDF("seed", "ts")
      .select(col("seed"), col("ts").cast("timestamp_ntz").as("as_of"))
    val t = Tables(spark, sfDir)
    val m = Traversals.egoMembers(GraphBuilder.edges(t), sy, 2)
      .select(col("seed"), year(col("as_of")).as("y"), col("id")).collect()
      .groupBy(r => (r.getAs[Long]("seed"), r.getAs[Int]("y").toLong))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("id")).toSet }
    for (c <- 1 to 2; yy <- years.sliding(2)) {
      val (a, b) = (yy.head, yy.last)
      val s0 = m((GraphBuilder.CustomerBase + c, a))
      val s1 = m((GraphBuilder.CustomerBase + c, b))
      assert(s0.subsetOf(s1),
        s"membership shrank from $a to $b for seed $c: ${s0 -- s1}")
    }
  }

  // ---- g62 ----

  private lazy val g62 = SparkEntry.queries("g62_dossier_asof")(spark, sfDir)
    .collect()
    .map(r => (r.getAs[Long]("as_of_year"), r.getAs[Long]("supplier"),
      r.getAs[String]("section"), r.getAs[Long]("key"),
      r.getAs[String]("detail"), r.getAs[Double]("score")))

  private val seeds = Seq(GraphBuilder.SupplierBase + 1L, GraphBuilder.SupplierBase + 2L)

  test("g62: every section present at every (date, supplier); dates diverge") {
    val sections = g62.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).toSet).toMap
    for (y <- Seq(1996L, 2001L); sp <- seeds)
      assert(Set("owner", "risk_part", "ego_nodes", "ego_edges").subsetOf(sections((y, sp))),
        s"missing section at ($y, $sp): ${sections((y, sp))}")
    val byDate = g62.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3, t._4, t._5, t._6)).toSet).toMap
    assert(byDate(1996L) !== byDate(2001L),
      "1996 and 2001 dossiers identical — the as-of axis is decorative on this fixture")
  }

  test("g62 owners at a date past all data equal the current-graph cone") {
    val t = Tables(spark, sfDir)
    def rev(df: DataFrame) =
      df.select(col("dst").as("src"), col("src").as("dst"), col("weight"))
    val init = seeds.toDF("owner")
      .select(col("owner"), col("owner").as("entity"), lit(1.0).cast("double").as("share"))
    val w = Window.partitionBy("owner").orderBy(col("share6").desc, col("entity"))
    val cur = Ubo.propagateLayers(
        Seq(rev(Ubo.suppliedByEdges(t)), rev(Ubo.containsEdges(t)), rev(Ubo.placedEdges(t))),
        init, epsilon = None, materializeLayers = false)
      .select(col("owner"), col("entity"), round(col("share"), 6).as("share6"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .collect().map(r => (r.getAs[Long]("owner"), r.getAs[Long]("entity"),
        r.getAs[Double]("share6"))).toSet
    val asof = g62.filter(t0 => t0._1 == 2001L && t0._3 == "owner")
      .map(t0 => (t0._2, t0._4, t0._6)).toSet
    assert(asof.map(x => (x._1, x._2)) === cur.map(x => (x._1, x._2)),
      s"holder set diverged:\n$asof\nvs\n$cur")
    val curMap = cur.map(x => (x._1, x._2) -> x._3).toMap
    asof.foreach { case (sp, h, sc) =>
      assert(math.abs(sc - curMap((sp, h))) <= 1e-6, s"share diverged at ($sp, $h)")
    }
  }

  test("g62 ego section at a date past all data equals the undated ego membership") {
    val t = Tables(spark, sfDir)
    val mem = Traversals.egoMembers(GraphBuilder.edges(t), seeds.toDF("seed"), 2)
      .groupBy("seed").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("seed") -> r.getAs[Long]("n")).toMap
    val egoN = g62.filter(t0 => t0._1 == 2001L && t0._3 == "ego_nodes")
      .map(t0 => t0._2 -> t0._6.toLong).toMap
    assert(egoN === mem, s"as-of ego at 2001 diverged from undated ego: $egoN vs $mem")
  }

  test("g62 risk flags: keys are seed parts, thresholds and labels consistent") {
    val t = Tables(spark, sfDir)
    val curParts = GraphBuilder.edges(t)
      .filter(col("rel_type") === "SUPPLIED_BY" && col("dst").isin(seeds: _*))
      .select(col("dst"), col("src")).collect()
      .groupBy(_.getAs[Long]("dst")).view.mapValues(_.map(_.getAs[Long]("src")).toSet).toMap
    val risk = g62.filter(_._3 == "risk_part")
    assert(risk.nonEmpty)
    risk.foreach { case (_, sp, _, pid, detail, score) =>
      // as-of seed parts are a subset of current seed parts (validity only grows)
      assert(curParts(sp).contains(pid), s"risk part $pid never supplied by $sp")
      assert(score >= 2.5 - 1e-9)
      if (score >= 3.0) assert(detail == "dominant_supplier,highly_concentrated")
      else assert(detail == "dominant_supplier")
    }
  }
}
