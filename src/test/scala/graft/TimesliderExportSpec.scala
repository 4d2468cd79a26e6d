package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** s09's Time-Slider contract beyond the graded hash: every slider
  * position must be present, positions of one seed must NEST (validity is
  * cumulative — a later year's document contains every earlier node), and
  * the snapshot semantics of the batched (seed, as_of) traversal must be
  * instance-exact: reachability uses ∃-an-active-instance, the document
  * lists ONLY the instances valid at that position.
  */
class TimesliderExportSpec extends SparkSpec {
  import spark.implicits._

  private val nodeSchema = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("label", StringType),
    StructField("name", StringType))))
  private val edgeSchema = ArrayType(StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType),
    StructField("rel_type", StringType), StructField("w_ppm", LongType))))

  test("s09: every slider position present, per-seed documents nest over years") {
    val docs = SparkEntry.queries("s09_timeslider_export")(spark, sfDir)
      .withColumn("nodes", from_json(col("nodes_json"), nodeSchema))
      .withColumn("edges", from_json(col("edges_json"), edgeSchema))
      .collect()
    assert(docs.length === 8, "2 seeds x 4 slider years")
    val bySeed = docs.groupBy(_.getAs[Long]("seed"))
    assert(bySeed.keySet.size === 2)
    bySeed.foreach { case (seed, rs) =>
      val byYear = rs.sortBy(_.getAs[Long]("year"))
      assert(byYear.map(_.getAs[Long]("year")).toSeq === Seq(1995L, 1997L, 1999L, 2001L))
      val nodeSets = byYear.map { r =>
        val nodes = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("nodes")
        val edges = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("edges")
        assert(nodes != null && edges != null, s"seed $seed: JSON failed to parse")
        assert(nodes.size.toLong === r.getAs[Long]("n_nodes"))
        assert(edges.size.toLong === r.getAs[Long]("n_edges"))
        val ids = nodes.map(_.getAs[Long]("id")).toSet
        assert(ids.contains(seed), s"seed $seed missing from its own document")
        edges.foreach { e =>
          assert(ids.contains(e.getAs[Long]("src")) && ids.contains(e.getAs[Long]("dst")),
            s"seed $seed: dangling endpoint in a slider frame")
        }
        ids
      }
      // valid_from-only validity is cumulative: each frame ⊆ the next
      nodeSets.sliding(2).foreach { pair =>
        assert(pair(0).subsetOf(pair(1)),
          s"seed $seed: an earlier slider frame has nodes a later frame lost")
      }
      assert(nodeSets.last.size > nodeSets.head.size,
        s"seed $seed: fixture no longer exercises growth across the slider range")
    }
  }

  test("capped slider documents: per-position truncation, visible totals, graded bytes unchanged") {
    import spark.implicits._
    val sy = (for { c <- 1 to 2; y <- Seq(1995, 1997, 1999, 2001) } yield
        (graph.GraphBuilder.CustomerBase + c, y.toLong, s"$y-12-31 23:59:59"))
      .toDF("seed", "year", "ts")
      .select(col("seed"), col("year"), col("ts").cast("timestamp_ntz").as("as_of"))
    val cap = 6
    val capped = sources.SourceQueries.timesliderDocs(spark, sfDir, sy, 2, Some(cap))
      .withColumn("nodes", from_json(col("nodes_json"), nodeSchema))
      .withColumn("edges", from_json(col("edges_json"), edgeSchema))
      .collect()
    val full = SparkEntry.queries("s09_timeslider_export")(spark, sfDir)
      .withColumn("nodes", from_json(col("nodes_json"), nodeSchema))
      .collect()
      .map(r => (r.getAs[Long]("seed"), r.getAs[Long]("year")) ->
        (r.getAs[Long]("n_nodes"),
         r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("nodes")
           .map(_.getAs[Long]("id")).toSet))
      .toMap
    assert(capped.length === 8, "every slider position must survive the cap")
    capped.foreach { r =>
      val key = (r.getAs[Long]("seed"), r.getAs[Long]("year"))
      val (fullN, fullIds) = full(key)
      val ids = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("nodes")
        .map(_.getAs[Long]("id")).toSet
      assert(r.getAs[Long]("n_nodes") <= cap, s"$key: document exceeds the cap")
      assert(r.getAs[Long]("node_cap") === cap.toLong)
      assert(r.getAs[Long]("n_nodes_total") === fullN,
        s"$key: pre-cap total must equal the uncapped position's membership")
      assert(ids.contains(key._1), s"$key: the seed must survive every cap")
      assert(ids.subsetOf(fullIds), s"$key: capped members must be a subset of the full frame")
      // induced-edge closure within the truncated membership
      r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("edges").foreach { e =>
        assert(ids.contains(e.getAs[Long]("src")) && ids.contains(e.getAs[Long]("dst")),
          s"$key: capped frame has a dangling endpoint")
      }
    }
    // positions bigger than the cap exist (the guard is exercised, not idle)
    assert(capped.exists(r => full((r.getAs[Long]("seed"), r.getAs[Long]("year")))._1 > cap),
      "fixture no longer exercises truncation — raise radius or lower cap")
  }

  test("egoMembersAsOf: ∃-instance reachability; inducedEdgesAsOf: instance-exact validity") {
    // chain 1→2→3→4; 2→3 has TWO instances (1995-06 and 1998-01): the
    // traversal must treat the pair as active from the EARLIEST instance,
    // while the document join must list only instances valid at as_of.
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val edges = Seq(
      (1L, 2L, "E", 1.0, null.asInstanceOf[java.sql.Timestamp]),
      (2L, 3L, "E", 1.0, ts("1995-06-01")),
      (2L, 3L, "E", 2.0, ts("1998-01-01")),
      (3L, 4L, "E", 1.0, ts("1996-01-01")))
      .toDF("src", "dst", "rel_type", "weight", "valid_from")
      .withColumn("valid_from", col("valid_from").cast("timestamp_ntz"))
    val seeds = Seq(("1995-12-31 23:59:59"), ("1999-12-31 23:59:59"))
      .toDF("ts").select(lit(1L).as("seed"), col("ts").cast("timestamp_ntz").as("as_of"))
    val members = graph.Traversals.egoMembers(edges, seeds, radius = 3)
    val byAsOf = members.collect()
      .groupBy(_.getAs[java.time.LocalDateTime]("as_of").getYear)
      .map { case (y, rs) => y -> rs.map(_.getAs[Long]("id")).toSet }
    assert(byAsOf(1995) === Set(1L, 2L, 3L),
      "1995: 2→3 active via its 1995-06 instance; 3→4 (1996) not yet valid")
    assert(byAsOf(1999) === Set(1L, 2L, 3L, 4L), "1999: whole chain valid")
    val ind = graph.Traversals.inducedEdges(edges, members).collect()
      .groupBy(_.getAs[java.time.LocalDateTime]("as_of").getYear)
      .map { case (y, rs) =>
        y -> rs.map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
          r.getAs[Double]("weight"))).toSet }
    assert(ind(1995) === Set((1L, 2L, 1.0), (2L, 3L, 1.0)),
      "1995 document must include the valid 2→3 instance but NOT the 1998 one")
    assert(ind(1999) === Set((1L, 2L, 1.0), (2L, 3L, 1.0), (2L, 3L, 2.0), (3L, 4L, 1.0)))
  }
}
