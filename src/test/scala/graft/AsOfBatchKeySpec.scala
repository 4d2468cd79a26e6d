package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{Traversals, Ubo}

/** The snapshot date is a batch key read from the input: a seed, pair,
  * member, owner or init frame carrying `as_of` turns on the as-of form of
  * the same function. At one date on or after every edge's valid_from the
  * as-of answer must be the plain answer with `as_of` riding along, and the
  * as-of traversal must cost the plain traversal's Spark jobs.
  */
class AsOfBatchKeySpec extends SparkSpec {
  import spark.implicits._

  private val asOf = "2001-12-31 23:59:59"

  // a small cyclic web, every valid_from before `asOf` (NULL = always
  // active); dyadic weights keep every share product and sum exact, so
  // rows compare bit-for-bit whatever the summation order
  private lazy val edges = Seq(
      (1L, 2L, 0.5, Some("1995-01-01 00:00:00")), (1L, 3L, 0.5, None),
      (2L, 4L, 1.0, Some("1998-06-30 00:00:00")), (3L, 4L, 0.25, Some("1996-03-01 00:00:00")),
      (3L, 5L, 0.75, None), (4L, 6L, 1.0, Some("2000-01-01 00:00:00")),
      (5L, 1L, 1.0, Some("1999-09-09 00:00:00")), (6L, 7L, 1.0, None))
    .toDF("src", "dst", "weight", "vf")
    .select(col("src"), col("dst"), col("weight"),
            col("vf").cast("timestamp_ntz").as("valid_from"))
  private lazy val plainEdges = edges.select("src", "dst")
  private lazy val web = edges.select("src", "dst", "weight")
  private lazy val seeds = Seq(1L, 6L).toDF("seed")
  private lazy val pairs = Seq((1L, 6L), (2L, 5L), (1L, 7L), (7L, 3L)).toDF("s_id", "t_id")

  private def dated(df: DataFrame): DataFrame =
    df.withColumn("as_of", lit(asOf).cast("timestamp_ntz"))

  private def assertSameAsPlain(datedOut: DataFrame, plainOut: DataFrame): Unit = {
    assert(datedOut.columns.contains("as_of"),
      s"as_of did not ride along: ${datedOut.columns.mkString(", ")}")
    assert(datedOut.select(year(col("as_of"))).distinct().as[Int].collect().toSeq === Seq(2001))
    val d = datedOut.drop("as_of")
    assert(d.columns.toSeq === plainOut.columns.toSeq)
    val (got, want) = (d.collect().map(_.toString).sorted, plainOut.collect().map(_.toString).sorted)
    assert(want.nonEmpty, "fixture produced no rows")
    assert(got.toSeq === want.toSeq)
  }

  test("egoMembers, inducedEdges, capEgoMembers: as-of at a date past all edges ≡ plain") {
    val m = Traversals.egoMembers(edges, dated(seeds), 2)
    assertSameAsPlain(m, Traversals.egoMembers(plainEdges, seeds, 2))
    val pm = Traversals.egoMembers(plainEdges, seeds, 2)
    assertSameAsPlain(Traversals.inducedEdges(edges, m),
      Traversals.inducedEdges(edges, pm))
    assertSameAsPlain(Traversals.capEgoMembers(edges, m, 3),
      Traversals.capEgoMembers(web, pm, 3))
  }

  test("connectionDistance: as-of at a date past all edges ≡ plain") {
    assertSameAsPlain(Traversals.connectionDistance(edges, dated(pairs), 2),
      Traversals.connectionDistance(plainEdges, pairs, 2))
  }

  test("strongestChain, strongestConnections: as-of over a one-date web ≡ plain") {
    val owners = Seq(1L, 3L).toDF("owner")
    assertSameAsPlain(Ubo.strongestChain(dated(web), dated(owners), maxHops = 4),
      Ubo.strongestChain(web, owners, maxHops = 4))
    assertSameAsPlain(Traversals.strongestConnections(dated(web), dated(pairs), 2),
      Traversals.strongestConnections(web, pairs, 2))
  }

  test("seedStep + propagateLayers: as-of over one-date layers ≡ plain") {
    def cone(layer: DataFrame) = {
      val s1 = Ubo.seedStep(layer, col("src").isin(1L, 3L))
      Ubo.propagateLayers(Seq(layer, layer), s1, materializeLayers = false)
    }
    assertSameAsPlain(cone(dated(web)), cone(web))
  }

  test("a dated batch over undated edges fails loudly instead of running the plain form") {
    val e = intercept[IllegalArgumentException](
      Traversals.egoMembers(plainEdges, dated(seeds), 2))
    assert(e.getMessage.contains("valid_from"))
    intercept[IllegalArgumentException](
      Ubo.strongestChain(web, dated(Seq(1L).toDF("owner")), maxHops = 2))
    intercept[IllegalArgumentException](
      Ubo.propagateLayers(Seq(web), dated(Seq((1L, 1L, 1.0)).toDF("owner", "entity", "share"))))
  }

  test("an as-of egoMembers call runs as many Spark jobs as the plain call") {
    val sc = spark.sparkContext
    def jobs(f: => DataFrame): (DataFrame, Int) = {
      GraftSparkInternals.drainListenerBus(sc, 10000L)
      val n = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      sc.addSparkListener(listener)
      try {
        val out = f
        assert(GraftSparkInternals.drainListenerBus(sc, 10000L), "listener bus did not drain")
        (out, n.get)
      } finally sc.removeSparkListener(listener)
    }
    val (_, plain) = jobs(Traversals.egoMembers(plainEdges, seeds, 2))
    val (out, dated2) = jobs(Traversals.egoMembers(edges, dated(seeds), 2))
    assert(out.columns.contains("as_of"))
    assert(plain > 0)
    assert(dated2 === plain, s"as-of traversal ran $dated2 jobs, plain ran $plain")
  }
}
