package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{GraphBuilder, Traversals, Ubo}

object DossierRequests {
  sealed trait Req { def key: String }
  final case class Ego(id: Long) extends Req { def key = s"ego:$id" }
  final case class Cone(supplier: Long) extends Req { def key = s"ubo:$supplier" }
  final case class Conn(s: Long, t: Long) extends Req { def key = s"conn:$s:$t" }
}

/** Per-entity analyst requests against the cached business graph
  * (PLACED / CONTAINS / SUPPLIED_BY): an ego member list, the top-25
  * beneficial-owner cone of a supplier, and the hop distance between two
  * customers. Entities are Zipf-drawn, so popular ones repeat. */
final class DossierRequests(a: Args) extends Workload {
  import DossierRequests._
  type O = Req

  private var spark: SparkSession = _
  private var biz: DataFrame = _
  private var layers: Seq[DataFrame] = Nil // reversed supplied, contains, placed
  private var nCust = 0L
  private var nSupp = 0L

  private def rev(df: DataFrame) = df.select(col("dst").as("src"), col("src").as("dst"), col("weight"))

  def setup(s: SparkSession): Unit = {
    spark = s
    val t = graft.Tables(s, a.data)
    biz = GraphBuilder.edges(t)
      .filter(col("rel_type").isin("PLACED", "CONTAINS", "SUPPLIED_BY"))
      .select("src", "dst").cache()
    biz.count()
    layers = Seq(Ubo.suppliedByEdges(t), Ubo.containsEdges(t), Ubo.placedEdges(t)).map(l => rev(l).cache())
    layers.foreach(_.count())
    nCust = t.customer.count()
    nSupp = t.supplier.count()
  }

  /** One request of each kind, on fixed entities. */
  override def warmUp(): Unit = {
    val warm = new Tracer(false)
    Seq(Ego(GraphBuilder.CustomerBase), Cone(GraphBuilder.SupplierBase),
        Conn(GraphBuilder.CustomerBase, GraphBuilder.CustomerBase + 1)).foreach(run(_, warm))
  }

  // about 0.6 s per request on 4 cores
  def nOps(seconds: Int): Int = math.max(11, math.round(seconds / 0.6).toInt)

  /** Zipf(1.1) draws over a seed-permuted population of `n` entities. */
  private def zipf(rng: Random, n: Long): () => Long = {
    val perm = rng.shuffle((0L until n).toVector)
    val cdf = (1 to n.toInt).map(r => 1.0 / math.pow(r, 1.1)).scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    () => {
      val u = rng.nextDouble() * total
      var lo = 0; var hi = cdf.size - 1
      while (lo < hi) { val mid = (lo + hi) / 2; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      perm(lo)
    }
  }

  /** A fixed 4:3:3 ego:cone:connection mix in seeded order. */
  def plan(seed: Long, n: Int): IndexedSeq[Req] = {
    val rng = new Random(seed)
    val cust = zipf(rng, nCust)
    val supp = zipf(rng, nSupp)
    rng.shuffle((0 until n).map(i => i * 10 / n)).map {
      case k if k < 4 => Ego(GraphBuilder.CustomerBase + cust())
      case k if k < 7 => Cone(GraphBuilder.SupplierBase + supp())
      case _ =>
        val s = cust(); var t = cust()
        while (t == s) t = rng.nextLong(nCust)
        Conn(GraphBuilder.CustomerBase + s, GraphBuilder.CustomerBase + t)
    }.toIndexedSeq
  }

  def kind(o: Req): String = "request"
  def name(o: Req): String = o.getClass.getSimpleName.toLowerCase

  def run(o: Req, t: Tracer): Any = {
    val ss = spark; import ss.implicits._
    val rows = o match {
      case Ego(id) => t.call("graph", "egoMembers") {
        Traversals.egoMembers(biz, Seq(id).toDF("seed"), 2)
          .select("id", "depth").as[(Long, Long)].collect().toSeq
      }
      case Cone(sup) => t.call("graph", "propagateLayers") {
        val s1 = Ubo.seedStep(layers.head, col("src") === sup)
        Ubo.propagateLayers(layers.tail, s1, epsilon = None, materializeLayers = false)
          .select(col("entity").as("owner"), round(col("share"), 6).as("share6"))
          .orderBy(col("share6").desc, col("owner")).limit(25)
          .as[(Long, Double)].collect().toSeq
      }
      case Conn(s, tt) => t.call("graph", "connectionDistance") {
        Traversals.connectionDistance(biz, Seq((s, tt)).toDF("s_id", "t_id"), 2)
          .select("dist", "n_meet", "meet_min").as[(Long, Long, Long)].collect().toSeq
      }
    }
    t.add("graph.rows_out", rows.size.toDouble)
    rows
  }

  // ---- reference answers, computed on the driver from the collected edges
  private lazy val adj: Map[Long, Array[Long]] = {
    val ss = spark; import ss.implicits._
    val e = biz.as[(Long, Long)].collect()
    (e ++ e.map(_.swap)).distinct.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
  private lazy val wlayers: Seq[Map[Long, Array[(Long, Double)]]] = {
    val ss = spark; import ss.implicits._
    layers.map(_.as[(Long, Long, Double)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(x => (x._2, x._3)) })
  }

  private def bfs(seed: Long, radius: Int): Map[Long, Long] = {
    val depth = mutable.Map(seed -> 0L)
    var frontier = Seq(seed)
    (1 to radius).foreach { d =>
      frontier = frontier.flatMap(adj.getOrElse(_, Array.empty[Long])).distinct.filterNot(depth.contains)
      frontier.foreach(depth(_) = d.toLong)
    }
    depth.toMap
  }

  def check(o: Req, answer: Any): Option[String] = o match {
    case Ego(id) =>
      val got = answer.asInstanceOf[Seq[(Long, Long)]].toMap
      if (got == bfs(id, 2)) None else Some(s"ego $id: ${got.size} rows differ from BFS")
    case Conn(s, t) =>
      val ds = bfs(s, 2); val dt = bfs(t, 2)
      val tot = ds.collect { case (m, x) if dt.contains(m) => m -> (x + dt(m)) }
      val want = if (tot.isEmpty) Seq((-1L, 0L, -1L)) else {
        val d = tot.values.min
        val meets = tot.filter(_._2 == d).keys
        Seq((d, meets.size.toLong, meets.min))
      }
      if (answer == want) None else Some(s"conn $s-$t: $answer, expected $want")
    case Cone(sup) =>
      // share(owner) = sum over paths of the product of edge weights
      var state = Map(sup -> 1.0)
      wlayers.foreach { l =>
        val next = mutable.Map[Long, Double]().withDefaultValue(0.0)
        state.foreach { case (e, sh) => l.getOrElse(e, Array.empty).foreach { case (d, w) => next(d) += sh * w } }
        state = next.toMap
      }
      val ref = state.toSeq.map { case (k, v) => (k, BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (k, v) => (-v, k) }
      val got = answer.asInstanceOf[Seq[(Long, Double)]]
      val cut = if (ref.size > got.size) ref(got.size)._2 else -1.0
      val bad = got.filter { case (k, v) => math.abs(state.getOrElse(k, -1.0) - v) > 1.5e-6 || v < cut - 1.5e-6 }
      if (got.size == math.min(25, ref.size) && bad.isEmpty) None
      else Some(s"ubo $sup: ${got.size} rows, ${bad.size} off the reference cone")
  }

  override def extraMetrics(lat: Seq[(Req, Double)]): Seq[(String, Double, String, String)] = {
    val keys = lat.map(_._1.key)
    val repeats = keys.size - keys.distinct.size
    Seq(("repeat_share", repeats.toDouble / keys.size, "ratio", s"$repeats repeated of ${keys.size}")) ++
      lat.groupBy(x => name(x._1)).toSeq.sortBy(_._1).map { case (k, v) =>
        (s"${k}_p50_s", Main.median(v.map(_._2)), "s", s"n=${v.size}") }
  }
}
