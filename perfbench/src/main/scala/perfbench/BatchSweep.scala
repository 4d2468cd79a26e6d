package perfbench

import java.io.{File, PrintWriter}

import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Order-insensitive digest of a result: row count plus the 64-bit sum of
  * per-row hashes. Computed by a Dataset action over the query's own plan,
  * so the final sort and every projection still execute. */
object Digest {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case x => x.toString
  }

  def rowHash(r: Row): Long = {
    val s = r.toSeq.map(canon).mkString("\u0001")
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) | (MurmurHash3.stringHash(s, 0xbeef) & 0xffffffffL)
  }

  def of(df: DataFrame): String = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = df.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r) }
      Iterator((n, h))
    }.collect()
    f"${parts.map(_._1).sum}:${parts.map(_._2).sum}%016x"
  }
}

/** Screening-report path: registry queries over the whole graph at a
  * fixed scale, in a seed-shuffled order, each into a digest sink. */
final class BatchSweep(a: Args) extends Workload {
  type O = String
  private var spark: SparkSession = _
  private lazy val expected: Map[String, String] = BatchSweep.loadExpected(a.expected, a.dataKey)

  /** Fixture load: every table's parquet footer and row count. */
  def setup(s: SparkSession): Unit = {
    spark = s
    BatchSweep.tables.foreach(graft.Tables(s, a.data).t(_).count())
  }

  /** One small scan-and-aggregate query. */
  override def warmUp(): Unit = Digest.of(graft.SparkEntry.queries("r09_agg")(spark, a.data))

  // one pass of the nine queries takes about 25 s on 4 cores
  def nOps(seconds: Int): Int = BatchSweep.queries.size * math.max(1, math.round(seconds / 25.0).toInt)

  def plan(seed: Long, n: Int): IndexedSeq[String] = {
    val rng = new Random(seed)
    Iterator.continually(rng.shuffle(BatchSweep.queries)).flatten.take(n).toIndexedSeq
  }

  def kind(o: String): String = "request"
  def name(o: String): String = o

  def run(q: String, t: Tracer): Any = {
    val df = t.call("compose", "build")(graft.SparkEntry.queries(q)(spark, a.data))
    t.call("compose", "execute")(Digest.of(df))
  }

  def check(q: String, answer: Any): Option[String] = expected.get(q) match {
    case Some(e) if e == answer => None
    case Some(e) => Some(s"digest $answer, expected $e")
    case None => Some(s"no expected digest for data ${a.dataKey}")
  }

  /** Measured beside the run: the ER blocker behind g50 (candidate volume
    * of the prefix-filter join and the pairs it keeps), and the graph calls
    * behind g39 and g37 on their inputs (strongest chains from the first
    * 100 users over INTERACTED, the time-ordered 1-2 hop reach motif). */
  override def traceCounters(t: Tracer): Unit = {
    import graft.graph.{GraphBuilder, Hop, Motif, Ubo}
    val tables = graft.Tables(spark, a.data)
    val e = Ubo.interactedWeighted(tables)
    val owners = e.filter(col("src") < GraphBuilder.UserBase + 100L).select(col("src").as("owner"))
    t.add("graph.rows_out", t.call("graph", "strongestChain")(Ubo.strongestChain(e, owners, maxHops = 4).count()).toDouble)
    val reach = Motif("u", None, Seq(Hop("w", relType = Some("INTERACTED"), timeOrdered = true,
      maxDelay = Some("1 HOUR"), repeat = Some((1, 2)))), notEqual = Seq(("u", "w")))
    t.add("graph.rows_out", t.call("graph", "Motif.find")(Motif.find(GraphBuilder(tables), reach).count()).toDouble)

    val labels = tables.part
      .groupBy(concat_ws(" ", col("p_name"), col("p_brand"), col("p_type")).as("label"))
      .agg(min(col("p_partkey")).as("id"))
      .select("id", "label")
    t.call("rel", "er") {
      t.add("rel.er.candidates", graft.rel.TokenSetJoin.candidateCount(labels, 0.6).toDouble)
      t.add("rel.er.pairs_out", graft.rel.TokenSetJoin.selfJoinJaccard(labels, 0.6).count().toDouble)
    }
  }

  /** Writes each query's result and digest plus its oracle SQL, for the
    * one-off DuckDB cross-check that admits digests to the expected file. */
  def record(out: String): Unit = {
    val s = graft.GraftSession.local(a.cpus.toString)
    val oracle = graft.SparkEntry.oracleSql
    val lines = BatchSweep.queries.map { q =>
      val df = graft.SparkEntry.queries(q)(s, a.data)
      df.write.mode("overwrite").parquet(s"$out/$q")
      val sql = oracle.getOrElse(q, "")
      s"""  "$q": {"digest": "${Digest.of(df)}", "sql": ${BatchSweep.jsonString(sql)}}"""
    }
    val w = new PrintWriter(new File(out, "record.json"))
    try w.write(lines.mkString("{\n", ",\n", "\n}\n")) finally w.close()
    s.stop()
  }
}

object BatchSweep {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  val queries: Seq[String] = Seq("g03_ubo_exposure", "g39_strongest_chain", "g37_motif_var_reach",
    "g07_cc_full", "g50_token_er_catalog", "l02_minhash_lsh", "l55_curation_tick",
    "r06_range_join", "r09_agg")

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => ""
      case '\t' => "\\t"
      case c => c.toString
    } + "\""

  /** Expected digests of one data set: the `dataKey` object of a JSON file
    * shaped {"<data key>": {"<query>": "<digest>"}}. */
  def loadExpected(path: String, dataKey: String): Map[String, String] = {
    val f = new File(path)
    if (!f.isFile) return Map.empty
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try (org.json4s.jackson.JsonMethods.parse(src.mkString) \ dataKey).extractOrElse[Map[String, String]](Map.empty)
    finally src.close()
  }
}
