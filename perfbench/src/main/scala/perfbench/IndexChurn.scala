package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.stream.{DocEvent, IndexMaintain, VecEvent}
import graft.text.{Bm25Index, IvfIndex, LshIndex}

object IndexChurn {
  sealed trait Op { def name: String; def kind: String }
  /** A probe carries the ids live and the ids erased when it runs. */
  sealed trait Probe extends Op { def live: Set[Long]; def erased: Set[Long]; def kind = "probe" }
  final case class BmProbe(queries: Seq[Seq[String]], live: Set[Long], erased: Set[Long])
    extends Probe { def name = "bm25_probe" }
  final case class LshProbe(batch: Seq[(Long, String)], live: Set[Long], erased: Set[Long])
    extends Probe { def name = "lsh_probe" }
  final case class IvfProbe(q: Array[Double], live: Set[Long], erased: Set[Long])
    extends Probe { def name = "ivf_probe" }
  final case class DocBatch(add: Seq[Long], erase: Seq[Long]) extends Op {
    def name = "lsh_ingest"; def kind = "write" }
  final case class VecBatch(add: Seq[Long], erase: Seq[Long]) extends Op {
    def name = "ivf_ingest"; def kind = "write" }
  final case class BmAppend(add: Seq[Long]) extends Op { def name = "bm25_append"; def kind = "write" }
  final case class BmRemove(erase: Seq[Long]) extends Op { def name = "bm25_remove"; def kind = "write" }
  case object BmCompact extends Op { def name = "bm25_compact"; def kind = "write" }
}

/** The write path: persisted BM25, MinHash-LSH and IVF indexes built over
  * part of the corpus, then a seeded mix of probes, signed ingest batches
  * (arrivals plus erasures), BM25 appends and erasures, and a periodic
  * BM25 compaction. Every operation's inputs and the survivor set it
  * sees are fixed when the run is planned. */
final class IndexChurn(a: Args) extends Workload {
  import IndexChurn._
  type O = Op

  private val TopK = 10
  private val NProbe = 2
  private var spark: SparkSession = _
  private var root: File = _
  private def dir(ix: String) = new File(root, ix).getPath
  private var docs: Map[Long, String] = Map.empty
  private var vecs: Map[Long, Array[Double]] = Map.empty
  private var init = (Set.empty[Long], Set.empty[Long]) // initial doc ids, vec ids
  private var finalLive = Map.empty[String, Set[Long]]

  // write accounting (filled between operations, outside the timed section)
  private var before: Map[String, (Long, Long)] = Map.empty
  private var bytesWritten = 0L
  private var filesWritten = 0L
  private var ingested = 0L
  private var shardsRewritten = 0L

  private def docsDf(ids: Iterable[Long]): DataFrame = {
    val ss = spark; import ss.implicits._
    ids.toSeq.sorted.map(i => (i, docs(i))).toDF("doc_id", "text")
  }
  private def vecsDf(ids: Iterable[Long]): DataFrame = {
    val ss = spark; import ss.implicits._
    ids.toSeq.sorted.map(i => (i, vecs(i).toSeq)).toDF("vec_id", "embedding")
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    val t = graft.Tables(s, a.data)
    docs = t.documents.select("doc_id", "text").as[(Long, String)].collect().toMap
    vecs = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().map { case (k, v) => k -> v.toArray }.toMap
    val rng = new Random(a.seed)
    def pick(ids: Iterable[Long]) = rng.shuffle(ids.toSeq.sorted).take(ids.size * 3 / 5).toSet
    init = (pick(docs.keys), pick(vecs.keys))
    root = new File(a.work, "indexes")
    deleteTree(root)
    root.mkdirs()
    // 8 term shards: the corpus has a few dozen distinct terms
    Bm25Index.save(Bm25Index.build(docsDf(init._1)), dir("bm25"), nTermShards = 8)
    LshIndex.save(LshIndex.build(docsDf(init._1)), dir("lsh"))
    IvfIndex.save(IvfIndex.build(vecsDf(init._2), k = 8), dir("ivf"))
  }

  /** One probe of each index. */
  override def warmUp(): Unit = {
    val warm = new Tracer(false)
    Seq(BmProbe(Seq(Seq("spark", "join")), Set.empty, Set.empty),
        LshProbe(Seq((-1L, docs(init._1.min))), Set.empty, Set.empty),
        IvfProbe(vecs(init._2.min), Set.empty, Set.empty)).foreach(run(_, warm))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // about 1.1 s per operation on 4 cores
  def nOps(seconds: Int): Int = math.max(10, math.round(seconds / 1.1).toInt)

  /** Every tenth operation compacts BM25; the rest follow a fixed mix in
    * seeded order: 3 BM25, 3 LSH and 3 IVF probes, 3 LSH and 3 IVF ingest
    * batches (4 arrivals, 2 erasures), 3 BM25 appends (4 docs) and 2 BM25
    * erasures (2 docs) in every 20. */
  def plan(seed: Long, n: Int): IndexedSeq[Op] = {
    val rng = new Random(seed ^ 0x5DEECE66DL)
    val words = docs.values.flatMap(_.split(" ")).toSeq.distinct.sorted
    val live = mutable.Map("bm25" -> init._1, "lsh" -> init._1, "ivf" -> init._2)
    val erased = mutable.Map("bm25" -> Set.empty[Long], "lsh" -> Set.empty[Long], "ivf" -> Set.empty[Long])
    val pools = mutable.Map(
      "bm25" -> rng.shuffle((docs.keySet -- init._1).toSeq.sorted),
      "lsh" -> rng.shuffle((docs.keySet -- init._1).toSeq.sorted),
      "ivf" -> rng.shuffle((vecs.keySet -- init._2).toSeq.sorted))
    def arrive(ix: String, k: Int): Seq[Long] = {
      val (take, rest) = pools(ix).splitAt(k)
      pools(ix) = rest; live(ix) = live(ix) ++ take; take
    }
    def erase(ix: String, k: Int): Seq[Long] = {
      val gone = rng.shuffle(live(ix).toSeq.sorted).take(k)
      live(ix) = live(ix) -- gone; erased(ix) = erased(ix) ++ gone; gone
    }
    val nMix = n - n / 10
    val mix = rng.shuffle((0 until nMix).map(i => i * 20 / nMix)).iterator
    val ops = (0 until n).map { i =>
      if (i % 10 == 9) BmCompact
      else mix.next() match {
        case x if x < 3 =>
          BmProbe(Seq.fill(2)(Seq.fill(3)(words(rng.nextInt(words.size)))), live("bm25"), erased("bm25"))
        case x if x < 6 =>
          val near = docs(live("lsh").toSeq.sorted.apply(rng.nextInt(live("lsh").size)))
          val other = docs(rng.nextInt(docs.size).toLong)
          LshProbe(Seq((1000000000L + 10L * i, near + " probe"), (1000000001L + 10L * i, other)),
            live("lsh"), erased("lsh"))
        case x if x < 9 =>
          val v = vecs(rng.nextInt(vecs.size).toLong)
          IvfProbe(v.map(_ + 0.05 * rng.nextGaussian()), live("ivf"), erased("ivf"))
        // erasures are picked before the arrivals join the live set: the
        // batch applies erasures first, so a same-batch arrival is never erased
        case x if x < 12 => val er = erase("lsh", 2); DocBatch(arrive("lsh", 4), er)
        case x if x < 15 => val er = erase("ivf", 2); VecBatch(arrive("ivf", 4), er)
        case x if x < 18 => BmAppend(arrive("bm25", 4))
        case _ => BmRemove(erase("bm25", 2))
      }
    }
    finalLive = live.toMap
    planned = ops
    ops
  }

  private var planned: IndexedSeq[Op] = Vector.empty

  /** LSH candidate pairs (band-bucket collisions) against the final index
    * for every probe batch of the run, and the pairs the rerank keeps. */
  override def traceCounters(t: Tracer): Unit = {
    val ss = spark; import ss.implicits._
    val idx = LshIndex.load(spark, dir("lsh"))
    val corpus = graft.Tables(spark, a.data).documents
    planned.collect { case LshProbe(batch, _, _) => batch }.foreach { batch =>
      val b = batch.toDF("doc_id", "text")
      t.call("text", "lsh.candidates") {
        val cand = idx.buckets.withColumnRenamed("doc_id", "corpus_id")
          .join(LshIndex.buckets(b, idx.bandRows).withColumnRenamed("doc_id", "batch_id"),
            Seq("h") ++ (0 until idx.bandRows).map(r => s"mh_r$r"))
          .select("batch_id", "corpus_id").distinct().count()
        t.add("text.lsh.candidates", cand.toDouble)
        t.add("text.lsh.pairs_out", idx.probe(b, corpus).count().toDouble)
      }
    }
  }

  def kind(o: Op): String = o.kind
  def name(o: Op): String = o.name

  private def snapshot(): Map[String, (Long, Long)] = {
    val out = mutable.Map[String, (Long, Long)]()
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else out(f.getPath) = (f.length, f.lastModified)
    walk(root)
    out.toMap
  }

  override def prepare(o: Op): Unit = if (o.kind == "write") before = snapshot()

  override def settle(o: Op, t: Tracer): Unit = if (o.kind == "write") {
    val after = snapshot()
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    bytesWritten += changed.values.map(_._1).sum
    filesWritten += changed.size
    t.add("text.bytes_written", changed.values.map(_._1).sum.toDouble)
    t.add("text.files_written", changed.size.toDouble)
    ingested += (o match {
      case DocBatch(add, er) => add.map(i => docs(i).getBytes("UTF-8").length.toLong).sum + 8L * er.size
      case VecBatch(add, er) => add.size * 64L * 4L + 8L * er.size
      case BmAppend(add) => add.map(i => docs(i).getBytes("UTF-8").length.toLong).sum
      case BmRemove(er) => 8L * er.size
      case _ => 0L
    })
  }

  def run(o: Op, t: Tracer): Any = {
    val ss = spark; import ss.implicits._
    o match {
      case BmProbe(qs, _, _) =>
        val qterms = qs.zipWithIndex.flatMap { case (q, qi) =>
          q.zipWithIndex.map { case (w, p) => (qi.toLong, w, p) } }.toDF("query_id", "token", "pos")
        t.call("text", "bm25.probe") {
          Bm25Index.probeFrom(spark, dir("bm25"), qterms, topK = TopK)
            .select("query_id", "doc_id", "bm25").as[(Long, Long, Double)].collect().toSeq
        }
      case LshProbe(batch, _, _) =>
        val b = batch.toDF("doc_id", "text")
        t.call("text", "lsh.probe") {
          LshIndex.load(spark, dir("lsh")).probe(b, graft.Tables(spark, a.data).documents)
            .as[(Long, Long, Double)].collect().toSeq
        }
      case IvfProbe(q, _, _) =>
        t.call("text", "ivf.probe") {
          IvfIndex.load(spark, dir("ivf")).candidates(q, NProbe)
            .select(col("vec_id"), aggregate(zip_with(col("embedding"), typedLit(q.toSeq),
              (x, y) => (x - y) * (x - y)), lit(0.0), _ + _).as("d2"))
            .orderBy("d2", "vec_id").limit(TopK).as[(Long, Double)].collect().toSeq
        }
      case DocBatch(add, er) =>
        val batch = (er.map(i => DocEvent(i, "", erased = true)) ++
          add.map(i => DocEvent(i, docs(i), erased = false))).toDF()
        t.add("stream.batch_rows", (add.size + er.size).toDouble)
        t.call("stream", "applyDocBatch")(IndexMaintain.applyDocBatch(spark, dir("lsh"), batch))
      case VecBatch(add, er) =>
        val batch = (er.map(i => VecEvent(i, Seq.empty, erased = true)) ++
          add.map(i => VecEvent(i, vecs(i).toSeq, erased = false))).toDF()
        t.add("stream.batch_rows", (add.size + er.size).toDouble)
        t.call("stream", "applyVecBatch")(IndexMaintain.applyVecBatch(spark, dir("ivf"), batch))
      case BmAppend(add) =>
        val d = docsDf(add)
        t.call("text", "bm25.append")(Bm25Index.appendTo(spark, dir("bm25"), d))
      case BmRemove(er) =>
        val ids = er.toDF("doc_id")
        t.call("text", "bm25.remove")(Bm25Index.removeFrom(spark, dir("bm25"), ids))
      case BmCompact =>
        val st = t.call("text", "bm25.compact")(Bm25Index.compact(spark, dir("bm25")))
        val n = st.rewrittenTermShards.size + st.rewrittenDoclenShards.size
        shardsRewritten += n
        t.add("text.shards_rewritten", n.toDouble)
        st
    }
  }

  // ---- reference answers, computed on the driver

  /** BM25 top-k over the live documents: Retrieval.scoreTf's formula
    * (k1 = 1.2, b = 0.75, weights summed in query-position order). */
  private def bm25Ref(q: Seq[String], live: Set[Long]): Seq[(Long, Double)] = {
    val toks = live.toSeq.map(i => i -> docs(i).split(" ", -1).toSeq)
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.size.toLong).sum.toDouble / n
    val df = toks.flatMap(_._2.distinct).groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
    toks.flatMap { case (id, ts) =>
      val tf = ts.groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
      val hits = q.filter(tf.contains)
      if (hits.isEmpty) None else {
        val raw = hits.foldLeft(0.0) { (acc, w) =>
          val idf = math.log(1.0 + (n - df(w) + 0.5) / (df(w) + 0.5))
          acc + idf * (tf(w) * (1.2 + 1)) / (tf(w) + 1.2 * ((1 - 0.75) + 0.75 * ts.size.toDouble / avgdl))
        }
        Some(id -> raw)
      }
    }.sortBy { case (id, s) => (-s, id) }
  }

  private def validTopK(got: Seq[(Long, Double)], ref: Seq[(Long, Double)], tol: Double): Boolean = {
    val refMap = ref.toMap
    val cut = if (ref.size > got.size) ref(got.size)._2 else Double.NegativeInfinity
    got.size == math.min(TopK, ref.size) &&
      got.forall { case (id, s) => refMap.get(id).exists(r => math.abs(r - s) <= tol) && s >= cut - tol }
  }

  private def trigrams(s: String): Set[String] = {
    val ws = s.split(" ", -1)
    if (ws.length < 3) Set.empty else ws.sliding(3).map(_.mkString(" ")).toSet
  }

  private lazy val centroids: Array[(Long, Array[Double])] = IvfIndex.load(spark, dir("ivf")).centroids
  private def d2(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { val d = x(i) - y(i); s += d * d; i += 1 }
    s
  }
  private def nearest(v: Long): Long = centroids.minBy { case (c, x) => (d2(vecs(v), x), c) }._1
  /** Cluster of a vector: persisted if it is in the final index, else
    * (erased during the run) its nearest centroid. */
  private def clusterRef(v: Long): Long = clusterOf.getOrElse(v, nearest(v))

  /** Persisted cluster of every vector in the final index. */
  private lazy val clusterOf: Map[Long, Long] = {
    val ss = spark; import ss.implicits._
    IvfIndex.load(spark, dir("ivf")).assigned.select("vec_id", "cluster").as[(Long, Long)].collect().toMap
  }

  def check(o: Op, answer: Any): Option[String] = {
    def noErased(ids: Seq[Long]): Option[String] = o match {
      case p: Probe => ids.find(p.erased).map(i => s"${o.name} returned erased id $i")
      case _ => None
    }
    o match {
      case BmProbe(qs, live, _) =>
        val got = answer.asInstanceOf[Seq[(Long, Long, Double)]]
        noErased(got.map(_._2)).orElse {
          val bad = qs.indices.filterNot { qi =>
            validTopK(got.filter(_._1 == qi).map(r => (r._2, r._3)), bm25Ref(qs(qi), live), 2e-6)
          }
          if (bad.isEmpty) None else Some(s"bm25 probe: queries ${bad.mkString(",")} differ from reference")
        }
      case LshProbe(batch, live, _) =>
        val got = answer.asInstanceOf[Seq[(Long, Long, Double)]]
        val text = batch.toMap
        noErased(got.map(_._2)).orElse {
          val bad = got.filterNot { case (b, c, d) =>
            val x = trigrams(text(b)); val y = trigrams(docs(c))
            val j = 1.0 - (x & y).size.toDouble / (x | y).size
            live(c) && d <= 0.8 && math.abs(j - d) <= 1e-6
          }
          if (bad.isEmpty) None else Some(s"lsh probe: ${bad.size} pairs not live or off their Jaccard")
        }
      case IvfProbe(q, live, _) =>
        val got = answer.asInstanceOf[Seq[(Long, Double)]]
        noErased(got.map(_._1)).orElse {
          val near = IvfIndex(centroids, null).nearestClusters(q, NProbe).toSet
          val want = live.toSeq.filter(v => near(clusterRef(v)))
            .map(v => v -> d2(vecs(v), q)).sortBy { case (v, d) => (d, v) }.take(TopK)
          if (got.map(_._1) == want.map(_._1)) None
          else Some(s"ivf probe: ${got.map(_._1)} != ${want.map(_._1)}")
        }
      case _ => None
    }
  }

  /** The persisted indexes at the end of the run against indexes built
    * in memory over the surviving ids. */
  override def finalCheck(): Seq[String] = {
    val ss = spark; import ss.implicits._
    val errs = mutable.ArrayBuffer[String]()
    val bmLive = finalLive("bm25")
    val qterms = Seq((0L, "spark", 0), (0L, "join", 1), (1L, "window", 0), (1L, "row", 1), (1L, "dup", 2))
      .toDF("query_id", "token", "pos")
    def rows(df: DataFrame) = df.select("query_id", "doc_id", "bm25", "rk")
      .as[(Long, Long, Double, Long)].collect().toSet
    if (rows(Bm25Index.probeFrom(spark, dir("bm25"), qterms, topK = TopK)) !=
        rows(Bm25Index.build(docsDf(bmLive)).probe(qterms, topK = TopK)))
      errs += "bm25: persisted probe differs from an in-memory build over survivors"
    val lshLive = finalLive("lsh")
    val batch = lshLive.toSeq.sorted.take(5).map(i => (2000000000L + i, docs(i) + " probe")).toDF("doc_id", "text")
    val corpus = graft.Tables(spark, a.data).documents
    def pairs(df: DataFrame) = df.as[(Long, Long, Double)].collect().toSet
    if (pairs(LshIndex.load(spark, dir("lsh")).probe(batch, corpus)) !=
        pairs(LshIndex.build(docsDf(lshLive)).probe(batch, corpus)))
      errs += "lsh: persisted probe differs from an in-memory build over survivors"
    val ivfLive = finalLive("ivf")
    if (clusterOf.keySet != ivfLive)
      errs += s"ivf: persisted ids differ from survivors: extra ${(clusterOf.keySet -- ivfLive).toSeq.sorted}, " +
        s"missing ${(ivfLive -- clusterOf.keySet).toSeq.sorted}"
    val misplaced = ivfLive.count { v =>
      val ds = centroids.map { case (c, x) => c -> d2(vecs(v), x) }
      val best = ds.map(_._2).min
      clusterOf.get(v).forall(c => ds.find(_._1 == c).forall(_._2 > best + 1e-9))
    }
    if (misplaced > 0) errs += s"ivf: $misplaced vectors not in their nearest cluster"
    errs.toSeq
  }

  override def extraMetrics(lat: Seq[(Op, Double)]): Seq[(String, Double, String, String)] = {
    def stats(k: String) = {
      val xs = lat.filter(_._1.kind == k).map(_._2)
      val (tv, tp) = Main.tail(xs)
      Seq((s"${k}_p50_s", Main.median(xs), "s", s"n=${xs.size}"),
          (s"${k}_tail_s", tv, "s", f"p$tp%.1f, n=${xs.size}"))
    }
    val onDisk = snapshot().values.map(_._1).sum
    val liveBytes = (finalLive("bm25").toSeq ++ finalLive("lsh").toSeq)
      .map(i => docs(i).getBytes("UTF-8").length.toLong).sum + finalLive("ivf").size * 64L * 4L
    stats("probe") ++ stats("write") ++ Seq(
      ("write_amp", bytesWritten.toDouble / math.max(1L, ingested), "ratio",
        s"$bytesWritten bytes in $filesWritten files for $ingested ingested"),
      ("space_amp", onDisk.toDouble / liveBytes, "ratio", s"$onDisk on disk for $liveBytes live"),
      ("shards_rewritten", shardsRewritten.toDouble, "count", "by compaction"))
  }
}
