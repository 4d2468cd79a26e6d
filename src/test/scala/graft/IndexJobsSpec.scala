package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.text.{Bm25Index, IvfIndex, LshIndex, Pq}

/** The persisted indexes resolve their metadata on the driver: a warm
  * load or probe reads the manifest and the session's cached centroids,
  * never a parquet footer or a meta row, so it launches no schema-
  * inference (`parquet at`) or meta (`head at`) job; an IVF probe is one
  * job. The caches follow the data: a refresh's centroids and a rewritten
  * fixture's schema are seen in the same session.
  */
class IndexJobsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sfDir).documents.select("doc_id", "text")
  private lazy val emb = Tables(spark, sfDir).embeddings.select("vec_id", "embedding")
  private lazy val qArr = emb.filter(col("vec_id") === 0)
    .head().getSeq[Float](1).map(_.toDouble).toArray

  /** The call site (final stage name) of every job `f` launches. */
  private def jobSites[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    GraftSparkInternals.drainListenerBus(sc, 10000L)
    val sites = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      assert(GraftSparkInternals.drainListenerBus(sc, 10000L), "listener bus did not drain")
      (out, sites.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def noMetadataJobs(what: String)(f: => Any): Unit = {
    val (_, sites) = jobSites(f)
    val meta = sites.filter(s => s.startsWith("parquet at") || s.startsWith("head at"))
    assert(meta.isEmpty, s"$what launched metadata jobs: ${meta.mkString(", ")}")
  }

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  test("a warm IVF load + candidates + collect runs exactly one job") {
    val dir = tmp("ivfjobs")
    IvfIndex.save(IvfIndex.build(emb, k = 4), dir)
    IvfIndex.load(spark, dir) // the session's one centroid read for this version
    val q = qArr
    val (rows, sites) = jobSites(
      IvfIndex.load(spark, dir).candidates(q, nprobe = 2).select("vec_id").collect())
    assert(rows.nonEmpty)
    assert(sites.size === 1, s"expected one job, got ${sites.mkString(", ")}")
  }

  test("probeFrom, load, appendTo/encodeTo and Tables reads launch no parquet-inference or head job") {
    graft.functions.GraftFunctions.register(spark)
    val (bm, lsh, ivf, pq) = (tmp("bm25jobs"), tmp("lshjobs"), tmp("ivfjobs"), tmp("pqjobs"))
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    Bm25Index.save(Bm25Index.build(base), bm, nTermShards = 8)
    LshIndex.save(LshIndex.build(base), lsh)
    IvfIndex.save(IvfIndex.build(emb.filter(col("vec_id") % 10 =!= 0), k = 4), ivf)
    val (cb, codes) = Pq.model(emb, m = 8, k = 4)
    Pq.save(cb, Pq.pack(codes, 8), pq, m = 8)
    Tables(spark, sfDir).documents // the session's one schema read for the fixture file
    val qterms = Seq((1L, "spark", 0), (1L, "join", 1)).toDF("query_id", "token", "pos")
    noMetadataJobs("Bm25Index.probeFrom")(Bm25Index.probeFrom(spark, bm, qterms).collect())
    noMetadataJobs("LshIndex.load")(LshIndex.load(spark, lsh))
    noMetadataJobs("IvfIndex.load")(IvfIndex.load(spark, ivf))
    noMetadataJobs("Tables.documents")(Tables(spark, sfDir).documents)
    noMetadataJobs("Bm25Index.appendTo")(Bm25Index.appendTo(spark, bm, delta))
    noMetadataJobs("LshIndex.appendTo")(LshIndex.appendTo(spark, lsh, delta))
    noMetadataJobs("IvfIndex.appendTo")(
      IvfIndex.appendTo(spark, ivf, emb.filter(col("vec_id") % 10 === 0)))
    noMetadataJobs("Pq.encodeTo")(Pq.encodeTo(spark, pq, emb.filter(col("vec_id") < 3)))
    // the appended rows serve
    assert(IvfIndex.load(spark, ivf).assigned.count() === emb.count())
  }

  test("a load after refresh sees the refreshed centroids, not the session's cached ones") {
    val dir = tmp("ivfrefresh")
    val base = emb.filter(col("vec_id") % 2 === 0)
    IvfIndex.save(IvfIndex.build(base, k = 4), dir)
    val before = IvfIndex.load(spark, dir).centroids.map { case (c, v) => c -> v.toSeq }.toSeq
    // shifted arrivals move the refit's centroids
    IvfIndex.appendTo(spark, dir, emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), expr("transform(embedding, x -> x + 1.0f)").as("embedding")))
    IvfIndex.refresh(spark, dir, k = 4)
    val after = IvfIndex.load(spark, dir).centroids.map { case (c, v) => c -> v.toSeq }.toSeq
    val rebuilt = IvfIndex.build(IvfIndex.load(spark, dir).assigned.drop("cluster"), k = 4)
      .centroids.map { case (c, v) => c -> v.toSeq }.toSeq
    assert(after !== before, "refresh moved no centroid: the fixture does not test the cache")
    assert(after === rebuilt)
  }

  test("Tables reads a fixture file's new schema after it is rewritten in the same session") {
    val dir = tmp("tables")
    def writeFixture(df: org.apache.spark.sql.DataFrame): Unit = {
      val out = s"$dir/out"
      df.coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, "documents.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeFixture(Seq((1L, "a b c")).toDF("doc_id", "text"))
    assert(Tables(spark, dir).documents.columns.toSeq === Seq("doc_id", "text"))
    writeFixture(Seq((1L, "a b c", 7)).toDF("doc_id", "text", "lang"))
    val now = Tables(spark, dir).documents
    assert(now.columns.toSeq === Seq("doc_id", "text", "lang"))
    assert(now.as[(Long, String, Int)].collect().toSeq === Seq((1L, "a b c", 7)))
  }
}
