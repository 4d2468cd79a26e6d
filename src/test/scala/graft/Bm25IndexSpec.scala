package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.text.{Bm25Index, Retrieval}

/** The standing BM25 inverted index's contract (round 16 — the retrieval
  * family's maintained artifact, mirroring LshIndexSpec/IvfIndexSpec/
  * PqSpec): the probe is bit-identical to the graded bm25Batch pipeline
  * (single-sourced scoring), the persisted layout round-trips and prunes
  * its postings read to the query terms' shards, append equals the
  * rebuild over the union, and erasure is tombstone-then-compact — docs
  * become unservable at removeFrom (scores ≡ rebuild over survivors),
  * compact physically drops their rows rewriting only touched partitions,
  * and both verbs replay as no-ops.
  */
class Bm25IndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sfDir).documents
  private lazy val corpus = docs.filter(col("doc_id") % 25 =!= 0)
  private lazy val batch = docs.filter(col("doc_id") % 25 === 0)
  private lazy val erase =
    corpus.filter(col("doc_id") % 37 === 0).select(col("doc_id"))

  private lazy val qterms = Seq(
    (1L, "spark", 0), (1L, "join", 1), (1L, "filter", 2),
    (2L, "hash", 0), (2L, "merge", 1), (2L, "sort", 2),
    (3L, "stream", 0), (3L, "window", 1), (3L, "batch", 2))
    .toDF("query_id", "token", "pos")

  private def rows(df: DataFrame): Set[(Long, Long, Double, Long, Long)] =
    df.select(col("query_id"), col("doc_id"), col("bm25"),
        col("n_terms_hit").cast("long"), col("rk"))
      .as[(Long, Long, Double, Long, Long)].collect().toSet

  private def partListing(dir: String, sub: String, prefix: String): Map[String, Seq[String]] = {
    val root = new java.io.File(dir, sub)
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName + ":" + f.length).sorted.toSeq)
      .toMap
  }

  test("index probe is bit-identical to the graded bm25Batch pipeline") {
    val viaIndex = rows(Bm25Index.build(corpus).probe(qterms))
    val viaBatch = rows(Retrieval.bm25Batch(corpus, qterms))
    assert(viaIndex.nonEmpty)
    assert(viaIndex === viaBatch)
  }

  test("save/load round-trips; probeFrom equals the in-memory probe and prunes term shards") {
    val dir = java.nio.file.Files.createTempDirectory("bm25").toString
    val built = Bm25Index.build(corpus)
    Bm25Index.save(built, dir, nTermShards = 16, rowsPerShard = 64)
    val expected = rows(built.probe(qterms))
    assert(rows(Bm25Index.load(spark, dir).probe(qterms)) === expected)
    val probed = Bm25Index.probeFrom(spark, dir, qterms)
    assert(rows(probed) === expected)
    // the persisted probe reads ONLY the term shards the query terms hash
    // into — pruning reaches the file source (checked on the scan node's
    // own numFiles metric; inputFiles reports pre-pruning)
    def postingsFilesRead(df: DataFrame): Long = {
      df.collect()
      // descend through AQE wrappers — query stages hide their plans from
      // a plain collect
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      val postingScans = scans(df.queryExecution.executedPlan).filter(
        _.relation.location.rootPaths.exists(_.toString.contains("/postings")))
      assert(postingScans.nonEmpty,
        s"no postings file scan in:\n${df.queryExecution.executedPlan}")
      postingScans.map(_.metrics("numFiles").value).sum
    }
    val planStr = probed.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("tshard"),
      s"expected a partition-pruned postings scan, got:\n$planStr")
    // df counts the postings of each token, which are unique per
    // (doc_id, token): no shuffle on that pair, as a distinct would add
    probed.collect()
    val shuffledOn = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(probed.queryExecution.executedPlan) {
        case ShuffleExchangeExec(h: HashPartitioning, _, _, _) =>
          h.expressions.flatMap(_.references.map(_.name)).toSet
      }
    assert(shuffledOn.nonEmpty && !shuffledOn.contains(Set("token", "doc_id")),
      s"hash exchanges on ${shuffledOn.mkString(", ")}")
    val full = postingsFilesRead(Bm25Index.load(spark, dir).probe(qterms))
    val pruned = postingsFilesRead(Bm25Index.probeFrom(spark, dir, qterms))
    assert(pruned < full, s"pruned probe reads $pruned of $full posting files")
  }

  test("appendTo equals the rebuild over the union and rewrites nothing") {
    val dir = java.nio.file.Files.createTempDirectory("bm25").toString
    Bm25Index.save(Bm25Index.build(corpus), dir, nTermShards = 16, rowsPerShard = 64)
    val before = partListing(dir, "postings", "tshard=")
    Bm25Index.appendTo(spark, dir, batch)
    val after = partListing(dir, "postings", "tshard=")
    before.foreach { case (shard, files) =>
      val kept = after.getOrElse(shard, Seq.empty)
      files.foreach(f => assert(kept.contains(f),
        s"appendTo rewrote pre-existing file $f in $shard"))
    }
    val viaMaintained = rows(Bm25Index.probeFrom(spark, dir, qterms))
    val viaRebuild = rows(Bm25Index.build(corpus.unionByName(batch)).probe(qterms))
    assert(viaMaintained === viaRebuild)
  }

  test("removeFrom tombstones: scores equal a rebuild over survivors, erased docs never surface, replay is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("bm25").toString
    Bm25Index.save(Bm25Index.build(corpus), dir, nTermShards = 16, rowsPerShard = 64)
    val n = Bm25Index.removeFrom(spark, dir, erase)
    assert(n > 0L)
    val erasedIds = erase.as[Long].collect().toSet
    val survivors = corpus.join(erase, Seq("doc_id"), "left_anti")
    val expected = rows(Bm25Index.build(survivors).probe(qterms))
    val afterRemove = rows(Bm25Index.probeFrom(spark, dir, qterms))
    assert(afterRemove === expected)
    assert(afterRemove.forall { case (_, docId, _, _, _) => !erasedIds.contains(docId) })
    assert(rows(Bm25Index.load(spark, dir).probe(qterms)) === expected)
    Bm25Index.removeFrom(spark, dir, erase) // at-least-once redelivery
    assert(rows(Bm25Index.probeFrom(spark, dir, qterms)) === expected)
    // the in-memory erasure agrees with the persisted one
    assert(rows(Bm25Index.build(corpus).remove(erase).probe(qterms)) === expected)
  }

  test("compact drops erased bytes, rewrites only touched partitions, and leaves the probe unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("bm25").toString
    Bm25Index.save(Bm25Index.build(corpus), dir, nTermShards = 16, rowsPerShard = 64)
    // a CLUSTERED erasure batch (one crawl, one id range — the shape the
    // doclen shard economics exist for); the uniform %-shaped batch is
    // the removeFrom test's job
    val erase = corpus.filter(col("doc_id") >= 100 && col("doc_id") < 160)
      .select(col("doc_id"))
    Bm25Index.removeFrom(spark, dir, erase)
    val expected = rows(Bm25Index.probeFrom(spark, dir, qterms))
    val dlBefore = partListing(dir, "doclens", "shard=")
    val stats = Bm25Index.compact(spark, dir)
    assert(stats.nDocsCompacted > 0L)
    assert(rows(Bm25Index.probeFrom(spark, dir, qterms)) === expected)
    // physically gone: the raw parquet (no tombstone filter) holds no erased id
    val erasedIds = erase.as[Long].collect().toSet
    val rawDocs = spark.read.parquet(s"$dir/postings")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(rawDocs.intersect(erasedIds).isEmpty)
    assert(spark.read.parquet(s"$dir/tombstones").count() === 0L)
    // untouched doclen shards are byte-identical
    val dlAfter = partListing(dir, "doclens", "shard=")
    val touched = stats.rewrittenDoclenShards.map(s => s"shard=$s").toSet
    dlBefore.filterNot { case (sh, _) => touched.contains(sh) }
      .foreach { case (sh, files) =>
        assert(dlAfter.getOrElse(sh, Seq.empty) === files,
          s"compact rewrote untouched doclen shard $sh")
      }
    assert(touched.size < dlBefore.size,
      "fixture degenerate: every doclen shard was touched by the erasure")
    // compact on a clean index is a no-op
    val again = Bm25Index.compact(spark, dir)
    assert(again.nDocsCompacted === 0L)
    assert(rows(Bm25Index.probeFrom(spark, dir, qterms)) === expected)
  }
}
