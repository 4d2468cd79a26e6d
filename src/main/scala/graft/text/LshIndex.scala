package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing MinHash-LSH dedup index — the DEDUP family's maintained
  * artifact, completing the arc the vector store joined in round 15
  * (IvfIndex: build-once / append / sampled-refit / remove): l02/l46
  * recompute every signature per run, which is the right graded shape but
  * not what a 100 TB ingest pipeline does — there, the corpus's band
  * buckets are a PERSISTED table and each arriving batch is deduped
  * against it by (1) sketching ONLY the batch, (2) an equi-join of the
  * batch's band buckets against the standing table (batch side broadcasts
  * — the index is scanned, never shuffled), (3) an exact-Jaccard rerank
  * that re-reads the corpus for CANDIDATE docs only (semi-join pruning —
  * at 100 TB this is the difference between reading everything and
  * reading the collision set). The index row is (doc_id, band, minhash)
  * — 12 longs per document, ~1/1000th of a text corpus — so the standing
  * artifact is cheap to store and cheap to scan.
  *
  * One owner of the near-duplicate decision: a word-trigram set
  * ([[LshIndex.grams]]), a 12-lane poly_hash minhash, a band equi-join
  * and an exact Jaccard distance ≤ 0.8 rounded to 6 places. Its two
  * forms both live here: [[LshIndex.selfPairs]] (pairs within one doc
  * set — l02/l02b/l46 and the streaming curation tick's within-batch
  * dedup) and [[probe]] (a batch against the indexed corpus — l52, l55
  * and the tick's stage 1b), so the graded queries, the standing index
  * and the streaming loop can never drift apart. Maintenance mirrors
  * IvfIndex: [[LshIndex.appendTo]] lands new docs' bucket rows inside the
  * sharded layout; [[LshIndex.removeFrom]] (erasure — the
  * g68/g69/t17b/l47c contract) rewrites only the shards holding deleted
  * docs and is idempotent under at-least-once redelivery.
  *
  * Layout ([[ShardStore]]): one `buckets/shard=` parquet table; the band
  * width, the shard width and the bucket schema live in the directory's
  * manifest, read on the driver, so [[LshIndex.load]] and
  * [[LshIndex.appendTo]] launch no meta or schema-inference job.
  */
final case class LshIndex(buckets: DataFrame, bandRows: Int) {

  /** Near-duplicates of `batch` against the INDEXED corpus: LSH candidate
    * pairs (batch bucket table ⋈ standing bucket table on the band
    * columns; the batch side is batch-sized and broadcasts) reranked by
    * exact trigram Jaccard. `corpus` supplies the text for the rerank —
    * only CANDIDATE corpus docs are re-tokenized (left-semi pruning), so
    * the rerank cost is ∝ collisions, not corpus. Output: (batch_id,
    * corpus_id, jaccard_dist) for pairs within [[LshIndex.selfPairs]]'s
    * distance, so probe results are comparable with the batch-graded
    * pipeline. Batch ids must be disjoint from indexed ids (they are not
    * yet ingested — the contract of an ingest dedup).
    */
  def probe(batch: DataFrame, corpus: DataFrame): DataFrame = {
    val bandCols = LshIndex.bandCols(bandRows)
    val bb = LshIndex.buckets(batch, bandRows)
      .withColumnRenamed("doc_id", "batch_id")
    val cand = buckets.withColumnRenamed("doc_id", "corpus_id")
      .join(broadcast(bb), bandCols)
      .select(col("batch_id"), col("corpus_id")).distinct()
      .transform(graft.graph.Materialize.apply)
    val tgB = LshIndex.grams(batch)
      .select(col("doc_id").as("batch_id"), col("g"))
    val tgC = LshIndex.grams(
        corpus.join(cand.select(col("corpus_id").as("doc_id")),
          Seq("doc_id"), "left_semi"))
      .select(col("doc_id").as("corpus_id"), col("g"))
      .transform(graft.graph.Materialize.apply)
    val szB = tgB.groupBy("batch_id").agg(count(lit(1)).as("nb"))
    val szC = tgC.groupBy("corpus_id").agg(count(lit(1)).as("nc"))
    cand
      .join(tgB, Seq("batch_id"))
      .join(tgC, Seq("corpus_id", "g"))
      .groupBy("batch_id", "corpus_id").agg(count(lit(1)).as("i"))
      .join(szB, Seq("batch_id"))
      .join(szC, Seq("corpus_id"))
      .transform(LshIndex.nearDups("nb", "nc"))
      .select(col("batch_id"), col("corpus_id"), col("jaccard_dist"))
  }

  /** In-memory erasure: every bucket row of the given doc ids removed —
    * erased docs can never again surface as dedup candidates. Unknown ids
    * are no-ops (idempotent replay). */
  def remove(ids: DataFrame): LshIndex =
    copy(buckets = buckets.join(
      ids.select(col("doc_id")), Seq("doc_id"), "left_anti"))
}

/** What [[LshIndex.removeFrom]] did: distinct docs the erasure batch hit
  * and which `shard=` partitions were rewritten — every other shard is
  * byte-untouched. */
final case class LshRemoveStats(nDocsRemoved: Long, rewrittenShards: Seq[Long])

object LshIndex {

  /** The l02 sketch family: 12 odd multipliers for the poly_hash minhash
    * lanes (single-sourced — LlmQueries' graded pipeline reads THIS val). */
  val minhashMults: Seq[Long] =
    Seq(31L, 37L, 41L, 43L, 47L, 53L, 59L, 61L, 67L, 71L, 73L, 79L)

  /** Shard width for the persisted layout: bucket rows partition by
    * `shard = doc_id / rowsPerShard`, so a CONTIGUOUS id range (one
    * crawl, one source — the shape real erasure batches take) lives in
    * few shards and [[removeFrom]] rewrites only those; a %-sampled
    * batch spreads across all shards (the same uniform-vs-clustered
    * bound the IvfIndex erasure table measures). Probing never uses the
    * shard: candidates come from the band-column equi-join with the
    * batch side broadcast. */
  val defaultRowsPerShard: Long = 1L << 20

  /** The near-duplicate threshold on the rounded Jaccard distance. */
  private val maxDist = 0.8

  private def bandCols(bandRows: Int): Seq[String] =
    Seq("h") ++ (0 until bandRows).map(r => s"mh_r$r")

  /** Distinct word-trigram set per doc — the l02/l03/l16 tokenization
    * verbatim (docs under 3 words have no trigrams and drop out). */
  def grams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
        .as("g"))
      .distinct()

  /** Band-bucket rows: one row per (doc, band) carrying the band's
    * `bandRows` minhashes — the index row format and the LSH join key.
    * Callers must have registered GraftFunctions. */
  def buckets(docs: DataFrame, bandRows: Int = 1): DataFrame =
    bucketsOf(grams(docs), bandRows, withN = false)

  /** [[buckets]] over a gram table: the 12-lane sketch (poly_hash mins
    * over each doc's trigram set) stacked into bands. `withN` counts each
    * doc's distinct trigrams in the same sketch aggregation and carries
    * the count `n` onto every band row (aggregate before the shuffle), so
    * [[selfPairs]]'s rerank needs no separate whole-gram groupBy nor the
    * joins back to it. The standing index rows never carry it. */
  private def bucketsOf(tg: DataFrame, bandRows: Int, withN: Boolean): DataFrame = {
    require(minhashMults.size % bandRows == 0,
      s"bandRows=$bandRows must divide the ${minhashMults.size}-hash sketch; " +
        "a non-divisor would silently drop trailing minhashes from the banding")
    val mins = minhashMults.zipWithIndex.map { case (m, h) =>
      min(expr(s"poly_hash(g, 0L, ${m}L)")).as(s"mh$h") }
    val n = if (withN) Seq("n") else Nil
    val sketch = tg.groupBy("doc_id")
      .agg(mins.head, (mins.tail ++ n.map(c => count(lit(1)).as(c))): _*)
    val nBands = minhashMults.size / bandRows
    val stackExpr = (0 until nBands).map(b =>
      (Seq(s"$b") ++ (0 until bandRows).map(r => s"mh${b * bandRows + r}")).mkString(", ")).mkString(", ")
    sketch.select((col("doc_id") +: n.map(col)) :+
      expr(s"stack($nBands, $stackExpr)").as(bandCols(bandRows)): _*)
  }

  /** The rerank's last step: `pairs` carrying the shared-trigram count `i`
    * and both docs' trigram counts get their exact Jaccard distance,
    * rounded to 6 places, and keep it only within [[maxDist]]. */
  private def nearDups(n1: String, n2: String)(pairs: DataFrame): DataFrame =
    pairs.withColumn("jaccard_dist",
        round(lit(1.0) - col("i").cast("double") / (col(n1) + col(n2) - col("i")), 6))
      .filter(col("jaccard_dist") <= maxDist)

  /** Near-duplicate pairs WITHIN one doc set: (a, b, jaccard_dist), a < b,
    * unsorted — the banded self-join at band width `bandRows` (`bandRows`
    * minhashes a band, 12/bandRows bands) reranked by exact Jaccard. The
    * dataflow of l02 (r=1, recall-first), l02b (r=2, precision-first)
    * and l46, and the streaming curation tick's within-batch dedup.
    * Callers must have registered GraftFunctions.
    *
    * The gram table is NOT checkpointed (r17 opt): it ends in a distinct
    * — an Exchange on (doc_id, g) — and AQE's runtime exchange reuse
    * dedups the identical subtree across all three consumers (sketch +
    * both rerank sides), so the explode runs once either way. A
    * localCheckpoint would add a blocking job + a block-manager write AND
    * erase the partitioning, forcing the (b, g) rerank side to
    * re-exchange rows the distinct had already hashed. n is functionally
    * determined by the doc id, so widening the distinct / group keys by
    * (na, nb) changes no cardinality and no result. */
  def selfPairs(docs: DataFrame, bandRows: Int): DataFrame = {
    val tg = grams(docs)
    val bc = bandCols(bandRows)
    val bkt = bucketsOf(tg, bandRows, withN = true)
    val cand = bkt.select(col("doc_id").as("a") +: col("n").as("na") +: bc.map(col): _*)
      .join(bkt.select(col("doc_id").as("b") +: col("n").as("nb") +: bc.map(col): _*), bc)
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("na"), col("nb")).distinct()
    cand
      .join(tg.select(col("doc_id").as("a"), col("g")), Seq("a"))
      .join(tg.select(col("doc_id").as("b"), col("g")), Seq("b", "g"))
      .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("i"))
      .transform(nearDups("na", "nb"))
      .select(col("a"), col("b"), col("jaccard_dist"))
  }

  /** Build the standing index over a corpus (one tokenize + sketch pass —
    * the same jobs the batch pipeline runs, materialized once). */
  def build(corpus: DataFrame, bandRows: Int = 1): LshIndex =
    LshIndex(buckets(corpus, bandRows)
      .transform(graft.graph.Materialize.apply), bandRows)

  /** Persist: bucket rows sharded by contiguous doc-id range (see
    * [[defaultRowsPerShard]]); band width, shard width and the bucket
    * schema go to the manifest ([[ShardStore]]). */
  def save(idx: LshIndex, dir: String,
           rowsPerShard: Long = defaultRowsPerShard): Unit = {
    val spark = idx.buckets.sparkSession
    ShardStore.commit(spark, dir,
      Map("band_rows" -> idx.bandRows.toLong, "rows_per_shard" -> rowsPerShard),
      Map(ShardStore.overwrite(ShardStore.withIdShard(idx.buckets, "doc_id", rowsPerShard),
        dir, "buckets", "shard")))
  }

  /** Load a persisted index: geometry from the manifest on the driver,
    * buckets read with their declared schema — no Spark job. */
  def load(spark: SparkSession, dir: String): LshIndex = {
    val m = ShardStore.manifest(spark, dir)
    val bandRows = m.int("band_rows")
    LshIndex(ShardStore.read(spark, dir, m, "buckets")
      .select(col("doc_id") +: bandCols(bandRows).map(col): _*), bandRows)
  }

  /** Incremental ingest against a persisted index: sketch ONLY the new
    * docs, append their bucket rows into the sharded layout — nothing on
    * disk is rewritten. Signatures are per-document, so the appended
    * index equals a from-scratch rebuild of the union (LshIndexSpec). */
  def appendTo(spark: SparkSession, dir: String, delta: DataFrame): Unit = {
    val m = ShardStore.manifest(spark, dir)
    ShardStore.append(ShardStore.withIdShard(buckets(delta, m.int("band_rows")), "doc_id",
      m.meta("rows_per_shard")), dir, m, "buckets", "shard")
  }

  /** Persisted erasure (the IvfIndex.removeFrom pattern on the dedup
    * side): delete the given doc ids' bucket rows by rewriting ONLY the
    * shards that hold them — every untouched shard is byte-identical,
    * emptied shard directories are dropped, and replaying the batch is a
    * no-op (unknown ids touch nothing). One path for every index:
    * [[ShardStore.rewriteTouched]] (its crash-window note applies). */
  def removeFrom(spark: SparkSession, dir: String, ids: DataFrame): LshRemoveStats = {
    val r = ShardStore.rewriteTouched(spark, dir, "buckets", "shard", "doc_id", ids)
    LshRemoveStats(r.keys, r.touched)
  }
}
