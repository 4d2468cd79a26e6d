package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing BM25 inverted index — the RETRIEVAL family's maintained
  * artifact, completing the roster the other text operators built out
  * (LshIndex: dedup; IvfIndex/Pq: ANN; Bpe: vocabulary): l43/l48
  * re-tokenize the corpus per run, which is the right graded shape but
  * not what a 100 TB serving pipeline does — there, the corpus's postings
  * (token, doc_id, tf) and document lengths (doc_id, dl) are PERSISTED
  * tables, a query batch reads ONLY the term shards its tokens hash to
  * (partition pruning on `tshard = xxhash64(token) % nTermShards`), and
  * corpus stats (N, avgdl, df) are computed from the maintained doclen
  * table so appends and erasures move every score exactly as a
  * from-scratch rebuild would. Postings are ~2 longs + a token per
  * occurrence-class (one row per distinct (doc, term)) — the classic
  * inverted-file economics: query cost ∝ the probed terms' posting lists,
  * never ∝ corpus.
  *
  * Single-sourcing: tokenization and the scoring tail are
  * [[Retrieval.tokenize]]/[[Retrieval.scoreTf]] — the SAME bodies the
  * graded l43/l48 queries run — so the artifact can never drift from the
  * audited pipeline, and the graded l56_bm25_indexed carries l48's DuckDB
  * oracle machinery over the maintained corpus.
  *
  * Maintenance: [[appendTo]] lands a new batch's postings/doclen rows
  * inside the sharded layouts (pure append — both tables are
  * per-document, so append ≡ rebuild-over-union by construction; ids must
  * be new, the ingest contract every index here shares). Erasure is the
  * ONE artifact where the LshIndex/IvfIndex rewrite-touched-shards move
  * doesn't transfer: postings shard BY TERM (so probes prune), which
  * scatters each document across up to |its distinct terms| shards — a
  * doc-id erasure would touch nearly every term shard. The industry
  * answer (Lucene's) is what [[removeFrom]] implements: TOMBSTONES — the
  * erased ids land in a side table, every read path anti-joins them (the
  * docs become unservable immediately, and because doclens are filtered
  * too, N/avgdl/df shift exactly as if the docs were gone), and
  * [[compact]] later rewrites the touched shards to physically drop the
  * rows (the erasure-completion step; replaying either verb is a no-op).
  *
  * Layout ([[ShardStore]]): `postings/tshard=`, `doclens/shard=` and
  * `tombstones/` parquet tables; the term-shard count, the doclen shard
  * width and the three schemas live in the directory's manifest, read on
  * the driver, so a probe or append launches no meta or schema-inference
  * job. Compaction's rewrites are [[ShardStore.rewriteTouched]].
  */
final case class Bm25Index(postings: DataFrame, doclens: DataFrame) {

  /** Per-query BM25 top-`topK` against the indexed corpus for a query
    * TABLE (query_id, token, pos) — l48's output contract: (query_id,
    * doc_id, bm25, n_terms_hit, rk). The probe never tokenizes the
    * corpus: tf rows come from the postings table pruned to the query's
    * terms (broadcast left-semi — the bm25Batch plan shape), stats from
    * the doclen table. */
  def probe(qterms: DataFrame, topK: Int = 20): DataFrame = {
    val terms = qterms.select(col("token")).distinct()
    val tf = postings.join(broadcast(terms), Seq("token"), "left_semi")
    Retrieval.scoreTf(tf, doclens, qterms, topK)
  }

  /** In-memory append: the index over corpus ∪ delta (only the delta is
    * tokenized; postings/doclen rows are per-document, so append ≡
    * rebuild-over-union). Delta ids must not already be indexed. */
  def append(delta: DataFrame): Bm25Index = {
    val tok = Retrieval.tokenize(delta)
      .transform(graft.graph.Materialize.apply)
    Bm25Index(postings.unionByName(Bm25Index.postingsOf(tok)),
              doclens.unionByName(Bm25Index.doclensOf(tok)))
  }

  /** In-memory erasure: every posting and doclen row of the given doc ids
    * removed — erased docs can never be returned, and the corpus stats
    * (N, avgdl, df) shift exactly as a rebuild over survivors. Unknown
    * ids are no-ops (idempotent replay). */
  def remove(ids: DataFrame): Bm25Index = {
    val idf = ids.select(col("doc_id"))
    Bm25Index(postings.join(idf, Seq("doc_id"), "left_anti"),
              doclens.join(idf, Seq("doc_id"), "left_anti"))
  }
}

/** What [[Bm25Index.compact]] did: tombstoned docs physically dropped and
  * which `tshard=`/`shard=` partitions were rewritten — every other
  * partition is byte-untouched. */
final case class Bm25CompactStats(nDocsCompacted: Long,
                                  rewrittenTermShards: Seq[Long],
                                  rewrittenDoclenShards: Seq[Long])

object Bm25Index {

  /** Term-shard count for the persisted postings: probes prune to the
    * shards their query terms hash into, so the per-query read is
    * (matched shards / nTermShards) of the postings table before the
    * exact term semi-join. 64 keeps rehearsal fixtures multi-file; a
    * 100 TB deployment raises it so one shard ≈ one task's read. */
  val defaultTermShards: Int = 64

  /** Doclen shard width (the LshIndex convention): contiguous doc-id
    * ranges, so compaction of a clustered erasure batch rewrites few
    * doclen shards. */
  val defaultRowsPerShard: Long = 1L << 20

  private[text] def postingsOf(tok: DataFrame): DataFrame =
    tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))

  private[text] def doclensOf(tok: DataFrame): DataFrame =
    tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))

  private def tshardCol(nTermShards: Int) =
    pmod(xxhash64(col("token")), lit(nTermShards.toLong)).as("tshard")

  /** Build the standing index over a corpus: ONE tokenize pass feeding
    * both aggregations (the same jobs l43 runs per query, materialized
    * once). */
  def build(corpus: DataFrame): Bm25Index = {
    val tok = Retrieval.tokenize(corpus)
    Bm25Index(postingsOf(tok).transform(graft.graph.Materialize.apply),
              doclensOf(tok).transform(graft.graph.Materialize.apply))
  }

  /** Persist: postings sharded by term hash (probe pruning), doclens by
    * contiguous doc-id range, an empty tombstone table; the geometry and
    * the three schemas go to the manifest ([[ShardStore]]). */
  def save(idx: Bm25Index, dir: String,
           nTermShards: Int = defaultTermShards,
           rowsPerShard: Long = defaultRowsPerShard): Unit = {
    val spark = idx.postings.sparkSession
    ShardStore.commit(spark, dir,
      Map("n_term_shards" -> nTermShards.toLong, "rows_per_shard" -> rowsPerShard),
      Map(ShardStore.overwrite(idx.postings.withColumn("tshard", tshardCol(nTermShards)),
            dir, "postings", "tshard"),
          ShardStore.overwrite(ShardStore.withIdShard(idx.doclens, "doc_id", rowsPerShard),
            dir, "doclens", "shard"),
          ShardStore.overwrite(noTombstones(spark), dir, "tombstones")))
  }

  private def noTombstones(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("doc_id"))

  /** The persisted tables read with their declared schemas (no Spark
    * job), and the tombstoned ids every read path anti-joins (a replayed
    * erasure repeats an id, which an anti-join does not mind). */
  private def tables(spark: SparkSession, dir: String) = {
    val m = ShardStore.manifest(spark, dir)
    (m, ShardStore.read(spark, dir, m, "postings"), ShardStore.read(spark, dir, m, "doclens"),
     ShardStore.read(spark, dir, m, "tombstones").select(col("doc_id")))
  }

  /** Load the SERVING view: postings/doclens with tombstoned docs
    * anti-joined away — identical scores to an index rebuilt over
    * survivors, whether or not [[compact]] has run yet. */
  def load(spark: SparkSession, dir: String): Bm25Index = {
    val (_, postings, doclens, tomb) = tables(spark, dir)
    Bm25Index(
      postings.select("doc_id", "token", "tf").join(tomb, Seq("doc_id"), "left_anti"),
      doclens.select("doc_id", "dl").join(tomb, Seq("doc_id"), "left_anti"))
  }

  /** Incremental ingest against a persisted index: tokenize ONLY the new
    * docs, append their postings/doclen rows into the sharded layouts —
    * nothing on disk is rewritten, and the very next probe serves the
    * union's exact scores (stats recompute from the appended doclens). */
  def appendTo(spark: SparkSession, dir: String, delta: DataFrame): Unit = {
    val m = ShardStore.manifest(spark, dir)
    val tok = Retrieval.tokenize(delta)
      .transform(graft.graph.Materialize.apply)
    ShardStore.append(postingsOf(tok).withColumn("tshard", tshardCol(m.int("n_term_shards"))),
      dir, m, "postings", "tshard")
    ShardStore.append(ShardStore.withIdShard(doclensOf(tok), "doc_id", m.meta("rows_per_shard")),
      dir, m, "doclens", "shard")
  }

  /** Persisted erasure, tombstone form (see the class doc for why the
    * rewrite-touched-shards move doesn't transfer to a term-sharded
    * layout): the ids land in the tombstone table and every read path
    * anti-joins them — erased docs are unservable from this call on, and
    * scores equal a rebuild over survivors. Replay is a serving no-op
    * (a repeated tombstone anti-joins the same rows; [[compact]] counts
    * distinct ids and clears them). The
    * bytes remain until [[compact]] — the erasure-completion step. */
  def removeFrom(spark: SparkSession, dir: String, ids: DataFrame): Long = {
    val (idf, n) = graft.graph.Materialize.counted(ids.select(col("doc_id")).distinct())
    ShardStore.append(idf, dir, ShardStore.manifest(spark, dir), "tombstones")
    n
  }

  /** Probe a PERSISTED index without loading it whole: the postings read
    * prunes to the term shards the query's tokens hash into — the
    * collected pruning set is bounded by the SHARD DOMAIN (nTermShards
    * per partition of the term set), never by Q, and the exact term match
    * stays a broadcast semi-join (the l48 no-literal-list rule).
    * Tombstones anti-join both tables, so a probe between removeFrom and
    * compact already serves survivors. */
  def probeFrom(spark: SparkSession, dir: String, qterms: DataFrame,
                topK: Int = 20): DataFrame = {
    import spark.implicits._
    val (m, postings, doclens, tomb) = tables(spark, dir)
    // the shards straight from the query table, distinct within each
    // partition, not across them: one job and no shuffle, at most
    // nTermShards rows a partition
    val shards = qterms.select(tshardCol(m.int("n_term_shards"))).as[Long]
      .mapPartitions(_.toSet.iterator).collect().distinct.sorted
    // a repeated term on the build side of a semi-join changes nothing,
    // so the terms broadcast as they come, with no distinct's shuffle
    val tf = postings
      .filter(col("tshard").isin(shards.map(java.lang.Long.valueOf): _*))
      .join(broadcast(qterms.select(col("token"))), Seq("token"), "left_semi")
      .join(tomb, Seq("doc_id"), "left_anti")
      .select("doc_id", "token", "tf")
    val dl = doclens.select("doc_id", "dl").join(tomb, Seq("doc_id"), "left_anti")
    Retrieval.scoreTf(tf, dl, qterms, topK)
  }

  /** Erasure completion: physically drop every tombstoned doc's rows by
    * rewriting ONLY the partitions that hold them (term shards a dead
    * doc's postings scatter across; the doclen shards of its id range),
    * then clear the tombstone table. Untouched partitions are
    * byte-identical; emptied partition directories are dropped; probes
    * before and after are equal (the tombstone anti-join was already
    * serving survivors); replaying compact on a clean index is a no-op.
    * Both rewrites are [[ShardStore.rewriteTouched]] (its crash-window
    * note applies; the tombstones are cleared only after both). */
  def compact(spark: SparkSession, dir: String): Bm25CompactStats = {
    val (_, _, _, tombstones) = tables(spark, dir)
    val (tomb, nTomb) = graft.graph.Materialize.counted(tombstones.distinct())
    if (nTomb == 0L) return Bm25CompactStats(0L, Seq.empty, Seq.empty)
    val termShards = ShardStore.rewriteTouched(spark, dir, "postings", "tshard", "doc_id", tomb)
    val dlShards = ShardStore.rewriteTouched(spark, dir, "doclens", "shard", "doc_id", tomb)
    ShardStore.overwrite(noTombstones(spark), dir, "tombstones")
    Bm25CompactStats(nTomb, termShards.touched, dlShards.touched)
  }
}
