package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A persisted PQ code table, loaded: the m·k·subDim-row codebook (a
  * broadcast-sized constant), the packed one-row-per-vector codes (the
  * serving scan's input — [[Pq.adcPacked]]), and the geometry needed to
  * score against them. See [[Pq.save]] for the layout. */
final case class PqStore(codebook: DataFrame, codes: DataFrame,
                         m: Int, subDim: Int)

/** What [[Pq.removeFrom]] did: distinct vectors the erasure batch hit and
  * which `shard=` partitions were rewritten — every other shard and the
  * codebook are byte-untouched. */
final case class PqRemoveStats(nRemoved: Long, rewrittenShards: Seq[Long])

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search" — PAPERS.md) — the compression half of the
  * canonical billion-vector layout (IVF prunes WHICH vectors to read;
  * PQ shrinks WHAT is read per vector): the 64-dim float vector (256 B)
  * becomes `m` one-byte codes (8 B at m=8) — each of the `m` contiguous
  * 8-dim SUBSPACES is quantized independently against its own `k`-entry
  * codebook, and a query scores candidates with ASYMMETRIC DISTANCE
  * COMPUTATION (ADC): one m×k table of exact query-to-subcentroid
  * distances (m·k = 128 doubles, broadcast-sized), then each vector's
  * approximate distance is the sum of its m table lookups — no float
  * vector is ever read at query time.
  *
  * Spark-first shape: the quantizer is ONE dataflow for all m subspaces —
  * [[LlmQueries.lloydModel]]'s position-exploded two-round Lloyd with
  * `sub = pos div subDim` added to every key (assign = argmin per
  * (vec_id, sub), update = mean per (sub, cid, pos)) — so determinism,
  * seeding (the k lowest-id vectors' subvectors seed every subspace),
  * and the near-tie hazard class are exactly the audited l05_ann_ivf
  * quantizer's, and the graded l53 carries a full DuckDB oracle
  * ([[pqCtes]]). ADC sums the m per-subspace lookups in FIXED subspace
  * order (a conditional pivot, never an engine-ordered float SUM — the
  * l43/l48 discipline), so the doubles are engine-stable bit-for-bit.
  *
  * Scale: codes are 32× smaller than the vectors, so the ADC scan reads
  * 1/32nd the bytes of a brute-force cosine pass; the codebook table is
  * a broadcast constant. Composed with [[IvfIndex]] (probe nprobe
  * buckets, ADC within them) this is the standard IVF-PQ serving stack;
  * the composition rides the existing partition pruning unchanged.
  */
object Pq {

  /** Fit the per-subspace codebooks and encode every vector: returns
    * (codebook (sub, cid, pos, c), codes (vec_id, sub, cid)) — `m` code
    * rows per vector. Pure function of (data, m, k): two Lloyd rounds
    * from the k lowest-id seeds per subspace, squared-euclidean argmin
    * with (d2, cid) tie order. `emb` carries (vec_id, embedding); dim
    * must divide by m.
    */
  def model(emb: DataFrame, m: Int, k: Int): (DataFrame, DataFrame) = {
    val pts = subPts(emb, m, "vec_id", "v")
    val init = subPts(emb.orderBy("vec_id").limit(k)
      .withColumnRenamed("vec_id", "cid"), m, "cid", "c")
    def update(asg: DataFrame): DataFrame =
      asg.join(pts, Seq("vec_id", "sub"))
        .groupBy(col("sub"), col("cid"), col("pos")).agg(avg(col("v")).as("c"))
    val c1 = update(encode(init, emb, m))
    (c1, encode(c1, emb, m))
  }

  /** [[model]] with the Lloyd update count as a knob — the PQ half of the
    * round-16 production-fit pair (see IvfIndex.buildIterated): same
    * deterministic seeds and tie orders, `updates` assign/update rounds
    * with per-round materialization (the plan stays one round deep), the
    * per-subspace k-means objective non-increasing in `updates`.
    * `updates = 1` equals [[model]] exactly (PqSpec pins it); the graded
    * queries keep the 1-update form their oracles mirror. */
  def modelIterated(emb: DataFrame, m: Int, k: Int,
                    updates: Int): (DataFrame, DataFrame) = {
    require(updates >= 1, s"updates must be >= 1, got $updates")
    val pts = subPts(emb, m, "vec_id", "v")
    val init = subPts(emb.orderBy("vec_id").limit(k)
      .withColumnRenamed("vec_id", "cid"), m, "cid", "c")
    def update(asg: DataFrame): DataFrame =
      asg.join(pts, Seq("vec_id", "sub"))
        .groupBy(col("sub"), col("cid"), col("pos")).agg(avg(col("v")).as("c"))
    var cent = init
    for (_ <- 1 to updates)
      cent = update(encode(cent, emb, m)).transform(graft.graph.Materialize.apply)
    (cent, encode(cent, emb, m))
  }

  /** Encode vectors against a FIXED codebook — the assignment half of the
    * quantizer as a standalone function of (codebook, vectors): per
    * (vector, subspace) the squared-euclidean argmin over the k codes,
    * ties toward the lower code id — exactly [[model]]'s assignment (model
    * calls THIS), so encoding base + delta in two passes equals encoding
    * the union in one (PqSpec proves it; the IvfIndex.assign posture).
    * This is the ingest path for a persisted code table ([[encodeTo]]):
    * new vectors take codes without refitting — codebook drift from a
    * shifted corpus distribution is a periodic refit's job, exactly as
    * for the IVF centroids. Scale: the m·k·subDim codebook broadcasts;
    * a batch costs one scan + one partial-aggregating groupBy.
    */
  def encode(codebook: DataFrame, emb: DataFrame, m: Int): DataFrame = {
    val pts = subPts(emb, m, "vec_id", "v")
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("d2"), col("cid"))
    pts.join(broadcast(codebook.select(col("sub"), col("cid"), col("pos"), col("c"))),
        Seq("sub", "pos"))
      .groupBy(col("vec_id"), col("sub"), col("cid"))
      .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("vec_id"), col("sub"), col("cid"))
  }

  /** ADC's query contract, enforced (ADVICE r15): the MAX-pivot table in
    * [[adc]] silently blends multiple query rows into one garbage table,
    * and [[adcPacked]]'s take(1) on an unordered frame would pick a
    * plan-dependent row — so >1 rows is a loud error, not a wrong answer.
    * ZERO rows stays legal (schema-only result — the l47b empty-slice
    * guard). The one surviving row's dimension must be m·subDim or the
    * driver-side subvector indexing in adcPacked mis-indexes.
    */
  private def requireSingleQuery(query: DataFrame, m: Int, subDim: Int): Unit = {
    val rows = query.select(size(col("embedding")).as("dim")).take(2)
    require(rows.length <= 1,
      s"ADC scores against exactly one query vector; got ${rows.length}+ rows " +
        "(probe per-query or loop the batch)")
    rows.headOption.foreach { r =>
      require(r.getInt(0) == m * subDim,
        s"query dimension ${r.getInt(0)} != m*subDim = ${m * subDim}")
    }
  }

  /** Position-exploded subvector points: (id, sub, pos, value) with
    * sub = pos div (dim/m) — the lloydModel explode with the subspace
    * key attached. */
  private def subPts(emb: DataFrame, m: Int, idCol: String, vCol: String): DataFrame =
    emb.select(col(idCol), size(col("embedding")).as("dim"),
        posexplode(col("embedding")).as(Seq("p", "v0")))
      .select(col(idCol),
        expr(s"CAST(p AS LONG) div CAST(dim div $m AS LONG)").as("sub"),
        col("p").cast("long").as("pos"),
        col("v0").cast("double").as(vCol))

  /** ADC scores for ONE query against every encoded vector: the m×k
    * query-to-subcentroid distance table (one aggregation over the
    * broadcast-sized codebook), then per vector the FIXED-ORDER sum of
    * its m lookups. Output (vec_id, pq_d2) — approximate squared
    * euclidean, rounded to 6 (the cross-engine comparison discipline).
    */
  def adc(codebook: DataFrame, codes: DataFrame, query: DataFrame, m: Int,
          subDim: Int = 8): DataFrame = {
    requireSingleQuery(query, m, subDim)
    val qpts = subPts(query.select(lit(0L).as("qid"), col("embedding")),
      m, "qid", "qv").drop("qid")
    // the table entry is OUTPUT-bearing (it sums into pq_d2), so its
    // subDim terms add in FIXED within-subspace position order (pos mod
    // subDim pivot) — never an engine-ordered float SUM (the l43/l48
    // discipline). The codebook's AVG centroids keep lloydModel's audited
    // form; their cross-engine noise is ~1e-15 absolute against values
    // O(1..100) rounded to 6 decimals — six orders of margin, same
    // argument as the round-6 score family.
    val sq = (col("qv") - col("c")) * (col("qv") - col("c"))
    val fixedPosSum = (0 until subDim)
      .map(j => coalesce(max(when(pmod(col("pos"), lit(subDim)) === j, sq)), lit(0.0)))
      .reduce(_ + _)
    val table = qpts.join(codebook, Seq("sub", "pos"))
      .groupBy(col("sub"), col("cid"))
      .agg(fixedPosSum.as("d"))
    val fixedSum = (0 until m)
      .map(s0 => coalesce(max(when(col("sub") === s0, col("d"))), lit(0.0)))
      .reduce(_ + _)
    codes.join(broadcast(table), Seq("sub", "cid"))
      .groupBy(col("vec_id"))
      .agg(round(fixedSum, 6).as("pq_d2"))
  }

  /** Pack the per-subspace code rows into ONE row per vector — the
    * serving layout: (vec_id, codes array in subspace order). 8 bytes of
    * information per vector (the array encoding costs more on disk than
    * a true byte-pack, but the row count — the scan's cost driver — is
    * corpus-sized, not 8× it). */
  def pack(codes: DataFrame, m: Int): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(array((0 until m).map(s =>
        max(when(col("sub") === s, col("cid")))): _*).as("codes"))

  /** ADC over the PACKED layout — the shape a serving scan runs: the m×k
    * table is computed DRIVER-SIDE (m·k = 128 doubles — the IvfIndex
    * centroid-pull argument) in the same fixed within-subspace position
    * order as [[adc]]'s pivot, then compiled into a codegen'd
    * CASE-lookup chain over the codes array: one scan of one
    * corpus-sized row set, no join, no shuffle before the top-k. Values
    * are bit-identical to [[adc]]'s (same sums in the same order), so
    * the graded oracle is shared.
    */
  def adcPacked(codebook: DataFrame, packedCodes: DataFrame, query: DataFrame,
                m: Int, subDim: Int = 8): DataFrame = {
    requireSingleQuery(query, m, subDim)
    val book = bookOf(codebook)
    queryVector(query).fold(noScores(packedCodes)) { qv =>
      packedCodes.select(col("vec_id"), caseScore(book, qv, m, subDim).as("pq_d2"))
    }
  }

  /** The codebook on the driver: (sub, cid) → the centroid's subDim
    * coordinates in position order. */
  private def bookOf(codebook: DataFrame): Map[(Long, Long), Array[Double]] =
    codebook.select(col("sub"), col("cid"), col("pos"), col("c"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy(_._1).map(_._2).toArray).toMap

  /** The one query row's embedding as doubles; None for an empty slice. */
  private def queryVector(query: DataFrame): Option[Array[Double]] =
    query.select(expr("transform(embedding, v -> CAST(v AS DOUBLE))"))
      .take(1).headOption.map(_.getSeq[Double](0).toArray)

  /** Empty query slice: schema-only result, never a throw. */
  private def noScores(packedCodes: DataFrame): DataFrame =
    packedCodes.select(col("vec_id"), lit(null).cast("double").as("pq_d2")).limit(0)

  /** ADC of `qv` as a compiled CASE-lookup chain over the codes array:
    * the m×k table summed on the driver in fixed sequential
    * within-subspace order (bit-stable across runs), one `when` chain per
    * subspace, rounded to 6. */
  private def caseScore(book: Map[(Long, Long), Array[Double]], qv: Array[Double],
                        m: Int, subDim: Int): Column = {
    val table: Map[(Long, Long), Double] = book.map { case ((s, cid), c) =>
      var d = 0.0
      var j = 0
      while (j < c.length) {
        val diff = qv(s.toInt * subDim + j) - c(j); d += diff * diff; j += 1
      }
      (s, cid) -> d
    }.toMap
    val perSub = (0 until m).map { s =>
      val cases = table.toSeq.collect { case ((sl, cid), d) if sl == s => (cid, d) }
        .sortBy(_._1)
      cases.foldLeft(lit(0.0)) { case (acc, (cid, d)) =>
        when(element_at(col("codes"), s + 1) === cid, lit(d)).otherwise(acc)
      }
    }
    round(perSub.reduce(_ + _), 6)
  }

  /** Residual vectors against the coarse IVF tessellation — the encoding
    * Jégou 2011 calls IVFADC (VERDICT r15 #1: the composition l54 names):
    * each vector is replaced by x − q₁(x), its offset from ITS OWN coarse
    * centroid, before PQ fitting/encoding. Residuals across buckets share
    * one distribution centered at 0, so a single shared m-subspace
    * codebook spends its k codes on the LOCAL geometry instead of
    * re-encoding the coarse position the IVF bucket id already carries —
    * that reuse is what makes 8-byte codes serve at billion scale.
    * Dataflow: one broadcast join against the k-row centroid table and a
    * codegen'd zip_with — the PQ fit/encode/pack pipeline downstream is
    * [[model]]/[[pack]] UNCHANGED on the residual frame. Output
    * (vec_id, cluster, embedding) with embedding = the double residual;
    * `cluster` rides along because the ADC side needs it (the query's
    * residual is PER PROBED BUCKET — [[adcPackedResidual]]).
    */
  def residuals(emb: DataFrame, assigned: DataFrame, centroids: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"))
      .join(assigned.select(col("vec_id"), col("cluster")), "vec_id")
      .join(broadcast(centroids.select(col("cluster"), col("centroid"))), "cluster")
      .select(col("vec_id"), col("cluster"),
        expr("zip_with(embedding, centroid, (v, c) -> CAST(v AS DOUBLE) - c)")
          .as("embedding"))

  /** ADC over RESIDUAL-encoded packed codes (the IVFADC serving scan):
    * because codes quantize x − q₁(x), the query-to-code distance table
    * is per PROBED BUCKET — for bucket c the query's residual is
    * q − centroid_c, giving its own m×k table (nprobe·m·k doubles, still
    * driver-sized). `packedCodes` must carry (vec_id, cluster, codes);
    * the scan is one branch per probed bucket — a cluster-pruned slice of
    * the code table scored by that bucket's compiled CASE chain (each
    * branch is exactly [[adcPacked]]'s shape) — unioned, no join, no
    * shuffle before the top-k. ‖q − x‖² ≈ Σ_s ‖(q − c)_s − cb_s[code]‖²
    * since x = c + r̃: the same identity the raw form uses, shifted by
    * the bucket centroid. Rounded to 6 (cross-engine discipline).
    */
  def adcPackedResidual(codebook: DataFrame, packedCodes: DataFrame,
                        query: DataFrame,
                        centroids: Array[(Long, Array[Double])],
                        probed: Seq[Long], m: Int, subDim: Int = 8): DataFrame = {
    requireSingleQuery(query, m, subDim)
    require(probed.nonEmpty, "adcPackedResidual needs at least one probed bucket")
    val book = bookOf(codebook)
    val qv = queryVector(query) match {
      case Some(v) => v
      case None => return noScores(packedCodes)
    }
    val centById = centroids.toMap
    val branches = probed.distinct.sorted.map { cl =>
      val cent = centById.getOrElse(cl,
        throw new IllegalArgumentException(s"probed bucket $cl not in centroid table"))
      // the query's residual against this bucket, scored by adcPacked's chain
      val resid = qv.indices.map(i => qv(i) - cent(i)).toArray
      packedCodes.filter(col("cluster") === cl)
        .select(col("vec_id"), caseScore(book, resid, m, subDim).as("pq_d2"))
    }
    branches.reduce(_.unionByName(_))
  }

  /** DuckDB mirror of the RESIDUAL fit + per-bucket ADC ([[residuals]] +
    * [[model]] + [[adcPackedResidual]]): CTE chain ending in
    * `pq_adc(vec_id, pq_d2)` restricted to the probed buckets' members.
    * Assumes in scope: `c1` (cid, pos, c) — the IVF centroid table,
    * `a2` (vec_id, cid) — the IVF assignments, and `probes` (cid) — the
    * probed bucket set (all three come verbatim from l05_ann_ivf's
    * lloydCtes + probe CTEs, the single-sourcing rule). Same seeding
    * (k lowest corpus ids' residuals), rounds, tie orders, and fixed
    * pivots as [[pqCtes]], over residual points. */
  def pqResidualCtes(src: String, qsrc: String, m: Int, k: Int, dim: Int = 64): String = {
    val subDim = dim / m
    val pivot = (0 until m)
      .map(s0 => s"COALESCE(MAX(CASE WHEN t.sub = $s0 THEN t.d END), 0.0)")
      .mkString(" + ")
    s"""spts AS (SELECT s.vec_id, i AS pos, CAST(s.embedding[i + 1] AS DOUBLE) AS v
       |         FROM $src s, UNNEST(range($dim)) AS t(i)),
       |rpts AS MATERIALIZED (SELECT p.vec_id, p.pos // $subDim AS sub, p.pos, p.v - c.c AS v
       |        FROM spts p JOIN a2 a ON a.vec_id = p.vec_id
       |                    JOIN c1 c ON c.cid = a.cid AND c.pos = p.pos),
       |pinit AS (SELECT r.vec_id AS cid, r.sub, r.pos, r.v AS c
       |          FROM rpts r
       |          WHERE r.vec_id IN (SELECT vec_id FROM $src ORDER BY vec_id LIMIT $k)),
       |pd1 AS (SELECT p.vec_id, p.sub, c.cid, SUM((p.v - c.c) * (p.v - c.c)) AS d2
       |        FROM rpts p JOIN pinit c ON c.sub = p.sub AND c.pos = p.pos
       |        GROUP BY 1, 2, 3),
       |pa1 AS (SELECT vec_id, sub, cid FROM (
       |          SELECT vec_id, sub, cid,
       |                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |          FROM pd1) WHERE rn = 1),
       |pc1 AS (SELECT a.sub, a.cid, p.pos, AVG(p.v) AS c
       |        FROM pa1 a JOIN rpts p ON p.vec_id = a.vec_id AND p.sub = a.sub
       |        GROUP BY 1, 2, 3),
       |pd2 AS (SELECT p.vec_id, p.sub, c.cid, SUM((p.v - c.c) * (p.v - c.c)) AS d2
       |        FROM rpts p JOIN pc1 c ON c.sub = p.sub AND c.pos = p.pos
       |        GROUP BY 1, 2, 3),
       |pa2 AS (SELECT vec_id, sub, cid FROM (
       |          SELECT vec_id, sub, cid,
       |                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |          FROM pd2) WHERE rn = 1),
       |qspts AS (SELECT i AS pos, CAST(q.embedding[i + 1] AS DOUBLE) AS qv
       |          FROM $qsrc q, UNNEST(range($dim)) AS t(i)),
       |qres AS (SELECT pr.cid AS pcid, p.pos // $subDim AS sub, p.pos, p.qv - c.c AS qv
       |         FROM qspts p CROSS JOIN probes pr
       |              JOIN c1 c ON c.cid = pr.cid AND c.pos = p.pos),
       |qtab AS (SELECT r.pcid, cb.sub, cb.cid, ${(0 until subDim).map(j =>
                  s"COALESCE(MAX(CASE WHEN cb.pos % $subDim = $j THEN (r.qv - cb.c) * (r.qv - cb.c) END), 0.0)")
                  .mkString(" + ")} AS d
       |         FROM qres r JOIN pc1 cb ON cb.sub = r.sub AND cb.pos = r.pos
       |         GROUP BY 1, 2, 3),
       |pq_adc AS (SELECT a.vec_id, ROUND($pivot, 6) AS pq_d2
       |           FROM pa2 a
       |           JOIN a2 iv ON iv.vec_id = a.vec_id
       |           JOIN probes pr ON pr.cid = iv.cid
       |           JOIN qtab t ON t.pcid = iv.cid AND t.sub = a.sub AND t.cid = a.cid
       |           GROUP BY a.vec_id)""".stripMargin
  }

  /** Shard width for the persisted code table: packed rows partition by
    * `shard = vec_id / rowsPerShard` — the LshIndex posture: a contiguous
    * id range (one crawl, one source — the shape real erasure batches
    * take) lives in few shards, so [[removeFrom]] rewrites only those.
    * The serving scan reads all shards regardless (ADC is a full pass
    * over the candidate codes); sharding exists for MAINTENANCE, and at
    * 2²⁰ rows a shard holds ~12 MB of packed codes — rewrite-sized. */
  val defaultRowsPerShard: Long = 1L << 20

  /** Persist a fitted PQ artifact (VERDICT r15 #2 — the code table joins
    * the maintained-artifact roster alongside IvfIndex and LshIndex):
    * packed codes sharded by contiguous id range (`codes/shard=`), the
    * codebook as one file; the geometry (m, subDim, shard width) and both
    * schemas go to the manifest ([[ShardStore]]), and a load serves the
    * codebook from the session's per-version copy. A deployment fits once
    * ([[model]] + [[pack]]), saves, then serves ([[load]] +
    * [[adcPacked]]), ingests ([[encodeTo]] — encode-only, no refit), and
    * erases ([[removeFrom]]) without ever touching the fit again;
    * codebook drift from a shifted corpus is a periodic refit + save,
    * exactly the IVF-centroid posture. */
  def save(codebook: DataFrame, packedCodes: DataFrame, dir: String, m: Int,
           subDim: Int = 8, rowsPerShard: Long = defaultRowsPerShard): Unit = {
    val spark = codebook.sparkSession
    ShardStore.commit(spark, dir,
      Map("m" -> m.toLong, "sub_dim" -> subDim.toLong, "rows_per_shard" -> rowsPerShard),
      Map(ShardStore.overwrite(ShardStore.withIdShard(
            packedCodes.select(col("vec_id"), col("codes")), "vec_id", rowsPerShard),
            dir, "codes", "shard"),
          ShardStore.overwrite(codebook.select(col("sub"), col("cid"), col("pos"), col("c"))
            .coalesce(1), dir, "codebook")))
  }

  /** The saved codebook, collected once per session per manifest version
    * and served as a local table (no Spark job once warm). */
  private def codebookOf(spark: SparkSession, dir: String, meta: Manifest): DataFrame = {
    val schema = meta.schemas("codebook")
    val rows = graft.SessionCache(spark, s"$dir/codebook", meta.commit) {
      ShardStore.read(spark, dir, meta, "codebook").collect()
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Load a persisted PQ artifact: geometry from the manifest, the codes
    * read with their declared schema, the codebook from the session's
    * per-version copy. */
  def load(spark: SparkSession, dir: String): PqStore = {
    val meta = ShardStore.manifest(spark, dir)
    PqStore(
      codebookOf(spark, dir, meta),
      ShardStore.read(spark, dir, meta, "codes").select(col("vec_id"), col("codes")),
      meta.int("m"), meta.int("sub_dim"))
  }

  /** Incremental ingest against a persisted code table: encode the
    * arrivals against the SAVED codebooks ([[encode]] — assignment-only,
    * the codebooks never move here), pack, and append into the sharded
    * layout — nothing on disk is rewritten. Because [[encode]] is a pure
    * per-vector function of (codebook, vector), the appended table equals
    * a one-pass encode of the union corpus (PqSpec proves it). */
  def encodeTo(spark: SparkSession, dir: String, delta: DataFrame): Unit = {
    val meta = ShardStore.manifest(spark, dir)
    val m = meta.int("m")
    val codes = pack(encode(codebookOf(spark, dir, meta),
      delta.select(col("vec_id"), col("embedding")), m), m)
    ShardStore.append(ShardStore.withIdShard(codes, "vec_id", meta.meta("rows_per_shard")),
      dir, meta, "codes", "shard")
  }

  /** Persisted erasure (the IvfIndex/LshIndex.removeFrom pattern on the
    * code table — a GDPR batch hitting the serving codes now has a path
    * that isn't a refit): delete the given vec_ids' packed rows by
    * rewriting ONLY the shards that hold them — every untouched shard and
    * the codebook are byte-identical on disk, emptied shard directories
    * are dropped, and replaying the batch is a no-op (unknown ids touch
    * nothing — the at-least-once redelivery contract). The codebook is
    * KEPT: deletion does not move the per-subspace tessellation (every
    * survivor's argmin code is unchanged), the same argument as the IVF
    * centroids under [[IvfIndex.removeFrom]]. The rewrite is
    * [[ShardStore.rewriteTouched]] (its crash-window note applies). */
  def removeFrom(spark: SparkSession, dir: String, ids: DataFrame): PqRemoveStats = {
    val r = ShardStore.rewriteTouched(spark, dir, "codes", "shard", "vec_id", ids)
    PqRemoveStats(r.keys, r.touched)
  }

  /** DuckDB mirror of [[model]] + [[adc]]: CTE chain over the
    * (vec_id, embedding) relation `src` ending in
    * `pq_adc(vec_id, pq_d2)` for the query relation `qsrc` (one row,
    * (vec_id, embedding)). Same seeding, rounds, tie orders, and
    * fixed-subspace pivot as the Spark side. */
  def pqCtes(src: String, qsrc: String, m: Int, k: Int, dim: Int = 64): String = {
    val subDim = dim / m
    val pivot = (0 until m)
      .map(s0 => s"COALESCE(MAX(CASE WHEN t.sub = $s0 THEN t.d END), 0.0)")
      .mkString(" + ")
    s"""qpts AS (SELECT i // $subDim AS sub, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS qv
       |         FROM $qsrc, UNNEST(range($dim)) AS t(i)),
       |ppts AS (SELECT vec_id, i // $subDim AS sub, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS v
       |         FROM $src, UNNEST(range($dim)) AS t(i)),
       |pinit AS (SELECT e.vec_id AS cid, i // $subDim AS sub, i AS pos,
       |                 CAST(embedding[i + 1] AS DOUBLE) AS c
       |          FROM (SELECT * FROM $src ORDER BY vec_id LIMIT $k) e,
       |               UNNEST(range($dim)) AS t(i)),
       |pd1 AS (SELECT p.vec_id, p.sub, c.cid, SUM((p.v - c.c) * (p.v - c.c)) AS d2
       |        FROM ppts p JOIN pinit c ON c.sub = p.sub AND c.pos = p.pos
       |        GROUP BY 1, 2, 3),
       |pa1 AS (SELECT vec_id, sub, cid FROM (
       |          SELECT vec_id, sub, cid,
       |                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |          FROM pd1) WHERE rn = 1),
       |pc1 AS (SELECT a.sub, a.cid, p.pos, AVG(p.v) AS c
       |        FROM pa1 a JOIN ppts p ON p.vec_id = a.vec_id AND p.sub = a.sub
       |        GROUP BY 1, 2, 3),
       |pd2 AS (SELECT p.vec_id, p.sub, c.cid, SUM((p.v - c.c) * (p.v - c.c)) AS d2
       |        FROM ppts p JOIN pc1 c ON c.sub = p.sub AND c.pos = p.pos
       |        GROUP BY 1, 2, 3),
       |pa2 AS (SELECT vec_id, sub, cid FROM (
       |          SELECT vec_id, sub, cid,
       |                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |          FROM pd2) WHERE rn = 1),
       |qtab AS (SELECT c.sub, c.cid, ${(0 until subDim).map(j =>
                  s"COALESCE(MAX(CASE WHEN c.pos % $subDim = $j THEN (q.qv - c.c) * (q.qv - c.c) END), 0.0)")
                  .mkString(" + ")} AS d
       |         FROM qpts q JOIN pc1 c ON c.sub = q.sub AND c.pos = q.pos
       |         GROUP BY 1, 2),
       |pq_adc AS (SELECT a.vec_id, ROUND($pivot, 6) AS pq_d2
       |           FROM pa2 a JOIN qtab t ON t.sub = a.sub AND t.cid = a.cid
       |           GROUP BY a.vec_id)""".stripMargin
  }
}
