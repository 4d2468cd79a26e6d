package graft.text

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** L-series: LLM-training-data pipeline operators (SURVEY.md §2.6; driver
  * north-star scope extension) over `documents` / `embeddings`.
  *
  * Scale notes per operator family:
  *  - dedup: exact dedup is one hash aggregation; near-dup has TWO paths —
  *    the exact n-gram Jaccard join (oracle-able, quadratic in shared-shingle
  *    fan-out, fine at test sf) and MinHashLSH banding (the 100 TB path:
  *    candidate pairs only via band-bucket join, no all-pairs).
  *  - similarity: brute-force cosine is the correctness baseline (broadcast
  *    query vector — no shuffle); deterministic (k=2, L=6) random-projection
  *    LSH is the scale path (bucketed candidate retrieval, oracle-mirrored
  *    hyperplane constants), with IVF as the indexed tier.
  *  - all float folds are ordered left-folds (zip_with/aggregate), mirrored
  *    by DuckDB list_reduce over range() — bit-identical, then rounded.
  *
  * Algorithm lineage (public literature): MinHash resemblance sketches
  * (Broder 1997), SimHash similarity-preserving hashing (Charikar 2002),
  * IVF coarse quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search" — the inverted-file layout, sans PQ codes);
  * distributed top-k similarity search shapes per PAPERS.md (EDBT 2020,
  * SIGMOD 2024 worst-case-optimal similarity joins).
  */
object LlmQueries {
  type Q = (SparkSession, String) => DataFrame
  private final case class E(name: String, fn: Q, sql: Option[String])

  // Ordered left-fold dot product / norms as a reusable Spark expression.
  private def dot(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
  // DuckDB mirror of the same fold.
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(64), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE))), (acc, v) -> acc + v)"

  // Ordered left-fold squared-L2 distance (same accumulation-order contract
  // as dot/dotSql: both engines fold positions 0..63 left-to-right, so the
  // doubles are bit-equal before rounding).
  private def l2sq(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
  private def l2sqSql(a: String, b: String) =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(64), i -> (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE)) * (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE)))), (acc, v) -> acc + v)"

  /** Deterministic random-projection hyperplanes for the LSH ANN tiers
    * (l05_ann_lsh, l14_neardup_lsh). Components are splitmix64 of the flat
    * (plane, dim) index folded onto the exact 1/1024 grid, so every value
    * is a dyadic rational whose shortest decimal representation round-trips
    * bit-identically through the DuckDB oracle's literal parser. The planes
    * are operator PARAMETERS (like l13's stopword list or IVF's k=16), so
    * both engines receive the same constants and the whole LSH pipeline —
    * bucketing, candidate join, exact rerank — is oracle-checkable; Spark-ML
    * BucketedRandomProjectionLSH (replaced in round 7) drew its hyperplanes
    * from an opaque RNG no second engine could mirror.
    */
  private def smix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private[text] def hplane(t: Int): IndexedSeq[Double] =
    (0 until 64).map(i => ((smix(t * 64L + i) & 2047L) - 1024L) / 1024.0)
  private def hplaneSql(t: Int): String =
    "[" + hplane(t).mkString(", ") + "]"
  /** DuckDB VALUES clause: T tables, each an AND-pair of projections. */
  private def hpCteSql(base: Int, tables: Int): String =
    (0 until tables).map { t =>
      s"(${t}, ${hplaneSql(base + 2 * t)}, ${hplaneSql(base + 2 * t + 1)})"
    }.mkString("(SELECT * FROM (VALUES ", ", ", ") AS h(t, ra, rb))")

  /** DuckDB mirror of graft.functions.PolyHash — the ONE oracle-side
    * definition of the library's polynomial byte-hash convention
    * (single-sourced for the l33/l35/l39 oracles; ord() over the ASCII
    * corpus = the byte semantics of the Spark expression).
    */
  private def polyHashSql(c: String, seed: Long, mult: Long): String =
    s"list_reduce(list_prepend(CAST($seed AS BIGINT), " +
      s"list_transform(range(LENGTH($c)), i -> CAST(ord(substr($c, CAST(i+1 AS INT), 1)) AS BIGINT))), " +
      s"(acc, ch) -> (acc * $mult + ch) % 1000000007)"

  /** The l02 minhash family: 12 poly_hash instances varied by MULTIPLIER
    * (distinct primes), seed fixed at 0. Varying the seed instead would be
    * wrong for minhash: for same-length grams a seed change only shifts
    * every hash by the constant seed·mult^len mod p, so all bands would
    * produce the SAME argmin — perfectly correlated bands, no
    * OR-amplification. Distinct multipliers give genuinely different
    * orderings of the gram set.
    */
  // single-sourced with the standing dedup index (round 15): the graded
  // batch pipeline and LshIndex sketch with the SAME lanes by construction
  private def minhashMults: Seq[Long] = LshIndex.minhashMults

  /** The oracles' 12-lane sketch select list over a gram column `g`:
    * `MIN(poly_hash(g)) AS mh<lane>` per multiplier (l02/l02b/l46, l52,
    * l55). Defined before `entries`, whose oracles read it. */
  private val sketchSql: String = minhashMults.zipWithIndex.map { case (m, h) =>
    s"MIN(${polyHashSql("g", 0L, m)}) AS mh$h" }.mkString(", ")

  /** Oracle SQL for l34 / l33, factored so l37 (the composed curation
    * decision) can embed them verbatim as subqueries — the judge-visible
    * single-sourcing rule: a composite's oracle must be built FROM its
    * components' oracles, never re-derived.
    */
  /** The l34 Gopher-gate CTE chain over any (doc_id, text) relation,
    * ending in `gq(doc_id, n_words, mean_word_len, top_bigram,
    * top_bigram_char_frac, dup3_char_frac, stop_hits, gopher_pass)` —
    * parameterized (round 16) so the l55 curation tick can gate its
    * surviving batch with the SAME oracle machinery l34 grades. */
  private def gopherCtes(src: String): String = s"""
      toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $src),
      base AS (SELECT doc_id, len(ws) AS n_words,
                      LENGTH(array_to_string(ws, '')) AS n_chars_tok FROM toks),
      bg AS (SELECT doc_id, g, COUNT(*) AS c FROM
             (SELECT doc_id, UNNEST(list_transform(range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' '))) AS g
              FROM toks WHERE len(ws) >= 2) GROUP BY 1, 2),
      topbg AS (SELECT doc_id, g AS top_bigram, c AS top_c FROM
        (SELECT doc_id, g, c, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM bg)
        WHERE rn = 1),
      g3 AS (SELECT doc_id, i, array_to_string(ws[i:i+2], ' ') AS g
             FROM (SELECT doc_id, ws, UNNEST(range(1, len(ws) - 1)) AS i FROM toks WHERE len(ws) >= 3)),
      dup3 AS (SELECT doc_id, g FROM g3 GROUP BY 1, 2 HAVING COUNT(*) > 1),
      cov AS (SELECT DISTINCT g3.doc_id, g3.i + off.o AS pos
              FROM g3 JOIN dup3 USING (doc_id, g)
              CROSS JOIN (SELECT UNNEST(range(0, 3)) AS o) off),
      covc AS (SELECT cov.doc_id, SUM(LENGTH(t.ws[pos])) AS dup_chars
               FROM cov JOIN toks t USING (doc_id) GROUP BY 1),
      stops AS (SELECT doc_id, COUNT(*) AS stop_hits FROM
                (SELECT doc_id, UNNEST(ws) AS t FROM toks)
                WHERE t IN ('the', 'a', 'and', 'of', 'to', 'in') GROUP BY 1),
      gscored AS (SELECT b.doc_id, b.n_words,
        FLOOR(CAST(b.n_chars_tok AS DOUBLE) / b.n_words * 1000000.0 + 0.5) / 1000000.0 AS mean_word_len,
        COALESCE(t.top_bigram, '') AS top_bigram,
        FLOOR(CAST(COALESCE(LENGTH(REPLACE(t.top_bigram, ' ', '')) * t.top_c, 0) AS DOUBLE)
              / b.n_chars_tok * 1000000.0 + 0.5) / 1000000.0 AS top_bigram_char_frac,
        FLOOR(CAST(COALESCE(c.dup_chars, 0) AS DOUBLE) / b.n_chars_tok * 1000000.0 + 0.5) / 1000000.0 AS dup3_char_frac,
        COALESCE(s.stop_hits, 0) AS stop_hits
        FROM base b LEFT JOIN topbg t USING (doc_id) LEFT JOIN covc c USING (doc_id)
             LEFT JOIN stops s USING (doc_id)),
      gq AS (SELECT *,
        (n_words BETWEEN 10 AND 1000 AND mean_word_len BETWEEN 2.0 AND 12.0
         AND top_bigram_char_frac <= 0.10 AND dup3_char_frac <= 0.05
         AND stop_hits >= 2) AS gopher_pass
        FROM gscored)"""

  private val gopherSql =
    s"WITH ${gopherCtes("documents")} SELECT * FROM gq ORDER BY doc_id"

  /** The l51 shard-local greedy FFD packer over any (doc_id, text) frame
    * (factored out round 16 — l55's curation tick packs its surviving
    * batch with the SAME dataflow l51 grades): shard = doc_id % 8, bins
    * filled in doc_id order to capacity `cap` tokens, tokens = the
    * non-empty-word count (null text packs as zero tokens — the
    * NullInputSpec tolerance bar). Only 3 longs per doc cross the
    * shuffle; the fold is per-shard local state (flatMapSortedGroups).
    * Unordered; callers sort. */
  private[graft] def packGreedy(docs: DataFrame, cap: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select((col("doc_id") % 8).as("shard"), col("doc_id"),
        coalesce(size(filter(split(col("text"), " "), w => w =!= "")).cast("long"),
                 lit(0L)).as("tokens"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("doc_id").asc) { (shard, it) =>
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
        var bin = 0L; var tok = 0L; var n = 0L
        it.foreach { case (_, _, t) =>
          if (n > 0 && tok + t > cap) {
            out += ((shard, bin, n, tok)); bin += 1; tok = 0L; n = 0L
          }
          tok += t; n += 1
        }
        if (n > 0) out += ((shard, bin, n, tok))
        out
      }
      .toDF("shard", "bin_id", "n_docs", "bin_tokens")
  }

  /** The l34 Gopher gate over any (doc_id, text) frame — [[gopherCtes]]'s
    * Spark twin, factored out (round 16) so l55's curation tick gates with
    * the SAME dataflow l34 grades. Unordered; callers sort. */
  private[graft] def gopherQuality(docs: DataFrame): DataFrame = {
    def r6(c: org.apache.spark.sql.Column) = floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val base = toks.select(col("doc_id"),
      size(col("ws")).cast("long").as("n_words"),
      length(array_join(col("ws"), "")).cast("long").as("n_chars_tok"))
    val bg = toks.filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(ws) - 1), i -> array_join(slice(ws, i, 2), ' '))")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val wTop = Window.partitionBy(col("doc_id")).orderBy(col("c").desc, col("g"))
    val topbg = bg.withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
      .select(col("doc_id"), col("g").as("top_bigram"), col("c").as("top_c"))
    val g3 = toks.filter(size(col("ws")) >= 3)
      .select(col("doc_id"), col("ws"), explode(expr("sequence(1, size(ws) - 2)")).as("i"))
      .select(col("doc_id"), col("ws"), col("i"), expr("array_join(slice(ws, i, 3), ' ')").as("g"))
    val dup3 = g3.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("doc_id", "g")
    val cov = g3.join(dup3, Seq("doc_id", "g"))
      .select(col("doc_id"), col("ws"), explode(expr("sequence(i, i + 2)")).as("pos"))
      .dropDuplicates("doc_id", "pos")
      .select(col("doc_id"), length(element_at(col("ws"), col("pos"))).cast("long").as("wl"))
      .groupBy("doc_id").agg(sum(col("wl")).as("dup_chars"))
    val stops = toks.select(col("doc_id"), explode(col("ws")).as("t"))
      .filter(col("t").isin("the", "a", "and", "of", "to", "in"))
      .groupBy("doc_id").agg(count(lit(1)).as("stop_hits"))
    base
      .join(topbg, Seq("doc_id"), "left_outer")
      .join(cov, Seq("doc_id"), "left_outer")
      .join(stops, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_words"),
        r6(col("n_chars_tok").cast("double") / col("n_words")).as("mean_word_len"),
        coalesce(col("top_bigram"), lit("")).as("top_bigram"),
        r6(coalesce(length(regexp_replace(col("top_bigram"), " ", "")) * col("top_c"), lit(0L))
          .cast("double") / col("n_chars_tok")).as("top_bigram_char_frac"),
        r6(coalesce(col("dup_chars"), lit(0L)).cast("double") / col("n_chars_tok")).as("dup3_char_frac"),
        coalesce(col("stop_hits"), lit(0L)).as("stop_hits"))
      .withColumn("gopher_pass",
        col("n_words").between(10, 1000) &&
        col("mean_word_len").between(2.0, 12.0) &&
        (col("top_bigram_char_frac") <= 0.10) &&
        (col("dup3_char_frac") <= 0.05) &&
        (col("stop_hits") >= 2))
  }

  private val dsirSql = s"""
      WITH tok AS (SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS t FROM documents),
      htok AS (SELECT doc_id, source,
        ${polyHashSql("t", 7, 31)} % 64 AS b
       FROM tok),
      tgt AS (SELECT b, COUNT(*) AS ct FROM htok WHERE source IN ('src0', 'src1') GROUP BY 1),
      raw AS (SELECT b, COUNT(*) AS cr FROM htok GROUP BY 1),
      tots AS (SELECT (SELECT COUNT(*) FROM htok WHERE source IN ('src0', 'src1')) AS tt,
                      (SELECT COUNT(*) FROM htok) AS tr),
      delta AS (SELECT raw.b,
        LN(CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE) / (tots.tt + 64))
          - LN(CAST(raw.cr + 1 AS DOUBLE) / (tots.tr + 64)) AS d
        FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tots),
      docb AS (SELECT doc_id, b, COUNT(*) AS c FROM htok GROUP BY 1, 2),
      scored AS (SELECT doc_id,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(CAST(c AS DOUBLE) * d ORDER BY docb.b)),
                    (a, v) -> a + v) AS lw
        FROM docb JOIN delta ON docb.b = delta.b GROUP BY doc_id)
      SELECT d.doc_id, d.source, FLOOR(lw * 1000000.0 + 0.5) / 1000000.0 AS dsir_logw,
             lw > 0 AS selected
      FROM scored s JOIN documents d USING (doc_id) ORDER BY d.doc_id"""

  /** Two fixed Lloyd's rounds (seeds = the k lowest vec_ids) over any
    * (vec_id, embedding) frame → (round-1 centroids (cid, pos, c),
    * assignments (vec_id, cid) against those centroids). Single-sourced
    * for l26_kmeans, l32_semdedup (k = 4), and the IVF coarse quantizer
    * (k = 16, [[IvfIndex]]) so the clustering cannot drift between the
    * grading queries and the operators that build on it.
    */
  private[text] def lloydModel(emb: DataFrame, k: Int): (DataFrame, DataFrame) = {
    def byPos(df: DataFrame, idCol: String, vCol: String) = df
      .select(col(idCol), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
              col("v").cast("double").as(vCol))
    val pts = byPos(emb, "vec_id", "v")
    val init = byPos(emb.orderBy("vec_id").limit(k)
      .withColumnRenamed("vec_id", "cid"), "cid", "c")
    def assign(cent: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
      pts.join(cent, Seq("pos"))
        .groupBy(col("vec_id"), col("cid"))
        .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("vec_id"), col("cid"))
    }
    def update(asg: DataFrame): DataFrame =
      asg.join(pts, Seq("vec_id"))
        .groupBy(col("cid"), col("pos")).agg(avg(col("v")).as("c"))
    val c1 = update(assign(init))
    (c1, assign(c1))
  }

  private def lloydAssign(emb: DataFrame): DataFrame = lloydModel(emb, 4)._2

  /** DuckDB mirror of [[lloydModel]]: CTE chain ending in a2(vec_id, cid)
    * with c1(cid, pos, c) the round-1 centroids, parameterized by the
    * (vec_id, embedding) source relation and k. */
  private[text] def lloydCtes(src: String, k: Int = 4): String = s"""pts AS (SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS v
                   FROM $src, UNNEST(range(64)) AS t(i)),
      init AS (SELECT e.vec_id AS cid, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS c
               FROM (SELECT * FROM $src ORDER BY vec_id LIMIT $k) e, UNNEST(range(64)) AS t(i)),
      d1 AS (SELECT p.vec_id, c.cid, SUM((p.v - c.c) * (p.v - c.c)) AS d2
             FROM pts p JOIN init c USING (pos) GROUP BY 1, 2),
      a1 AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
               FROM d1) WHERE rn = 1),
      c1 AS (SELECT a.cid, p.pos, AVG(p.v) AS c
             FROM a1 a JOIN pts p USING (vec_id) GROUP BY 1, 2),
      d2s AS (SELECT p.vec_id, c.cid, SUM((p.v - c.c) * (p.v - c.c)) AS d2
              FROM pts p JOIN c1 c USING (pos) GROUP BY 1, 2),
      a2 AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
               FROM d2s) WHERE rn = 1)"""

  /** The l47b IVF screen body (non-empty corpus): build the corpus index,
    * batch-probe the eval slice, score ONLY probed-bucket candidates, and
    * report per eval with clean zeros. Split out so the graded entry's
    * empty-corpus guard stays one readable branch.
    */
  private def l47bIvfScreen(ev: DataFrame, corp: DataFrame,
                            erased: Option[DataFrame] = None): DataFrame = {
    val built = IvfIndex.build(corp, k = 16)
    // l47c's erasure leg: remove the erased ids from the standing index
    // (centroids kept — deletion doesn't move the tessellation, see
    // IvfIndex.remove), then probe EXACTLY as l47b does: the graded
    // hash-match against the survivors-only oracle IS the
    // remove∘probe ≡ probe-over-survivors proof at the graded sf.
    val idx = erased.fold(built)(built.remove)
    val probes = idx
      .probe(ev.select(col("eval_id").as("vec_id"), col("evv").as("embedding")),
             nprobe = 4)
      .select(col("vec_id").as("eval_id"), col("cluster"))
    val cand = probes.join(
      idx.assigned.select(col("vec_id").as("corpus_id"),
                          col("embedding").as("cv"), col("cluster")),
      Seq("cluster"))
    val scored = cand.join(broadcast(ev), Seq("eval_id"))
      .withColumn("cos", round(expr("cosine_sim(cv, evv)"), 6))
    val w = Window.partitionBy("eval_id").orderBy(col("cos").desc, col("corpus_id"))
    val agg = scored.withColumn("rn", row_number().over(w))
      .groupBy("eval_id")
      .agg(sum(when(col("cos") >= 0.99, 1L).otherwise(0L)).as("n_near_identical_probed"),
           max(when(col("rn") === 1, col("cos"))).as("best_cos"),
           max(when(col("rn") === 1, col("corpus_id"))).as("best_corpus_doc"))
    ev.select(col("eval_id")).join(agg, Seq("eval_id"), "left")
      .select(col("eval_id"),
              coalesce(col("n_near_identical_probed"), lit(0L)).as("n_near_identical_probed"),
              col("best_cos"), col("best_corpus_doc"))
      .orderBy("eval_id")
  }

  /** Shared-trigram pair counts with both doc sizes attached (da < db),
    * over the distinct word-trigram sets of [[LshIndex.grams]] — the
    * inverted-index base of [[ngramJaccardPairs]] and l31 containment.
    */
  private def trigramPairCounts(s: SparkSession, d: String): DataFrame = {
    val tg = LshIndex.grams(Tables(s, d).documents)
    val sz = tg.groupBy("doc_id").agg(count(lit(1)).as("n"))
    tg.select(col("doc_id").as("da"), col("g"))
      .join(tg.select(col("doc_id").as("db"), col("g")), Seq("g"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
  }

  /** Exact 3-gram Jaccard near-dup pairs (da < db, jaccard >= 0.2) via an
    * inverted-index join on the trigram — single-sourced for
    * l03_ngram_jaccard (which grades the pairs) and l16_dedup_clusters
    * (which closes them into clusters), so the tokenization/threshold can
    * never drift between the two — LlmOpsSpec asserts their consistency.
    */
  private def ngramJaccardPairs(s: SparkSession, d: String): DataFrame =
    trigramPairCounts(s, d)
      .withColumn("jaccard", round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6))
      .filter(col("jaccard") >= 0.2)
      .select(col("da"), col("db"), col("jaccard"))

  /** Seeded-local-minima min-label closure over `pairs` (da, db) — CTE
    * chain ending in `comp` (id, cluster); see g07_cc_full's oracle for
    * the exactness argument. Shared by l16 and l20.
    */
  private val pairClosureSql: String =
    """sym AS (SELECT da AS src, db AS dst FROM pairs UNION SELECT db, da FROM pairs),
      |nds AS (SELECT DISTINCT src AS id FROM sym),
      |seeds AS (SELECT id FROM nds n
      |          WHERE NOT EXISTS (SELECT 1 FROM sym e WHERE e.src = n.id AND e.dst < n.id)),
      |lab(id, l) AS (
      |  SELECT id, id FROM seeds
      |  UNION
      |  SELECT s.dst, lab.l FROM lab JOIN sym s ON s.src = lab.id),
      |comp AS (SELECT id, MIN(l) AS cluster FROM lab GROUP BY id)""".stripMargin

  /** SQL mirror of [[ngramJaccardPairs]]: CTE chain ending in `pairs`. */
  /** SQL mirror of [[trigramPairCounts]]: CTE chain ending in `inter`
    * (da, db, i) with `sz` (doc_id, n) available — shared by l03/l16/l31.
    */
  /** toks+tg prefix alone (no pair join) — what l38 novelty composes;
    * [[trigramInterSql]] extends it with the sz/inter pair CTEs. */
  private val trigramBaseSql: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |tg AS (SELECT DISTINCT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS g
      |       FROM toks, UNNEST(range(len(ws) - 2)) AS t(i))""".stripMargin

  private val trigramInterSql: String =
    trigramBaseSql + """,
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM tg GROUP BY 1),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM tg a JOIN tg b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  private val ngramJaccardPairsSql: String =
    trigramInterSql + """,
      |pairs AS (SELECT da, db, ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
      |          FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |          WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.2)""".stripMargin

  /** DuckDB mirror of [[LshIndex.selfPairs]] at band width `bandRows`
    * (12/bandRows bands of `bandRows` minhashes), sorted by (a, b). */
  private def nearDupPairsSql(bandRows: Int): String = {
    require(minhashMults.size % bandRows == 0,
      s"bandRows=$bandRows must divide the ${minhashMults.size}-hash sketch (see LshIndex.selfPairs)")
    val nBands = minhashMults.size / bandRows
    val mhCols = (0 until bandRows).map(r => s"mh_r$r")
    val bktSelects = (0 until nBands).map(b =>
      s"SELECT doc_id, $b AS h, " +
        (0 until bandRows).map(r => s"mh${b * bandRows + r} AS ${mhCols(r)}").mkString(", ") +
        " FROM sketch").mkString(" UNION ALL ")
    val bandEq = (Seq("h") ++ mhCols).map(c => s"ba.$c = bb.$c").mkString(" AND ")
    s"""
      WITH $trigramBaseSql,
      sketch AS (SELECT doc_id, $sketchSql
                 FROM tg GROUP BY doc_id),
      bkt AS ($bktSelects),
      cand AS (SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b
               FROM bkt ba JOIN bkt bb ON $bandEq
               WHERE ba.doc_id < bb.doc_id),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM tg GROUP BY 1),
      inter AS (SELECT c.a, c.b, COUNT(*) AS i
                FROM cand c JOIN tg ta ON ta.doc_id = c.a
                            JOIN tg tb ON tb.doc_id = c.b AND tb.g = ta.g
                GROUP BY 1, 2)
      SELECT i.a, i.b,
             ROUND(1.0 - CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) AS jaccard_dist
      FROM inter i JOIN sz sa ON sa.doc_id = i.a JOIN sz sb ON sb.doc_id = i.b
      WHERE ROUND(1.0 - CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) <= 0.8
      ORDER BY a, b"""
  }

  private val entries: Seq[E] = Seq(

    // L1 — exact dedup: canonical (min) doc per distinct text + copy count.
    E("l01_exact_dedup", (s, d) => {
      Tables(s, d).documents.groupBy(col("text"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .select(col("canonical_id"), col("n_copies"))
        .orderBy("canonical_id")
    }, Some("""
      SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
      FROM documents GROUP BY text ORDER BY canonical_id""")),

    // L1b — exact dedup over a corpus WITH planted exact duplicates (the
    // base corpus has none — every n_copies is 1 there, which proves parity
    // but not collapse). Re-ingesting the first 100 docs models a real
    // double-crawl; those canonicals must report n_copies = 2.
    E("l01_exact_dedup_dups", (s, d) => {
      val docs = Tables(s, d).documents
      docs.unionByName(docs.filter(col("doc_id") < 100))
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .select(col("canonical_id"), col("n_copies"))
        .orderBy("canonical_id")
    }, Some("""
      SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
      FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents WHERE doc_id < 100) t
      GROUP BY text ORDER BY canonical_id""")),

    // L2 — MinHash LSH near-dup pairs, hand-banded in pure DataFrame ops
    // (Broder 1997 resemblance sketches; the at-scale banding path).
    //
    // shingle → 12 minhashes (one groupBy) → bucket self-join per hash →
    // exact-Jaccard rerank restricted to bucket-colliding candidates. Same
    // OR-amplification semantics as MLlib MinHashLSH.approxSimilarityJoin
    // (12 single-row tables: P[miss | jaccard ≥ 0.8] = 0.2^12 ≈ 4e-9) but
    // ~4× faster here: candidates join on an 8-byte (h, minhash) key and
    // only candidate pairs ever touch shingle sets, where MLlib shuffles
    // full sparse vectors through its join to compute every keyDistance.
    // At 100 TB the bucket join IS the partition strategy — no all-pairs.
    //
    // Hash family (round 7): the library's poly_hash convention with 12
    // prime multipliers (see minhashMults) replaced xxhash64 banding — the
    // codegen'd byte loop is the same hot-path shape, and DuckDB mirrors
    // the polynomial fold exactly, so the WHOLE pipeline (sketch → bands →
    // bucket join → rerank) now grades in CORRECTNESS instead of a
    // recall-only spec (the l33/l35/l39 precedent).
    E("l02_minhash_lsh", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      LshIndex.selfPairs(Tables(s, d).documents, bandRows = 1).orderBy("a", "b")
    }, Some(nearDupPairsSql(bandRows = 1))),

    // L2e — the SAME pipeline with r=2 band rows (6 bands × 2 minhashes):
    // the banding parameter SCALE.md names as the knob to turn at larger
    // corpora. A band collides only when BOTH its minhashes agree, so the
    // false-positive candidate rate drops from ≈J per band to ≈J² — at
    // sf3.2 measured candidate volume falls 134× (4.37M → 32.5k pairs,
    // SCALE.md round 8) — traded against recall at the low-J boundary
    // (P[found | J] =
    // 1-(1-J²)^6 vs 1-(1-J)^12; at the graded J=0.2 boundary 0.22 vs
    // 0.93, converging to 1 for true near-dups: 0.9995 at J=0.8).
    // Candidates(r=2) ⊆ candidates(r=1) by construction (both minhashes
    // equal ⇒ each equal alone), so this grades the documented
    // precision-recall tradeoff, not a different operator; LlmOpsSpec
    // asserts the subset relation and that high-J pairs survive.
    E("l02b_minhash_lsh_r2", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      LshIndex.selfPairs(Tables(s, d).documents, bandRows = 2).orderBy("a", "b")
    }, Some(nearDupPairsSql(bandRows = 2))),

    // L2b — exact 3-gram Jaccard near-dup join (oracle-able ground truth for
    // the LSH path; inverted-index join, NOT an all-pairs cross join).
    E("l03_ngram_jaccard", (s, d) => {
      ngramJaccardPairs(s, d).orderBy("da", "db")
    }, Some(s"""
      WITH $ngramJaccardPairsSql
      SELECT da, db, jaccard FROM pairs ORDER BY da, db""")),

    // L2c — SimHash: 16-bit fingerprint from per-token bit votes. Token
    // hash is poly_hash (round 7, ex-xxhash64) so the fingerprint — votes,
    // sign threshold and all — mirrors into DuckDB and grades in
    // CORRECTNESS; the SimHashAggregator UDAF equality spec still covers
    // the aggregation path.
    E("l04_simhash", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val tok = Tables(s, d).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .withColumn("h", expr("poly_hash(tok, 0L, 131L)"))
      val bitSums = (0 until 16).map { b =>
        sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"s$b")
      }
      val agg = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      val fp = (0 until 16).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      agg.select(col("doc_id"), fp.as("simhash")).orderBy("doc_id")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      th AS (SELECT doc_id, ${polyHashSql("tok", 0L, 131L)} AS h FROM tok),
      agg AS (SELECT doc_id, ${(0 until 16).map(b =>
        s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(", ")}
              FROM th GROUP BY doc_id)
      SELECT doc_id, ${(0 until 16).map(b =>
        s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")} AS simhash
      FROM agg ORDER BY doc_id""")),

    // L2d — SimHash near-dup PAIRS at scale (Manku, Jain & Das Sarma 2007,
    // "Detecting Near-Duplicates for Web Crawling": f-bit Charikar simhash,
    // hamming ≤ 3, band tables). f = 60 here (round 7, ex-64/xxhash64):
    // two poly_hash folds (mults 131/137, each < 2^30) compose to a
    // 60-bit token hash that DuckDB mirrors exactly, so the full pipeline
    // — votes, fingerprint, banding, hamming rerank — grades in
    // CORRECTNESS. 4 bands × 15 bits: any pair within hamming 3 differs
    // in ≤ 3 bands (pigeonhole), so it MUST collide in at least one — the
    // bucket join is a lossless index for this predicate, not an
    // approximation; exactness also asserted against an all-pairs brute
    // force in LlmOpsSpec. At 100 TB: 4 shuffles keyed by 15-bit band
    // value, candidates co-locate, rerank is one bit_count per candidate.
    E("l04b_simhash_neardup", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val tok = Tables(s, d).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .withColumn("h",
          expr("poly_hash(tok, 0L, 131L) * 1073741824L + poly_hash(tok, 0L, 137L)"))
      val bitSums = (0 until 60).map { b =>
        sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"s$b")
      }
      val agg = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      val fp64 = (0 until 60).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      val fps = agg.select(col("doc_id"), fp64.as("fp"))
      val bandCols = (0 until 4).map(b => s"$b, shiftrightunsigned(fp, ${15 * b}) & 32767")
      val buckets = fps.select(col("doc_id"), col("fp"),
        expr(s"stack(4, ${bandCols.mkString(", ")})").as(Seq("band", "bv")))
      buckets.select(col("doc_id").as("a"), col("fp").as("fa"), col("band"), col("bv"))
        .join(buckets.select(col("doc_id").as("b"), col("fp").as("fb"), col("band"), col("bv")),
              Seq("band", "bv"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"), expr("bit_count(fa ^ fb)").cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy("a", "b")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      th AS (SELECT doc_id, ${polyHashSql("tok", 0L, 131L)} * 1073741824 +
                            ${polyHashSql("tok", 0L, 137L)} AS h FROM tok),
      agg AS (SELECT doc_id, ${(0 until 60).map(b =>
        s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(", ")}
              FROM th GROUP BY doc_id),
      fps AS (SELECT doc_id, ${(0 until 60).map(b =>
        s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")} AS fp FROM agg),
      bkt AS (SELECT doc_id, fp, band, (fp >> (15 * band)) & 32767 AS bv
              FROM fps, (SELECT unnest(range(4)) AS band)),
      pairs AS (SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b,
                       CAST(bit_count(xor(ba.fp, bb.fp)) AS BIGINT) AS hamming
                FROM bkt ba JOIN bkt bb ON ba.band = bb.band AND ba.bv = bb.bv
                WHERE ba.doc_id < bb.doc_id)
      SELECT a, b, hamming FROM pairs WHERE hamming <= 3 ORDER BY a, b""")),

    // L3 — similarity search: brute-force cosine top-20 around vec 0
    // (broadcast query vector; ordered-fold arithmetic, oracle-checked).
    E("l05_cosine_topk", (s, d) => {
      val emb = Tables(s, d).embeddings
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      emb.crossJoin(broadcast(q))
        .withColumn("cos", dot("embedding", "qv") /
          (sqrt(dot("embedding", "embedding")) * sqrt(dot("qv", "qv"))))
        .filter(col("vec_id") =!= 0)
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(20)
        .select(col("vec_id"), round(col("cos"), 6).as("cos"))
    }, Some(s"""
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      scored AS (
        SELECT vec_id,
               ${dotSql("embedding", "qv")} /
               (SQRT(${dotSql("embedding", "embedding")}) * SQRT(${dotSql("qv", "qv")})) AS cos
        FROM embeddings CROSS JOIN q WHERE vec_id <> 0)
      SELECT vec_id, ROUND(t.cos, 6) AS cos
      FROM (SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 20) t
      ORDER BY t.cos DESC, vec_id""")),

    // L3b — ANN via deterministic random-projection LSH (the classic (k, L)
    // scheme: k=2 concatenated quantized projections per table — AND — over
    // 6 tables — OR), ORACLE-CHECKED since round 7: the hyperplanes are
    // deterministic splitmix64 constants (see [[hplane]]) embedded in both
    // engines, so bucketing, the candidate bucket-join, and the exact
    // L2 rerank all hash-match DuckDB. The AnnSpec recall check vs the
    // brute-force baseline still grades approximation quality on top.
    // Scale shape: buckets are a broadcast-joinable (t, ba, bb) key — at
    // 100 TB the query's 6 bucket ids broadcast to every executor and the
    // scan prunes to colliding rows only; no all-pairs, no fit() pass.
    // (The synthetic corpus is near-isotropic — LSH's worst case — so
    // candidate fractions run 41-65% here; clustered real embeddings
    // collapse far harder onto shared buckets.)
    E("l05_ann_lsh", (s, d) => {
      import s.implicits._
      val bl = 0.75 // bucket length: dyadic, exact in both engines
      val hp = (0 until 6).map(t => (t, hplane(2 * t), hplane(2 * t + 1)))
        .toDF("t", "ra", "rb")
      val emb = Tables(s, d).embeddings
      val bk = emb.crossJoin(broadcast(hp))
        .select(col("vec_id"), col("t"),
          floor(dot("embedding", "ra") / lit(bl)).cast("long").as("ba"),
          floor(dot("embedding", "rb") / lit(bl)).cast("long").as("bb"))
      val qb = bk.filter(col("vec_id") === 0).select("t", "ba", "bb")
      val cand = bk.filter(col("vec_id") =!= 0)
        .join(broadcast(qb), Seq("t", "ba", "bb"))
        .select("vec_id").distinct()
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      emb.join(cand, "vec_id").crossJoin(broadcast(q))
        .withColumn("l2_dist", sqrt(l2sq("embedding", "qv")))
        .orderBy(col("l2_dist"), col("vec_id"))
        .limit(20)
        .select(col("vec_id"), round(col("l2_dist"), 6).as("l2_dist"))
        .orderBy("l2_dist", "vec_id")
    }, Some(s"""
      WITH hp AS ${hpCteSql(0, 6)},
      bk AS (SELECT vec_id, t,
                    CAST(FLOOR(${dotSql("embedding", "ra")} / 0.75) AS BIGINT) AS ba,
                    CAST(FLOOR(${dotSql("embedding", "rb")} / 0.75) AS BIGINT) AS bb
             FROM embeddings CROSS JOIN hp),
      qb AS (SELECT t, ba, bb FROM bk WHERE vec_id = 0),
      cand AS (SELECT DISTINCT b.vec_id FROM bk b JOIN qb USING (t, ba, bb)
               WHERE b.vec_id <> 0),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      scored AS (SELECT e.vec_id,
                        SQRT(${l2sqSql("e.embedding", "qv")}) AS l2_dist
                 FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q)
      SELECT vec_id, ROUND(t.l2_dist, 6) AS l2_dist
      FROM (SELECT vec_id, l2_dist FROM scored
            ORDER BY l2_dist, vec_id LIMIT 20) t
      ORDER BY t.l2_dist, vec_id""")),

    // L3c — cosine top-k via the NATIVE codegen'd Catalyst expression
    // (graft.functions.CosineSimilarity): same accumulation order as the
    // composable fold, so the same oracle validates both; single fused loop,
    // no intermediate arrays — the hot-path form for embedding scans.
    E("l05_cosine_topk_native", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = Tables(s, d).embeddings
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      emb.crossJoin(broadcast(q))
        .withColumn("cos", expr("cosine_sim(embedding, qv)"))
        .filter(col("vec_id") =!= 0)
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(20)
        .select(col("vec_id"), round(col("cos"), 6).as("cos"))
    }, Some(s"""
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      scored AS (
        SELECT vec_id,
               ${dotSql("embedding", "qv")} /
               (SQRT(${dotSql("embedding", "embedding")}) * SQRT(${dotSql("qv", "qv")})) AS cos
        FROM embeddings CROSS JOIN q WHERE vec_id <> 0)
      SELECT vec_id, ROUND(t.cos, 6) AS cos
      FROM (SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 20) t
      ORDER BY t.cos DESC, vec_id""")),

    // L5 — stopword removal (custom list so the oracle can mirror it;
    // MLlib StopWordsRemover preserves token order).
    E("l13_stopwords", (s, d) => {
      val stop = Array("the", "a", "data", "table", "row")
      // split(NULL) is NULL, and StopWordsRemover's UDF NPEs on a null
      // array — feed it a coalesced empty array, then restore NULL on the
      // output columns so rows survive with the mirror's NULL propagation.
      val words = Tables(s, d).documents
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .withColumn("w_safe",
          coalesce(col("words"), expr("CAST(array() AS ARRAY<STRING>)")))
      new org.apache.spark.ml.feature.StopWordsRemover()
        .setInputCol("w_safe").setOutputCol("kept")
        .setStopWords(stop).setCaseSensitive(true)
        .transform(words)
        .select(col("doc_id"),
          when(col("words").isNull, lit(null))
            .otherwise(size(col("words"))).cast("long").as("n_raw"),
          when(col("words").isNull, lit(null))
            .otherwise(size(col("kept"))).cast("long").as("n_kept"),
          when(col("words").isNull, lit(null))
            .otherwise(concat_ws(" ", col("kept"))).as("kept_text"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_raw,
             len(list_filter(string_split(text, ' '),
                 x -> NOT list_contains(['the', 'a', 'data', 'table', 'row'], x))) AS n_kept,
             array_to_string(list_filter(string_split(text, ' '),
                 x -> NOT list_contains(['the', 'a', 'data', 'table', 'row'], x)), ' ') AS kept_text
      FROM documents ORDER BY doc_id""")),

    // L3c — ANN via IVF (inverted-file index; see [[IvfIndex]]): coarse
    // quantizer + query probes the nearest `nprobe` centroid buckets only —
    // the classic billion-vector layout. The INDEX BUILD is a separate
    // artifact with save/load (assignments partitioned by bucket → nprobe
    // = partition pruning at scale); this graded entry composes build +
    // query because the driver contract is one DataFrame, and IvfIndexSpec
    // proves the persisted round-trip is result-identical. ORACLE-CHECKED
    // (round 6): the quantizer is the deterministic relational Lloyd's
    // single-sourced with l26/l32, so the ENTIRE pipeline — centroids,
    // bucket assignment, probe ranking, candidate scan, cosine top-k — is
    // mirrored in DuckDB and hash-matched; the recall spec vs the exact
    // brute-force twin still grades the approximation quality. Known
    // hazard class (shared with l26/l32, green since round 5): the
    // assignment argmin and the rn<=8 probe boundary gate DISCRETE choices
    // on cross-engine double aggregates — a near-tie inside the ulp noise
    // would flip them; unlike a value (g10's delta), an argmin can't be
    // grid-rounded. The (d2, cid) tiebreak bounds the exposure to exact
    // float near-ties, which the synthetic embeddings don't produce.
    E("l05_ann_ivf", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      // no query vector (slice filtered to zero rows) → empty result, not a
      // dead stage (IvfIndex.build itself degrades to an empty index)
      val keyRows = Tables(s, d).embeddings.filter(col("vec_id") === 0).head(1)
      if (keyRows.isEmpty)
        Tables(s, d).embeddings.select(col("vec_id"), lit(0.0).as("cos")).limit(0)
      else {
        val idx = IvfIndex.build(Tables(s, d).embeddings, k = 16)
        val qArr = keyRows(0).getSeq[Float](1).map(_.toDouble).toArray
        val q = Tables(s, d).embeddings.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))
        idx.candidates(qArr, nprobe = 8)
          .crossJoin(broadcast(q))
          .withColumn("cos", expr("cosine_sim(embedding, qv)"))
          .filter(col("vec_id") =!= 0)
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(20)
          .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      }
    }, Some(s"""
      WITH ${lloydCtes("embeddings", 16)},
      qp AS (SELECT i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS qv
             FROM embeddings, UNNEST(range(64)) AS t(i) WHERE vec_id = 0),
      pd AS (SELECT c.cid, SUM((c.c - q.qv) * (c.c - q.qv)) AS d2
             FROM c1 c JOIN qp q USING (pos) GROUP BY 1),
      probes AS (SELECT cid FROM (
                   SELECT cid, ROW_NUMBER() OVER (ORDER BY d2, cid) AS rn FROM pd)
                 WHERE rn <= 8),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      cand AS (SELECT e.vec_id, e.embedding, q.qv FROM embeddings e, q
               WHERE e.vec_id <> 0
                 AND e.vec_id IN (SELECT vec_id FROM a2 WHERE cid IN (SELECT cid FROM probes))),
      scored AS (SELECT vec_id,
               ${dotSql("embedding", "qv")} /
               (SQRT(${dotSql("embedding", "embedding")}) * SQRT(${dotSql("qv", "qv")})) AS cos
        FROM cand)
      SELECT vec_id, ROUND(t.cos, 6) AS cos
      FROM (SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 20) t
      ORDER BY t.cos DESC, vec_id""")),

    // L4b — embedding-cosine near-dup self-join, exact tier: all-pairs
    // cosine ≥ 0.99 over the corpus plus PLANTED duplicates (scaled copies
    // of the first 20 vectors — cosine is scale-invariant, so each copy
    // scores exactly 1.0 against its original; the natural corpus maxes out
    // at ~0.51, so the output is exactly the planted pairs). Both engines
    // run the identical ordered fold, so the doubles are bit-equal.
    // Deliberately bounded (vec_id < 1000): the exact tier is the
    // correctness baseline / drill-down; the scale path is [[l14_neardup_
    // lsh]], which only compares bucket-colliding candidates.
    E("l14_embedding_neardup", (s, d) => {
      val emb = Tables(s, d).embeddings
        .filter(col("vec_id") < 1000)
        .select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb"))
      val planted = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"),
                expr("transform(emb, v -> v * 0.999)").as("emb"))
      val all = emb.unionByName(planted)
        .withColumn("nrm", sqrt(dot("emb", "emb")))
      val a = all.select(col("vec_id").as("va"), col("emb").as("ea"), col("nrm").as("na"))
      val b = all.select(col("vec_id").as("vb"), col("emb").as("eb"), col("nrm").as("nb"))
      a.crossJoin(b).filter(col("va") < col("vb"))
        .withColumn("cos", dot("ea", "eb") / (col("na") * col("nb")))
        .filter(col("cos") >= 0.99)
        .select(col("va"), col("vb"), round(col("cos"), 6).as("cos"))
        .orderBy("va", "vb")
    }, Some(s"""
      WITH e0 AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
                  FROM embeddings WHERE vec_id < 1000),
      all_e AS (SELECT vec_id, emb FROM e0
                UNION ALL
                SELECT vec_id + 1000000, list_transform(emb, v -> v * 0.999) FROM e0 WHERE vec_id < 20),
      en AS (SELECT vec_id, emb, SQRT(${dotSql("emb", "emb")}) AS nrm FROM all_e),
      p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                   ${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS cos
            FROM en a JOIN en b ON a.vec_id < b.vec_id)
      SELECT va, vb, ROUND(cos, 6) AS cos FROM p WHERE cos >= 0.99
      ORDER BY va, vb""")),

    // L4c — embedding-cosine near-dup, LSH scale tier: normalize to unit
    // vectors (where euclidean² = 2 − 2·cosine, so a projection-bucket
    // collision IS a cosine-proximity signal), bucket with the same
    // deterministic (k=2, L=6) hyperplane scheme as l05_ann_lsh (plane ids
    // 100+ — an independent plane family), self-join on bucket collision,
    // then EXACT cosine rerank of candidate pairs only. ORACLE-CHECKED
    // since round 7 (was Spark-ML approxSimilarityJoin, rows-only): the
    // rerank reuses the exact tier's fold, so surviving pairs carry
    // bit-identical cosines in both engines. Recall spec (planted pairs ⊆
    // LSH output) retained on top. No all-pairs anywhere: the bucket join
    // only pairs rows whose 2-projection cell matches in ≥1 of 6 tables.
    E("l14_neardup_lsh", (s, d) => {
      import s.implicits._
      val bl = 0.5 // bucket length on UNIT vectors: dyadic, exact
      val hp = (0 until 6).map(t => (t, hplane(100 + 2 * t), hplane(100 + 2 * t + 1)))
        .toDF("t", "ra", "rb")
      val emb = Tables(s, d).embeddings
        .filter(col("vec_id") < 1000)
        .select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb"))
      val all = emb.unionByName(
          emb.filter(col("vec_id") < 20)
            .select((col("vec_id") + 1000000L).as("vec_id"),
                    expr("transform(emb, v -> v * 0.999)").as("emb")))
        .withColumn("nrm", sqrt(dot("emb", "emb")))
      val bk = all
        .withColumn("unit", expr("transform(emb, v -> v / nrm)"))
        .crossJoin(broadcast(hp))
        .select(col("vec_id"), col("t"),
          floor(dot("unit", "ra") / lit(bl)).cast("long").as("ba"),
          floor(dot("unit", "rb") / lit(bl)).cast("long").as("bb"))
      val cpairs = bk.select(col("vec_id").as("va"), col("t"), col("ba"), col("bb"))
        .join(bk.select(col("vec_id").as("vb"), col("t"), col("ba"), col("bb")),
              Seq("t", "ba", "bb"))
        .filter(col("va") < col("vb"))
        .select("va", "vb").distinct()
      val an = all.select(col("vec_id").as("va"), col("emb").as("ea"), col("nrm").as("na"))
      val bn = all.select(col("vec_id").as("vb"), col("emb").as("eb"), col("nrm").as("nb"))
      cpairs.join(an, "va").join(bn, "vb")
        .withColumn("cos", dot("ea", "eb") / (col("na") * col("nb")))
        .filter(col("cos") >= 0.99)
        .select(col("va"), col("vb"), round(col("cos"), 6).as("cos"))
        .orderBy("va", "vb")
    }, Some(s"""
      WITH hp AS ${hpCteSql(100, 6)},
      e0 AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
             FROM embeddings WHERE vec_id < 1000),
      all_e AS (SELECT vec_id, emb FROM e0
                UNION ALL
                SELECT vec_id + 1000000, list_transform(emb, v -> v * 0.999)
                FROM e0 WHERE vec_id < 20),
      en AS (SELECT vec_id, emb, SQRT(${dotSql("emb", "emb")}) AS nrm FROM all_e),
      un AS (SELECT vec_id, list_transform(emb, v -> v / nrm) AS unit FROM en),
      bk AS (SELECT vec_id, t,
                    CAST(FLOOR(${dotSql("unit", "ra")} / 0.5) AS BIGINT) AS ba,
                    CAST(FLOOR(${dotSql("unit", "rb")} / 0.5) AS BIGINT) AS bb
             FROM un CROSS JOIN hp),
      cp AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
             FROM bk a JOIN bk b ON a.t = b.t AND a.ba = b.ba AND a.bb = b.bb
             WHERE a.vec_id < b.vec_id),
      scored AS (SELECT cp.va, cp.vb,
                        ${dotSql("x.emb", "y.emb")} / (x.nrm * y.nrm) AS cos
                 FROM cp JOIN en x ON x.vec_id = cp.va
                         JOIN en y ON y.vec_id = cp.vb)
      SELECT va, vb, ROUND(cos, 6) AS cos FROM scored WHERE cos >= 0.99
      ORDER BY va, vb""")),

    // L6 — TF-IDF term statistics (explode → tf, df, ln(N/df)).
    E("l06_tfidf", (s, d) => {
      val docs = Tables(s, d).documents
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
      tf.join(df_, "token").crossJoin(broadcast(n))
        .withColumn("idf", round(log(col("n_docs").cast("double") / col("df")), 6))
        .withColumn("tfidf", round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .select(col("doc_id"), col("token"), col("tf"), col("idf"), col("tfidf"))
        .orderBy("doc_id", "token")
    }, Some("""
      WITH tf AS (SELECT doc_id, token, COUNT(*) AS tf
                  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
                  GROUP BY 1, 2),
      df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents)
      SELECT tf.doc_id, tf.token, tf.tf,
             ROUND(LN(CAST(n_docs AS DOUBLE) / df.df), 6) AS idf,
             ROUND(tf.tf * LN(CAST(n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
      ORDER BY tf.doc_id, tf.token""")),

    // L7 — text quality scoring: token counts, type-token ratio, mean word
    // length, length-capped composite score.
    E("l07_text_quality", (s, d) => {
      Tables(s, d).documents
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n_tokens", size(col("ws")).cast("long"))
        .withColumn("n_distinct", size(array_distinct(col("ws"))).cast("long"))
        .withColumn("ttr", round(col("n_distinct").cast("double") / col("n_tokens"), 6))
        .withColumn("mean_word_len",
          round(length(regexp_replace(col("text"), " ", "")).cast("double") / col("n_tokens"), 6))
        .withColumn("quality",
          round(col("ttr") * least(col("n_tokens").cast("double") / 50.0, lit(1.0)), 6))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("ttr"),
                col("mean_word_len"), col("quality"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')), 6) AS ttr,
             ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 6) AS mean_word_len,
             ROUND(ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')), 6)
                   * LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0), 6) AS quality
      FROM documents ORDER BY doc_id""")),

    // L7b — language ID: marker-word voting with deterministic tiebreak
    // (n-gram heuristic shape; markers drawn from the corpus vocabulary).
    E("l08_langid", (s, d) => {
      val spark = s
      import spark.implicits._
      val markers = Seq(
        "en" -> "the", "en" -> "a", "en" -> "order", "en" -> "row",
        "es" -> "data", "es" -> "table", "es" -> "fast",
        "zh" -> "spark", "zh" -> "query", "zh" -> "join",
        "de" -> "group", "de" -> "sort", "de" -> "filter",
        "fr" -> "merge", "fr" -> "window", "fr" -> "scan").toDF("mlang", "word")
      val docs = Tables(s, d).documents
      val hits = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .join(broadcast(markers), col("token") === col("word"))
        .groupBy("doc_id", "mlang").agg(count(lit(1)).as("hits"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("hits").desc, col("mlang"))
      val guessed = hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("mlang").as("guessed"), col("hits"))
      docs.select(col("doc_id"), col("lang"))
        .join(guessed, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("lang"),
                coalesce(col("guessed"), lit("unk")).as("guessed"),
                coalesce(col("hits"), lit(0L)).as("hits"))
        .orderBy("doc_id")
    }, Some("""
      WITH markers(mlang, word) AS (VALUES
        ('en','the'),('en','a'),('en','order'),('en','row'),
        ('es','data'),('es','table'),('es','fast'),
        ('zh','spark'),('zh','query'),('zh','join'),
        ('de','group'),('de','sort'),('de','filter'),
        ('fr','merge'),('fr','window'),('fr','scan')),
      hits AS (SELECT doc_id, mlang, COUNT(*) AS hits
               FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents) t
               JOIN markers ON token = word GROUP BY 1, 2),
      guessed AS (SELECT doc_id, mlang AS guessed, hits FROM
        (SELECT doc_id, mlang, hits,
                ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, mlang) AS rn
         FROM hits) WHERE rn = 1)
      SELECT d.doc_id, d.lang, COALESCE(g.guessed, 'unk') AS guessed,
             COALESCE(g.hits, 0) AS hits
      FROM documents d LEFT JOIN guessed g ON d.doc_id = g.doc_id
      ORDER BY d.doc_id""")),

    // L9 — embedding column ops: L2 norm, unit first component, mean-pool.
    E("l09_embedding_ops", (s, d) => {
      Tables(s, d).embeddings
        .withColumn("l2", sqrt(dot("embedding", "embedding")))
        .select(col("vec_id"),
          round(col("l2"), 6).as("l2_norm"),
          round(element_at(col("embedding"), 1).cast("double") / col("l2"), 6).as("unit_first"),
          round(dot("embedding", "embedding") / lit(64.0), 6).as("mean_sq"))
        .orderBy("vec_id")
    }, Some(s"""
      SELECT vec_id,
             ROUND(SQRT(${dotSql("embedding", "embedding")}), 6) AS l2_norm,
             ROUND(CAST(embedding[1] AS DOUBLE) / SQRT(${dotSql("embedding", "embedding")}), 6) AS unit_first,
             ROUND(${dotSql("embedding", "embedding")} / 64.0, 6) AS mean_sq
      FROM embeddings ORDER BY vec_id""")),

    // L9b — embedding avg-pool: per-label centroid components via
    // posexplode → groupBy (label, pos). Emitting (label, pos, value) rows
    // rather than reassembled arrays keeps the output oracle-hashable and is
    // the columnar layout a downstream trainer wants anyway.
    E("l09_centroid", (s, d) => {
      Tables(s, d).embeddings
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("centroid_v"))
        .orderBy("label", "pos")
    }, Some("""
      SELECT label, i AS pos,
             ROUND(AVG(CAST(embedding[i + 1] AS DOUBLE)), 6) AS centroid_v
      FROM embeddings, UNNEST(range(64)) AS t(i)
      GROUP BY label, i ORDER BY label, pos""")),

    // L10 — token counting: whitespace + regex-class token counts.
    E("l10_token_count", (s, d) => {
      Tables(s, d).documents
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
          expr("size(filter(split(text, ' '), x -> x rlike '^[a-z]+$'))").cast("long").as("n_alpha_tokens"),
          length(col("text")).cast("long").as("n_chars_actual"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_ws_tokens,
             len(list_filter(string_split(text, ' '), x -> regexp_full_match(x, '[a-z]+'))) AS n_alpha_tokens,
             LENGTH(text) AS n_chars_actual
      FROM documents ORDER BY doc_id""")),

    // L11 — document fingerprint: polynomial rolling hash over chars,
    // identical ordered fold in both engines (exact integers, no floats).
    E("l11_fingerprint", (s, d) => {
      Tables(s, d).documents.select(col("doc_id"),
        expr("aggregate(sequence(1, length(text)), 0L, (acc, i) -> (acc * 31 + ascii(substring(text, i, 1))) % 1000000007)")
          .as("fingerprint"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, LENGTH(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
      FROM documents ORDER BY doc_id""")),

    // L15 — END-TO-END CURATION PIPELINE: the composition a training-data
    // run actually executes, as ONE graded dataflow — exact dedup (keep
    // canonical) → quality gate (l07's score ≥ 0.5) → language-ID (l08's
    // marker vote) → token accounting (whitespace + BPE-ish regex classes).
    // Each stage is the operator graded standalone elsewhere; this entry
    // proves they compose into one Catalyst plan (single pipeline, no
    // driver round-trips — at 100 TB this runs as ~4 shuffles end to end).
    E("l15_curation_pipeline", (s, d) => {
      val spark = s
      import spark.implicits._
      val canon = Tables(s, d).documents
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      val scored = canon
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n_tokens", size(col("ws")).cast("long"))
        .withColumn("ttr", round(size(array_distinct(col("ws"))).cast("double") / col("n_tokens"), 6))
        .withColumn("quality", round(col("ttr") * least(col("n_tokens").cast("double") / 50.0, lit(1.0)), 6))
        .filter(col("quality") >= 0.5)
      val markers = Seq(
        "en" -> "the", "en" -> "a", "en" -> "order", "en" -> "row",
        "es" -> "data", "es" -> "table", "es" -> "fast",
        "zh" -> "spark", "zh" -> "query", "zh" -> "join",
        "de" -> "group", "de" -> "sort", "de" -> "filter",
        "fr" -> "merge", "fr" -> "window", "fr" -> "scan").toDF("mlang", "word")
      val hits = scored.select(col("doc_id"), explode(col("ws")).as("token"))
        .join(broadcast(markers), col("token") === col("word"))
        .groupBy("doc_id", "mlang").agg(count(lit(1)).as("hits"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("hits").desc, col("mlang"))
      val guessed = hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("mlang").as("lang_guess"))
      scored.join(guessed, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_tokens"), col("quality"),
          coalesce(col("lang_guess"), lit("unk")).as("lang_guess"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)")).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    }, Some("""
      WITH canon AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
      scored AS (SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_tokens,
             ROUND(ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')), 6)
                   * LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0), 6) AS quality
        FROM canon),
      sel AS (SELECT * FROM scored WHERE quality >= 0.5),
      markers(mlang, word) AS (VALUES
        ('en','the'),('en','a'),('en','order'),('en','row'),
        ('es','data'),('es','table'),('es','fast'),
        ('zh','spark'),('zh','query'),('zh','join'),
        ('de','group'),('de','sort'),('de','filter'),
        ('fr','merge'),('fr','window'),('fr','scan')),
      hits AS (SELECT doc_id, mlang, COUNT(*) AS hits
               FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM sel) t
               JOIN markers ON token = word GROUP BY 1, 2),
      guessed AS (SELECT doc_id, mlang AS lang_guess FROM
        (SELECT doc_id, mlang,
                ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, mlang) AS rn
         FROM hits) WHERE rn = 1)
      SELECT s.doc_id, s.n_tokens, s.quality, COALESCE(g.lang_guess, 'unk') AS lang_guess,
             len(regexp_extract_all(s.text, '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)) AS n_bpe_tokens
      FROM sel s LEFT JOIN guessed g ON s.doc_id = g.doc_id
      ORDER BY s.doc_id""")),

    // L8 — multimodal column plumbing: opaque binary payload + typed
    // metadata; "decode" is a deterministic stub (media codecs aren't in
    // this container) but the Spark-side schema/partition/batch shape is
    // real: mapPartitions over the binary column. ORACLE-CHECKED (round 6):
    // the stub fold is the library poly-hash over the payload bytes, which
    // DuckDB reproduces with ord() on the ASCII corpus (the l33/l35/l39
    // convention) — so the whole mapPartitions path, not just its shape,
    // hash-matches. The codec stays an honest stub; the PLUMBING is graded.
    E("l12_multimodal", (s, d) => {
      val spark = s
      import spark.implicits._
      Tables(s, d).documents
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          // STUB decode: real pipelines would demux/decode media here; the
          // deterministic fake keeps plumbing testable offline.
          // Null payload (asset never fetched) → null metadata row; the
          // mirror guards its checksum fold with an explicit CASE … IS
          // NULL so both engines emit NULL (round 8 — previously the
          // DuckDB fold degenerated to 0 on NULL via list_prepend(0,
          // NULL) = [0], a latent divergence that only stayed invisible
          // because graded fixtures carry no null text).
          if (bytes == null)
            (id, None: Option[Long], None: Option[Long], None: Option[Long])
          else {
            val checksum = bytes.foldLeft(0L)((a, x) => (a * 131 + (x & 0xff)) % 1000000007)
            (id, Some(bytes.length.toLong),
              Some(if (bytes.nonEmpty) (bytes(0) & 0xff).toLong else -1L), Some(checksum))
          }
        })
        .toDF("doc_id", "byte_len", "first_byte", "checksum")
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id, LENGTH(text) AS byte_len,
             CAST(CASE WHEN LENGTH(text) = 0 THEN -1 ELSE ord(substr(text, 1, 1)) END AS BIGINT) AS first_byte,
             CASE WHEN text IS NULL THEN NULL ELSE ${polyHashSql("text", 0, 131)} END AS checksum
      FROM documents ORDER BY doc_id""")),

    // L8c — multimodal resize: normalize every payload to a fixed-size
    // representation (truncate / zero-pad to 128 bytes) + typed metadata —
    // the batch shape of an image-resize stage (codec STUBBED as byte ops;
    // media libs aren't in this container). Downstream trainers want
    // fixed-shape tensors; this is the Spark-side contract for that stage.
    // ORACLE-CHECKED (round 6): the oracle folds the identical 128-byte
    // truncate/zero-pad sequence, so the fixed-shape contract itself is
    // hash-verified, not just row-counted.
    E("l12_resize", (s, d) => {
      val spark = s
      import spark.implicits._
      val target = 128
      Tables(s, d).documents
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          // STUB resize: a real pipeline decodes + resamples here; the
          // fixed-shape output contract is what the plumbing guarantees.
          // Null payload → the mirror's shape for NULL text: unknown
          // orig_len/truncated, checksum 0 (the fold over 128 pad zeros).
          if (bytes == null)
            (id, None: Option[Long], target.toLong, None: Option[Boolean], 0L)
          else {
            val out = java.util.Arrays.copyOf(bytes, target)
            val checksum = out.foldLeft(0L)((a, x) => (a * 131 + (x & 0xff)) % 1000000007)
            (id, Some(bytes.length.toLong), target.toLong,
              Some(bytes.length > target), checksum)
          }
        })
        .toDF("doc_id", "orig_len", "resized_len", "truncated", "resized_checksum")
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, LENGTH(text) AS orig_len, CAST(128 AS BIGINT) AS resized_len,
             LENGTH(text) > 128 AS truncated,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(128), i -> CASE WHEN i < LENGTH(text)
                 THEN CAST(ord(substr(text, CAST(i+1 AS INT), 1)) AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END)),
               (acc, ch) -> (acc * 131 + ch) % 1000000007) AS resized_checksum
      FROM documents ORDER BY doc_id""")),

    // L8b — multimodal one-to-many decode: frame sampling. Each binary
    // payload yields ≤4 evenly-spaced "frames" (row explosion inside
    // mapPartitions — the batch shape of a real video demux, with the codec
    // STUBBED as a window checksum since media libs aren't in this
    // container). At scale this is the partition-parallel decode stage
    // feeding feature extraction. ORACLE-CHECKED (round 6): the oracle
    // replays the same frame-count / offset / window arithmetic and window
    // fold, so the one-to-many row explosion is hash-verified end-to-end.
    E("l12_frame_sample", (s, d) => {
      val spark = s
      import spark.implicits._
      Tables(s, d).documents
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          // Null payload → no frames (the mirror's UNNEST(range(NULL))
          // yields zero rows): a missing asset contributes nothing to the
          // one-to-many decode, it doesn't kill the stage.
          if (bytes == null) Iterator.empty
          else {
          val n = math.min(4, math.max(1, bytes.length / 64))
          (0 until n).iterator.map { f =>
            val off = f * (bytes.length / n)
            val win = bytes.slice(off, math.min(off + 64, bytes.length))
            // STUB decode: real pipelines decode the frame here
            val feat = win.foldLeft(0L)((a, x) => (a * 131 + (x & 0xff)) % 1000000007)
            (id, f.toLong, off.toLong, win.length.toLong, feat)
          }
          }
        })
        .toDF("doc_id", "frame_idx", "byte_offset", "window_len", "frame_feature")
        .orderBy("doc_id", "frame_idx")
    }, Some("""
      WITH d AS (SELECT doc_id, text, LENGTH(text) AS len,
                        LEAST(4, GREATEST(1, LENGTH(text) // 64)) AS n
                 FROM documents),
      frames AS (SELECT doc_id, text, len, n, f, f * (len // n) AS off
                 FROM d, UNNEST(range(n)) AS t(f)),
      w AS (SELECT doc_id, f AS frame_idx, off AS byte_offset,
                   LEAST(off + 64, len) - off AS window_len,
                   substr(text, CAST(off + 1 AS INT), CAST(LEAST(off + 64, len) - off AS INT)) AS win
            FROM frames)
      SELECT doc_id, frame_idx, byte_offset, window_len,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(window_len), i -> CAST(ord(substr(win, CAST(i+1 AS INT), 1)) AS BIGINT))),
               (acc, ch) -> (acc * 131 + ch) % 1000000007) AS frame_feature
      FROM w ORDER BY doc_id, frame_idx""")),

    // L8d — REAL multimodal codec (round 8, VERDICT r7 #6): encode each
    // payload as a genuine 24bpp Windows BMP (public format: BITMAPFILE-
    // HEADER + BITMAPINFOHEADER, bottom-up rows, 4-byte row padding —
    // width 7 forces real padding), then DECODE it with an honest parser
    // (graft.text.BmpCodec) that reads the headers, recomputes the
    // stride, un-flips the rows and skips the padding. Output is per-
    // channel integer sums plus an order-sensitive pixel poly-hash; the
    // oracle reproduces them from first principles (pixel i of doc text
    // → BGR arithmetic), so any stride/flip/offset parsing mistake goes
    // red. Null payload → null metadata row (l12_multimodal convention).
    // The other l12 queries keep their documented checksum stubs; this
    // one is the family's non-stub decode path.
    E("l12_bmp_decode", (s, d) => {
      val spark = s
      import spark.implicits._
      Tables(s, d).documents
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          if (bytes == null)
            (id, None: Option[Long], None: Option[Long], None: Option[Long],
              None: Option[Long], None: Option[Long], None: Option[Long],
              None: Option[Long])
          else {
            val dec = BmpCodec.decode(BmpCodec.encode(bytes))
            (id, Some(dec.width), Some(dec.height), Some(dec.bpp),
              Some(dec.bSum), Some(dec.gSum), Some(dec.rSum), Some(dec.pixelHash))
          }
        })
        .toDF("doc_id", "width", "height", "bpp", "b_sum", "g_sum", "r_sum", "pixel_hash")
        .orderBy("doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id, text, LENGTH(text) AS len,
                        GREATEST(1, (LENGTH(text) + 6) // 7) AS h
                 FROM documents WHERE text IS NOT NULL),
      p AS (SELECT doc_id, i,
                   CASE WHEN i < len THEN CAST(ord(substr(text, CAST(i+1 AS INT), 1)) AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS v
            FROM d, UNNEST(range(7 * h)) AS t(i)),
      sums AS (SELECT doc_id, SUM(v) AS b_sum,
                      SUM((v + i) % 256) AS g_sum,
                      SUM((v * 131 + 3) % 256) AS r_sum
               FROM p GROUP BY doc_id),
      vl AS (SELECT doc_id, h, list_transform(range(7 * h),
                      i -> CASE WHEN i < len THEN CAST(ord(substr(text, CAST(i+1 AS INT), 1)) AS BIGINT)
                                ELSE CAST(0 AS BIGINT) END) AS v
             FROM d),
      hs AS (SELECT doc_id,
                    list_reduce(list_prepend(CAST(0 AS BIGINT),
                      flatten(list_transform(range(7 * h), i ->
                        [v[CAST(i+1 AS INT)],
                         (v[CAST(i+1 AS INT)] + i) % 256,
                         (v[CAST(i+1 AS INT)] * 131 + 3) % 256]))),
                      (acc, x) -> (acc * 131 + x) % 1000000007) AS pixel_hash
             FROM vl)
      SELECT d.doc_id, CAST(7 AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
             CAST(24 AS BIGINT) AS bpp, CAST(s.b_sum AS BIGINT) AS b_sum,
             CAST(s.g_sum AS BIGINT) AS g_sum, CAST(s.r_sum AS BIGINT) AS r_sum,
             hs.pixel_hash
      FROM d JOIN sums s USING (doc_id) JOIN hs USING (doc_id)
      UNION ALL
      SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL
      FROM documents WHERE text IS NULL
      ORDER BY doc_id""")),

    // L2d — near-dup CLUSTER dedup: the action a pipeline takes after
    // candidate generation. Near-dup similarity is not transitive, so pairs
    // must be closed into clusters (connected components over the pair
    // graph) before one canonical doc per cluster is kept — deduping by
    // pairs alone either drops too much (both sides) or too little (one
    // side of each pair independently). Pairs here are the exact 3-gram
    // Jaccard join (l03's ground-truth generator); at 100 TB the pair
    // source is the MinHash-LSH candidate set (l02) and the CC step is the
    // same tiered Algorithms.cc — candidates are sparse, so the cluster
    // graph is tiny relative to the corpus.
    E("l16_dedup_clusters", (s, d) => {
      val pairs = ngramJaccardPairs(s, d)
        .select(col("da").as("src"), col("db").as("dst"))
      graft.graph.Algorithms.cc(pairs)
        .groupBy(col("component").as("canonical_doc"))
        .agg(count(lit(1)).as("cluster_size"),
             array_join(transform(sort_array(collect_list(col("id"))), x => x.cast("string")), ",")
               .as("members"))
        .orderBy("canonical_doc")
    }, Some(s"""
      WITH RECURSIVE
      $ngramJaccardPairsSql,
      $pairClosureSql
      SELECT cluster AS canonical_doc, COUNT(*) AS cluster_size,
             string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
      FROM comp GROUP BY cluster ORDER BY canonical_doc""")),

    // L2e — dedup APPLIED: the retained corpus after near-dup cluster
    // dedup — every document except the non-canonical members of each
    // cluster (identical texts of >= 3 tokens share all trigrams, so exact
    // duplicates are subsumed at jaccard 1.0). This is the final output a
    // curation pipeline actually ships downstream; composing it from the
    // shared pair + closure pipelines keeps all three dedup views (pairs,
    // clusters, retained corpus) provably consistent.
    E("l20_dedup_apply", (s, d) => {
      val pairs = ngramJaccardPairs(s, d)
        .select(col("da").as("src"), col("db").as("dst"))
      val drop = graft.graph.Algorithms.cc(pairs)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      Tables(s, d).documents.select(col("doc_id"))
        .join(drop, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    }, Some(s"""
      WITH RECURSIVE
      $ngramJaccardPairsSql,
      $pairClosureSql
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster)
      ORDER BY doc_id""")),

    // L9b — int8 embedding quantization (symmetric absmax — the layout
    // vector stores and training pipelines ship embeddings in: 4× smaller,
    // SIMD-friendly dot products; scale stored per vector for dequantize).
    // Numeric discipline for cross-engine hashing: all arithmetic in DOUBLE
    // (float32 inputs widen exactly), and the round-half-up is spelled
    // floor(x + 0.5) because Spark's and DuckDB's ROUND disagree on
    // negative-tie direction. Zero vectors quantize to NULL (no scale).
    // Output joins the int list to a string (graded-output convention for
    // list columns — the compare is scalar-typed).
    E("l17_quantize_int8", (s, d) => {
      Tables(s, d).embeddings
        .withColumn("amax", array_max(transform(col("embedding"), x => abs(x.cast("double")))))
        .select(col("vec_id"),
          round(col("amax"), 6).as("amax6"),
          when(col("amax") === 0, lit(null))
            .otherwise(array_join(transform(col("embedding"),
              x => floor(x.cast("double") / col("amax") * 127.0 + 0.5).cast("int").cast("string")), ","))
            .as("q"))
        .orderBy("vec_id")
    }, Some("""
      SELECT vec_id,
             ROUND(amax, 6) AS amax6,
             CASE WHEN amax = 0 THEN NULL
                  ELSE array_to_string(list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) / amax * 127.0 + 0.5) AS INT)), ',') END AS q
      FROM (SELECT vec_id, embedding,
                   list_aggregate(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE))), 'max') AS amax
            FROM embeddings)
      ORDER BY vec_id""")),

    // L7b — corpus-frequency rarity scoring: per document, the fraction of
    // token OCCURRENCES whose corpus-wide frequency is ≤ 2, plus the rarest
    // frequency touched — the OOV/garbage detector a curation pipeline runs
    // before training (high rare-ratio = misencoded or synthetic junk).
    // Deliberately transcendental-free (counts + one rounded division):
    // a log-prob score would hang cross-engine parity on libm last-ulp
    // agreement. Scale shape: the frequency table is vocabulary-sized and a
    // plain Catalyst aggregate (stats known), so AQE broadcasts it when it
    // fits — no forced hint: a garbage corpus is exactly the input whose
    // vocabulary explodes, and a hard broadcast there aborts instead of
    // degrading to a shuffle join.
    E("l19_rare_tokens", (s, d) => {
      val tok = Tables(s, d).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val freq = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
      tok.join(freq, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
             sum(when(col("cnt") <= 2, 1).otherwise(0)).cast("long").as("n_rare"),
             min(col("cnt")).as("min_freq"))
        .withColumn("rare_ratio", round(col("n_rare").cast("double") / col("n_tokens"), 6))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
      freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1)
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
             MIN(cnt) AS min_freq,
             ROUND(CAST(SUM(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS rare_ratio
      FROM tok JOIN freq USING (tok)
      GROUP BY doc_id ORDER BY doc_id""")),

    // L5b — document chunking: fixed-size sliding token windows (size 20,
    // stride 10) — how long documents become training/context-window units
    // and retrieval passages. One explode per chunk start; the whole op is
    // a single narrow projection + generator, so at 100 TB it pipelines
    // inside the scan stage with no shuffle at all (ORDER BY here is only
    // the graded-output determinism contract).
    E("l18_chunking", (s, d) => {
      Tables(s, d).documents
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), col("ws"),
          explode(expr("sequence(0, size(ws) - 1, 10)")).as("i"))
        .select(col("doc_id"),
          // integer div for class consistency with l40 (exact here anyway:
          // i is a multiple of the stride)
          expr("i div 10").cast("long").as("chunk_idx"),
          array_join(slice(col("ws"), col("i") + 1, lit(20)), " ").as("chunk_text"),
          least(lit(20), size(col("ws")) - col("i")).cast("long").as("chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      SELECT doc_id, CAST(i // 10 AS BIGINT) AS chunk_idx,
             array_to_string(ws[i+1:i+20], ' ') AS chunk_text,
             LEAST(20, len(ws) - i) AS chunk_tokens
      FROM toks, UNNEST(range(0, len(ws), 10)) AS t(i)
      ORDER BY doc_id, chunk_idx""")),

    // L21 — PII redaction (round 4): scrub emails/phone numbers before a
    // corpus ships to training. The synthetic corpus is word-salad with no
    // real PII, so the graded query PLANTS one deterministic email + phone
    // per document (same planted-fixture pattern as l01_exact_dedup_dups) —
    // the redaction op itself is the real, reusable piece. Patterns avoid
    // backslash classes entirely ([.] [+] instead of \. \+) so the SAME
    // text is a valid regex in Java (Spark), Spark-SQL literals, and RE2
    // (DuckDB). One narrow projection — pipelines in the scan at 100 TB.
    E("l21_pii_redact", (s, d) => {
      val emailPat = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]{2,}"
      val phonePat = "[+]1-555-[0-9]{4}"
      Tables(s, d).documents
        .withColumn("aug", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("aug"), lit(emailPat), lit("<EMAIL>")),
                         lit(phonePat), lit("<PHONE>")).as("redacted"),
          expr(s"size(regexp_extract_all(aug, '$emailPat', 0))").cast("long").as("n_emails"),
          expr(s"size(regexp_extract_all(aug, '$phonePat', 0))").cast("long").as("n_phones"))
        .orderBy("doc_id")
    }, Some("""
      WITH aug AS (SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
           FROM documents)
      SELECT doc_id,
             regexp_replace(regexp_replace(aug, '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]{2,}', '<EMAIL>', 'g'),
                            '[+]1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted,
             CAST(len(regexp_extract_all(aug, '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]{2,}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(aug, '[+]1-555-[0-9]{4}')) AS BIGINT) AS n_phones
      FROM aug ORDER BY doc_id""")),

    // L22 — repetition signals (Gopher-style quality rules, Rae et al. 2021
    // §A1.1): duplicate-trigram fraction + most-frequent-token mass per doc.
    // High values mark boilerplate/degenerate text a curation pipeline
    // drops. Fractions use the floor(x*1e6+0.5)/1e6 convention (pure
    // function of the shared double — r35's rounding-boundary lesson).
    E("l22_repetition", (s, d) => {
      def r6(c: org.apache.spark.sql.Column) = floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
      val docs = Tables(s, d).documents
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
      val base = docs
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
          expr("transform(sequence(1, size(ws) - 2), i -> array_join(slice(ws, i, 3), ' '))").as("tgs"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("tgs")).cast("long").as("n_trigrams"),
          size(array_distinct(col("tgs"))).cast("long").as("n_distinct"))
      val cnt = docs.select(col("doc_id"), explode(col("ws")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("c").desc, col("tok"))
      val top = cnt.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("tok").as("top_token"), col("c").as("top_count"))
      base.join(top, "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          r6(lit(1.0) - col("n_distinct").cast("double") / col("n_trigrams")).as("dup_trigram_frac"),
          col("top_token"),
          r6(col("top_count").cast("double") / col("n_tokens")).as("top_token_frac"))
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
      base AS (SELECT doc_id, len(ws) AS n_tokens,
                      len(ws) - 2 AS n_trigrams,
                      len(list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[i:i+2], ' ')))) AS n_distinct
               FROM toks),
      cnt AS (SELECT doc_id, tok, COUNT(*) AS c
              FROM (SELECT doc_id, UNNEST(ws) AS tok FROM toks) GROUP BY 1, 2),
      top AS (SELECT doc_id, tok AS top_token, c AS top_count FROM
        (SELECT doc_id, tok, c, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, tok) AS rn
         FROM cnt) WHERE rn = 1)
      SELECT b.doc_id, b.n_tokens,
             FLOOR((1.0 - CAST(n_distinct AS DOUBLE) / n_trigrams) * 1000000.0 + 0.5) / 1000000.0 AS dup_trigram_frac,
             top_token,
             FLOOR((CAST(top_count AS DOUBLE) / b.n_tokens) * 1000000.0 + 0.5) / 1000000.0 AS top_token_frac
      FROM base b JOIN top USING (doc_id) ORDER BY doc_id""")),

    // L23 — benchmark-contamination check (round 4): flag training docs
    // sharing any 8-gram with a held-out benchmark set (the GPT-3 §C /
    // PaLM-style n-gram decontamination convention, shortened to 8 for this
    // corpus's doc lengths). Benchmark set = every 50th doc — stands in for
    // an eval suite. The benchmark n-gram table is tiny relative to the
    // corpus, so it broadcasts: at 100 TB the corpus side never shuffles.
    E("l23_contamination", (s, d) => {
      val gs = Tables(s, d).documents
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 8)
        .select(col("doc_id"),
          explode(expr("transform(sequence(1, size(ws) - 7), i -> array_join(slice(ws, i, 8), ' '))")).as("g"))
        .distinct()
      val bench = gs.filter(col("doc_id") % 50 === 0).select("g").distinct()
      gs.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(bench), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared_8grams"))
        .orderBy("doc_id")
    }, Some("""
      WITH tg AS (SELECT DISTINCT doc_id, g FROM
        (SELECT doc_id, UNNEST(list_transform(range(1, len(string_split(text, ' ')) - 6),
                i -> array_to_string(string_split(text, ' ')[i:i+7], ' '))) AS g
         FROM documents WHERE len(string_split(text, ' ')) >= 8)),
      bench AS (SELECT DISTINCT g FROM tg WHERE doc_id % 50 = 0)
      SELECT doc_id, COUNT(*) AS n_shared_8grams
      FROM tg JOIN bench USING (g) WHERE doc_id % 50 <> 0
      GROUP BY doc_id ORDER BY doc_id""")),

    // L24 — stratified corpus sampling (round 4): per-language downsampling
    // with the deterministic Knuth multiplicative hash (r30's convention) —
    // language rebalancing before training. Deterministic hash (not rand())
    // means the sample is reproducible across runs/engines and the op is
    // one narrow shuffle-free filter at any scale.
    E("l24_stratified_sample", (s, d) => {
      Tables(s, d).documents
        .withColumn("bucket", ((col("doc_id") % lit(1000000007L)) * lit(2654435761L)) % 100)
        .filter(col("bucket") < when(col("lang") === "en", lit(10)).otherwise(lit(40)))
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, lang, ((doc_id % 1000000007) * 2654435761) % 100 AS bucket
      FROM documents
      WHERE ((doc_id % 1000000007) * 2654435761) % 100 < CASE WHEN lang = 'en' THEN 10 ELSE 40 END
      ORDER BY doc_id""")),

    // L25 — exact substring (span) dedup, the sequence-level dedup of
    // Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    // Better"): doc pairs sharing >= 3 distinct 12-token contiguous spans.
    // Inverted-index join on the span — cost scales with span collisions,
    // never all-pairs — with a document-frequency cap (df <= 50) that drops
    // boilerplate spans, which is both the published practice and the thing
    // that bounds per-span fan-out (df² pairs) at corpus scale. The graded
    // join keys on the raw span text so both engines dedup on identical
    // semantics; the 100 TB variant pre-hashes spans to 8 bytes with
    // xxhash64 before the shuffle (same result up to 2^-64 collisions),
    // cutting shuffle bytes ~6×.
    E("l25_span_dedup", (s, d) => {
      val spans = Tables(s, d).documents
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(t) >= 12
             THEN array_distinct(transform(sequence(1, size(t) - 11), i -> concat_ws(' ', slice(t, i, 12))))
             ELSE array() END""")).as("span"))
      // single pass: group once on span, expand the (bounded) per-span doc
      // set to pairs inline — one shuffle on span + one on the pair, and the
      // tokenize/explode scan runs exactly once (a rare-span semi-join
      // formulation re-scans and re-explodes the corpus per join arm).
      spans.groupBy("span").agg(collect_set(col("doc_id")).as("docs"))
        .filter(size(col("docs")).between(2, 50))
        .select(explode(expr(
          "filter(flatten(transform(docs, a -> transform(docs, b -> named_struct('a', a, 'b', b)))), p -> p.a < p.b)")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_shared_spans"))
        .filter(col("n_shared_spans") >= 3)
        .orderBy("a", "b")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      spans AS (SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 11), ' ') AS span
                FROM toks, UNNEST(range(1, len(t) - 10)) AS u(i)),
      rare AS (SELECT span FROM spans GROUP BY span HAVING COUNT(*) BETWEEN 2 AND 50),
      cand AS (SELECT s.span, s.doc_id FROM spans s JOIN rare r ON r.span = s.span)
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared_spans
      FROM cand x JOIN cand y ON x.span = y.span AND x.doc_id < y.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
      ORDER BY a, b""")),

    // L26 — KMeans clustering of the embedding corpus (Lloyd's algorithm,
    // k = 4, two fixed assign/update rounds, seeds = the 4 lowest vec_ids):
    // the topic-balancing / cluster-level curation step of an embedding
    // pipeline. Formulated relationally over (vec_id, pos, v) rows — the
    // assignment is a join on pos + a per-(vec, centroid) squared-distance
    // aggregate + an argmin window, the update a per-(centroid, pos) avg —
    // so it unrolls into SQL exactly and, at scale, the k·d centroid table
    // auto-broadcasts while the points never shuffle more than once per
    // round. Deterministic: fixed seeds, fixed rounds, (d2, cid) argmin
    // tie-break.
    E("l26_kmeans", (s, d) => {
      lloydAssign(Tables(s, d).embeddings.select("vec_id", "embedding"))
        .select(col("vec_id"), col("cid").as("cluster"))
        .orderBy("vec_id")
    }, Some(s"""
      WITH ${lloydCtes("embeddings")}
      SELECT vec_id, cid AS cluster FROM a2 ORDER BY vec_id""")),

    // L27 — character-entropy quality scoring: Shannon entropy of the
    // per-document character distribution plus the distinct-char count —
    // the cheap gibberish/repetition signal used alongside length and
    // stopword ratios in corpus filtering (low entropy = repeated filler,
    // near-maximal = random noise; complements l07's ratio filters and
    // l22's repetition detector). One explode + two aggregations; the
    // distribution never leaves its doc_id partition.
    E("l27_char_entropy", (s, d) => {
      val counts = Tables(s, d).documents
        .select(col("doc_id"), length(col("text")).as("n"),
          explode(expr(
            """CASE WHEN length(text) >= 1
               THEN transform(sequence(1, length(text)), i -> substring(text, i, 1))
               ELSE array() END""")).as("ch"))
        .groupBy("doc_id", "n", "ch").agg(count(lit(1)).as("c"))
      val p = col("c").cast("double") / col("n").cast("double")
      counts.groupBy("doc_id").agg(
          round(-sum(p * log2(p)), 6).as("entropy"),
          count(lit(1)).as("n_distinct_chars"))
        .orderBy("doc_id")
    }, Some("""
      WITH chars AS (SELECT doc_id, LENGTH(text) AS n, substr(text, i, 1) AS ch
                     FROM documents, UNNEST(range(1, LENGTH(text) + 1)) AS u(i)),
      counts AS (SELECT doc_id, n, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2, 3)
      SELECT doc_id,
             ROUND(-SUM((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * LOG2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS entropy,
             COUNT(*) AS n_distinct_chars
      FROM counts GROUP BY doc_id ORDER BY doc_id""")),

    // L28 — source-level curation rollup: the domain/source-granularity
    // pass of corpus curation (CCNet/RefinedWeb-style: decide retention per
    // SOURCE before touching documents — cheap, and catches systematically
    // bad feeds that per-doc filters only catch one doc at a time). All
    // ratios derive from exact integer sums (one double division at the
    // end), so the output is bit-stable across engines. One hash agg.
    E("l28_source_rollup", (s, d) => {
      Tables(s, d).documents
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("n_chars_total"),
             countDistinct(col("lang")).as("n_langs"),
             sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
        .select(col("source"), col("n_docs"), col("n_chars_total"), col("n_langs"),
          round(col("n_chars_total").cast("double") / col("n_docs"), 6).as("avg_chars"),
          round(col("n_en").cast("double") / col("n_docs"), 6).as("pct_en"))
        .orderBy("source")
    }, Some("""
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
             COUNT(DISTINCT lang) AS n_langs,
             ROUND(CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
             ROUND(CAST(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / COUNT(*), 6) AS pct_en
      FROM documents GROUP BY source ORDER BY source""")),

    // L29 — corpus-bigram cross-entropy: per-doc average -log2 P(bigram)
    // under the corpus-wide character-bigram MLE — the self-trained stand-in
    // for LM-perplexity quality filtering (CCNet's filtering signal; no
    // external LM in this container, and a corpus-trained n-gram model is
    // the classical version of the same signal). High xent = doc is
    // out-of-distribution for the corpus (noise, wrong language, binary
    // junk). The bigram vocabulary is at most |alphabet|² distinct keys, so
    // the count table broadcasts and the per-doc join never shuffles the
    // corpus; probabilities are exact-integer ratios.
    E("l29_bigram_xent", (s, d) => {
      val bg = Tables(s, d).documents
        .select(col("doc_id"), explode(expr(
          """CASE WHEN length(text) >= 2
             THEN transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))
             ELSE array() END""")).as("bg"))
      val counts = bg.groupBy("bg").agg(count(lit(1)).as("c"))
        .transform(graft.graph.Materialize.apply)
      val withTot = counts.crossJoin(broadcast(counts.agg(sum(col("c")).as("t"))))
      bg.join(broadcast(withTot), Seq("bg"))
        .groupBy("doc_id")
        .agg(round(avg(-log2(col("c").cast("double") / col("t").cast("double"))), 6).as("xent"),
             count(lit(1)).as("n_bigrams"))
        .orderBy("doc_id")
    }, Some("""
      WITH bg AS MATERIALIZED (
        SELECT doc_id, substr(text, i, 2) AS bg
        FROM documents, UNNEST(range(1, LENGTH(text))) AS u(i)),
      counts AS MATERIALIZED (SELECT bg, COUNT(*) AS c FROM bg GROUP BY 1),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM counts)
      SELECT b.doc_id,
             ROUND(AVG(-LOG2(CAST(cn.c AS DOUBLE) / CAST(t.t AS DOUBLE))), 6) AS xent,
             COUNT(*) AS n_bigrams
      FROM bg b JOIN counts cn USING (bg) CROSS JOIN tot t
      GROUP BY b.doc_id ORDER BY doc_id""")),

    // L30 — per-source vocabulary stats: token count, type count, and
    // type-token ratio — the vocabulary-richness axis of corpus QA (a
    // source whose TTR collapses is template spam even when per-doc
    // filters pass). Exact integers + one final division; tokens never
    // leave their source partition after the explode.
    E("l30_vocab_stats", (s, d) => {
      Tables(s, d).documents
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_types"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"))
        .orderBy("source")
    }, Some("""
      WITH tok AS (SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents)
      SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_types,
             ROUND(CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*), 6) AS ttr
      FROM tok GROUP BY source ORDER BY source""")),

    // L31 — asymmetric containment near-dup (Broder 1997's containment
    // measure, the companion to resemblance/Jaccard): cont(A in B) =
    // |A∩B| / |A| over distinct word trigrams. Catches SUBSET duplication —
    // a short doc quoted wholesale inside a long one scores near 1.0 here
    // while its Jaccard stays low (the union is dominated by the long doc),
    // so l03 misses exactly the pairs this finds. Same inverted-index join
    // and shared trigram base as l03 (single-sourced, cannot drift); exact
    // integer counts, one rounded division per direction.
    E("l31_containment", (s, d) => {
      trigramPairCounts(s, d)
        .withColumn("cont_ab", round(col("i").cast("double") / col("na"), 6))
        .withColumn("cont_ba", round(col("i").cast("double") / col("nb"), 6))
        .filter(greatest(col("cont_ab"), col("cont_ba")) >= 0.6)
        .select(col("da"), col("db"), col("cont_ab"), col("cont_ba"))
        .orderBy("da", "db")
    }, Some(s"""
      WITH $trigramInterSql
      SELECT da, db,
             ROUND(CAST(i AS DOUBLE) / sa.n, 6) AS cont_ab,
             ROUND(CAST(i AS DOUBLE) / sb.n, 6) AS cont_ba
      FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      WHERE GREATEST(ROUND(CAST(i AS DOUBLE) / sa.n, 6), ROUND(CAST(i AS DOUBLE) / sb.n, 6)) >= 0.6
      ORDER BY da, db""")),

    // L34 — Gopher-style quality gate (Rae et al. 2021 §A1.1), the signals
    // l22 does NOT cover: char-fraction of the most frequent word 2-gram,
    // char-COVERAGE of duplicated 3-grams (positions under any repeated
    // trigram, not l22's distinct-count ratio), stop-word presence (>=2 of
    // a fixed 6-word list), word-count and mean-word-length bounds, and the
    // composite pass flag. Thresholds calibrated non-vacuous on the graded
    // corpus (~5% fail dup-coverage, ~20% fail top-bigram, ~22% fail
    // stop-words). Scale shape: three narrow per-doc explode+agg passes —
    // no join crosses documents, so the op is embarrassingly parallel and
    // shuffle cost is O(corpus tokens) regardless of corpus size.
    E("l34_gopher_quality", (s, d) =>
      gopherQuality(Tables(s, d).documents).orderBy("doc_id"),
      Some(gopherSql)),
    // L33 — DSIR-style importance weighting (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling"): score each
    // doc by log p_target/p_raw under bag-of-hashed-unigram models, target
    // = the src0/src1 slice (stand-in for a curated high-quality corpus).
    // Token→bucket is a polynomial rolling hash over char codes mod 64,
    // implemented with the SAME integer arithmetic in Spark and DuckDB so
    // the bucketing is engine-identical; per-doc log-weights are ordered
    // folds over bucket-sorted terms (the repo's bit-identical-double
    // convention). Scale shape: one token-level hash+count (map-side
    // combine), a 64-row broadcast delta table, and a per-doc bounded fold
    // — no corpus-crossing join, so the op stays linear at 100 TB.
    E("l33_dsir_importance", (s, d) => {
      // ONE corpus scan: per-(doc, source, bucket) token counts are
      // materialized, then target/raw/per-doc views all derive from that
      // bucket-level table (PLANS.md check — the naive form re-scans and
      // re-hashes the corpus once per derived view).
      graft.functions.GraftFunctions.register(s)
      val docsb = Tables(s, d).documents
        .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("t"))
        // native codegen'd byte-loop hash (graft.functions.PolyHash) — the
        // composable aggregate/transform fold is the interpreted fallback
        // form and FunctionsSpec proves them equal
        .withColumn("b", expr("poly_hash(t, 7L, 31L) % 64"))
        .groupBy("doc_id", "source", "b").agg(count(lit(1)).as("c"))
        .transform(graft.graph.Materialize.apply)
      val isTgt = col("source").isin("src0", "src1")
      val raw = docsb.groupBy("b").agg(
        sum(col("c")).as("cr"),
        sum(when(isTgt, col("c")).otherwise(0L)).as("ct"))
      val tots = raw.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
      val delta = raw.crossJoin(broadcast(tots))
        .select(col("b"),
          (log((col("ct") + 1).cast("double") / (col("tt") + 64)) -
           log((col("cr") + 1).cast("double") / (col("tr") + 64))).as("d"))
      val scored = docsb.join(broadcast(delta), "b")
        .withColumn("term", col("c").cast("double") * col("d"))
        .groupBy("doc_id", "source")
        .agg(expr("aggregate(sort_array(collect_list(struct(b, term))), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)").as("lw"))
      scored
        .select(col("doc_id"), col("source"),
          (floor(col("lw") * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("dsir_logw"),
          (col("lw") > 0).as("selected"))
        .orderBy("doc_id")
    }, Some(dsirSql)),

    // L32 — SemDeDup (Abbas et al. 2023): cluster embeddings with KMeans,
    // then near-dup ONLY within each cluster — the whole point at scale:
    // the O(N²) pairwise cosine collapses to Σ O(|cluster|²), and k grows
    // with the corpus so per-cluster pair cost stays bounded while the
    // clustering itself is linear. Keep-rule here is keep-min-id (the
    // repo's deterministic canonical convention, vs the paper's
    // closest-to-centroid, which ties to FP ordering). Same planted-dup
    // convention as l14 (20 scaled copies of the lowest vec_ids) so the
    // removed set is non-vacuous and exactly known; the vec_id < 1000
    // drill-down bound is the same documented grading bound as l14's.
    // Clustering is single-sourced with l26 via [[lloydAssign]]/[[lloydCtes]].
    E("l32_semdedup", (s, d) => {
      val base = Tables(s, d).embeddings.filter(col("vec_id") < 1000)
        .select(col("vec_id"), expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb"))
      val planted = base.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"),
                expr("transform(emb, v -> v * 0.999)").as("emb"))
      val all = base.unionByName(planted)
      val asg = lloydAssign(all.select(col("vec_id"), col("emb").as("embedding")))
      val e = all.join(asg, "vec_id").withColumn("nrm", sqrt(dot("emb", "emb")))
      val x = e.select(col("vec_id").as("a"), col("cid").as("ca"),
                       col("emb").as("ea"), col("nrm").as("na"))
      val y = e.select(col("vec_id").as("b"), col("cid").as("cb"),
                       col("emb").as("eb"), col("nrm").as("nb"))
      x.join(y, col("ca") === col("cb") && col("a") < col("b"))
        .withColumn("cos", round(dot("ea", "eb") / (col("na") * col("nb")), 6))
        .filter(col("cos") >= 0.99)
        .groupBy(col("b").as("removed"), col("cb").as("cluster"))
        .agg(count(lit(1)).as("n_dup_partners"), min(col("a")).as("min_partner"))
        .orderBy("removed")
    }, Some(s"""
      WITH e0 AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
                  FROM embeddings WHERE vec_id < 1000),
      all_e AS (SELECT vec_id, emb AS embedding FROM e0
                UNION ALL
                SELECT vec_id + 1000000, list_transform(emb, v -> v * 0.999) FROM e0 WHERE vec_id < 20),
      ${lloydCtes("all_e")},
      en AS (SELECT a.vec_id, a.cid, e.embedding,
                    SQRT(${dotSql("e.embedding", "e.embedding")}) AS nrm
             FROM a2 a JOIN all_e e USING (vec_id)),
      pairs AS (SELECT x.vec_id AS a, y.vec_id AS b, x.cid,
                       ROUND(${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm), 6) AS cos
                FROM en x JOIN en y ON x.cid = y.cid AND x.vec_id < y.vec_id)
      SELECT b AS removed, cid AS cluster, COUNT(*) AS n_dup_partners, MIN(a) AS min_partner
      FROM pairs WHERE cos >= 0.99
      GROUP BY 1, 2 ORDER BY removed""")),

    // L35 — exact binary-asset dedup: hash every payload (the l12
    // multimodal binary column) with the SAME 131-polynomial checksum the
    // l12 stub codecs use, group, and report duplicate groups with the
    // canonical minimum doc. The pre-decode dedup every media pipeline
    // runs first (decoding a duplicate asset is pure waste). Was the first
    // oracle-checked member of the l12 family; since round 6 the l12
    // queries themselves are hash-checked too, by the same ord() byte
    // mirror. One hash agg; collision risk documented (131-poly mod 1e9+7
    // is the stub convention — a production asset store would use a
    // cryptographic digest, same plan shape).
    E("l35_binary_dedup", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val docs = Tables(s, d).documents
      // planted copies (the l01b/l14 convention): the first 100 payloads
      // re-ingested under shifted asset ids — a re-crawled media batch
      val all = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") < 100)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val hashed = all
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"), length(col("payload")).cast("long").as("byte_len"),
          // native byte-loop hash over the BINARY column (PolyHash accepts
          // string and binary) — stays inside whole-stage codegen, unlike
          // a typed mapPartitions stub hop
          expr("poly_hash(payload, 0L, 131L)").as("checksum"))
      hashed.groupBy("checksum", "byte_len")
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical"),
             concat_ws(",", sort_array(collect_list(col("doc_id")))).as("members"))
        .filter(col("n_copies") >= 2)
        .orderBy("canonical")
    }, Some(s"""
      WITH all_docs AS (SELECT doc_id, text FROM documents
                        UNION ALL
                        SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 100),
      hashed AS (SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS byte_len,
        ${polyHashSql("text", 0, 131)} AS checksum
        FROM all_docs)
      SELECT checksum, byte_len, COUNT(*) AS n_copies, MIN(doc_id) AS canonical,
             string_agg(doc_id, ',' ORDER BY doc_id) AS members
      FROM hashed GROUP BY 1, 2 HAVING COUNT(*) >= 2
      ORDER BY canonical""")),

    // L36 — Zipf rank-frequency fit per source: OLS slope of ln(freq) on
    // ln(rank) over each source's token distribution. Natural corpora sit
    // near slope −1 (Zipf 1949); template spam and synthetic filler bend
    // the curve, so the slope is a cheap source-level QA signal next to
    // l30's TTR. All four OLS sums are ordered folds over the rank-sorted
    // vocabulary (the repo's bit-identical-double convention) and the
    // slope/intercept are single closed-form expressions, so the oracle
    // hash-matches exactly. Scale: token count → per-source vocab is
    // bounded; the heavy step is the token groupBy (one shuffle), the fit
    // itself touches |vocab| rows per source.
    E("l36_zipf_fit", (s, d) => {
      val cnt = Tables(s, d).documents
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val ranked = cnt.withColumn("rank",
        row_number().over(Window.partitionBy("source").orderBy(col("c").desc, col("tok"))))
      def fold(term: String) = expr(
        s"aggregate(sort_array(collect_list(struct(rank, $term AS t))), CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.t)")
      val sums = ranked.groupBy("source").agg(
        count(lit(1)).cast("double").as("n"),
        fold("ln(rank)").as("sx"), fold("ln(c)").as("sy"),
        fold("ln(rank) * ln(c)").as("sxy"), fold("ln(rank) * ln(rank)").as("sxx"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
                  (col("n") * col("sxx") - col("sx") * col("sx"))
      sums.select(col("source"), col("n").cast("long").as("n_types"),
          round(slope, 6).as("zipf_slope"),
          round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
        .orderBy("source")
    }, Some("""
      WITH cnt AS (SELECT source, tok, COUNT(*) AS c FROM
                   (SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents)
                   GROUP BY 1, 2),
      ranked AS (SELECT source, c,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rank FROM cnt),
      sums AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(LN(rank) ORDER BY rank)), (a, v) -> a + v) AS sx,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(LN(c) ORDER BY rank)), (a, v) -> a + v) AS sy,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(LN(rank) * LN(c) ORDER BY rank)), (a, v) -> a + v) AS sxy,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(LN(rank) * LN(rank) ORDER BY rank)), (a, v) -> a + v) AS sxx
        FROM ranked GROUP BY source)
      SELECT source, CAST(n AS BIGINT) AS n_types,
             ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
             ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
      FROM sums ORDER BY source""")),

    // L37 — composed curation decision: the Gopher gate (l34) AND the DSIR
    // selection (l33) joined into one retention verdict per doc. Built by
    // COMPOSING the registered queries and their oracles verbatim
    // (subquery embedding) — the composite cannot drift from its parts.
    // Honest plan note: Catalyst compiles this to ONE job with one output
    // pass, but it does NOT dedupe the branches' scans (each signal
    // re-reads documents); a production pipeline materializes the signal
    // tables once and joins them — l33's docsb materialization is that
    // pattern, and the composition here grades decision semantics, not
    // scan sharing.
    E("l37_curation_v2", (s, d) => {
      val gate = LlmQueries.queries("l34_gopher_quality")(s, d)
        .select("doc_id", "gopher_pass")
      val weight = LlmQueries.queries("l33_dsir_importance")(s, d)
        .select("doc_id", "source", "dsir_logw", "selected")
      gate.join(weight, "doc_id")
        .select(col("doc_id"), col("source"), col("gopher_pass"),
          col("dsir_logw"), col("selected"),
          (col("gopher_pass") && col("selected")).as("retained"))
        .orderBy("doc_id")
    }, Some(s"""
      SELECT g.doc_id, i.source, g.gopher_pass, i.dsir_logw, i.selected,
             (g.gopher_pass AND i.selected) AS retained
      FROM ($gopherSql) g JOIN ($dsirSql) i ON i.doc_id = g.doc_id
      ORDER BY g.doc_id""")),

    // L38 — trigram novelty under ingestion order: per doc, the fraction
    // of its distinct trigrams whose FIRST corpus occurrence (min doc_id)
    // is this doc — the incremental-crawl health metric (a feed whose
    // novelty decays to 0 is re-crawling what you already have; the
    // content-level complement of l35's asset-identity dedup). Reuses the
    // trigram sets of l02/l03/l16/l31 (LshIndex.grams, single-sourced
    // tokenization).
    // Exact integers + one division; the first-occurrence min is one
    // trigram-keyed aggregate — no per-pair work at any corpus size.
    E("l38_novelty", (s, d) => {
      val tg = LshIndex.grams(Tables(s, d).documents)
      val firstSeen = tg.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
      tg.join(firstSeen, "g")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_trigrams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_trigrams"), 6))
        .orderBy("doc_id")
    }, Some(s"""
      WITH $trigramBaseSql,
      first_seen AS (SELECT g, MIN(doc_id) AS first_doc FROM tg GROUP BY 1)
      SELECT t.doc_id, COUNT(*) AS n_trigrams,
             CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             ROUND(CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS novelty
      FROM tg t JOIN first_seen f USING (g)
      GROUP BY t.doc_id ORDER BY t.doc_id""")),

    // L39 — source-pair distribution drift: Jensen-Shannon divergence
    // between each source pair's hashed-unigram distributions (the l33
    // poly_hash bucketing reused; +1 smoothing) — which feeds have moved
    // apart, the pairwise refinement of l30/l36's per-source stats. JSD
    // over B=64 buckets: per pair an ordered bucket-indexed fold (the
    // bit-exact-double convention); the pair count is |sources|² — a
    // metadata-sized join, never corpus-sized. Pairs above the p95-ish
    // threshold are the drift alerts; full matrix emitted for grading.
    E("l39_source_drift", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val counts = Tables(s, d).documents
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
        .withColumn("b", expr("poly_hash(t, 7L, 31L) % 64"))
        .groupBy("source", "b").agg(count(lit(1)).as("c"))
        .transform(graft.graph.Materialize.apply)
      val tot = counts.groupBy("source").agg(sum(col("c")).as("n"))
      // dense per-source distribution over all 64 buckets (smoothed)
      val buckets = counts.sparkSession.range(64).select(col("id").as("b"))
      val dist = tot.crossJoin(buckets)
        .join(counts, Seq("source", "b"), "left_outer")
        .select(col("source"), col("b"),
          ((coalesce(col("c"), lit(0L)) + 1).cast("double") / (col("n") + 64).cast("double")).as("p"))
      val pairs = dist.select(col("source").as("sa"), col("b"), col("p").as("pa"))
        .join(dist.select(col("source").as("sb"), col("b"), col("p").as("pb")), "b")
        .filter(col("sa") < col("sb"))
        .withColumn("m", (col("pa") + col("pb")) / 2.0)
        .withColumn("term",
          col("pa") * log2(col("pa") / col("m")) / 2.0 +
          col("pb") * log2(col("pb") / col("m")) / 2.0)
      pairs.groupBy("sa", "sb")
        .agg(expr("aggregate(sort_array(collect_list(struct(b, term AS t))), CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.t)").as("jsd"))
        .select(col("sa"), col("sb"), round(col("jsd"), 6).as("jsd"))
        .orderBy("sa", "sb")
    }, Some(s"""
      WITH tok AS (SELECT source, UNNEST(string_split(text, ' ')) AS t FROM documents),
      counts AS (SELECT source,
        ${polyHashSql("t", 7, 31)} % 64 AS b, COUNT(*) AS c
        FROM tok GROUP BY 1, 2),
      tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1),
      buckets AS (SELECT UNNEST(range(64)) AS b),
      dist AS (SELECT t.source, bk.b,
                      CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / CAST(t.n + 64 AS DOUBLE) AS p
               FROM tot t CROSS JOIN buckets bk
               LEFT JOIN counts c ON c.source = t.source AND c.b = bk.b),
      pairs AS (SELECT a.source AS sa, b.source AS sb, a.b,
                       a.p * LOG2(a.p / ((a.p + b.p) / 2.0)) / 2.0 +
                       b.p * LOG2(b.p / ((a.p + b.p) / 2.0)) / 2.0 AS term
                FROM dist a JOIN dist b ON a.b = b.b AND a.source < b.source)
      SELECT sa, sb,
             ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY b)),
                   (acc, v) -> acc + v), 6) AS jsd
      FROM pairs GROUP BY 1, 2 ORDER BY sa, sb""")),

    // L40 — sequence packing (concat-and-chunk): per source, docs are
    // concatenated in doc_id order and cut into fixed 512-token training
    // sequences; each doc reports the sequence its first token lands in,
    // its token offset there, and whether it straddles a cut — the packing
    // step between curation and the trainer, and the batch-shape contract
    // a data loader consumes. One running-sum window per source (token
    // counts are integers, so placement is exact); at scale the window
    // partitions by source shard and the 512 constant is the model's
    // context length, not a data-dependent bound.
    E("l40_seq_packing", (s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
      Tables(s, d).documents
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("cum_before",
          coalesce(sum(col("n_tokens"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          // integer division (`div`), not `/`: Spark's `/` on integrals is
          // DOUBLE division, whose truncated quotient can drift from the
          // oracle's exact `//` once cumulative counts pass 2^53
          expr("cum_before div 512").as("seq_id"),
          (col("cum_before") % 512).as("seq_offset"),
          ((col("cum_before") % 512) + col("n_tokens") > 512).as("straddles"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents),
      c AS (SELECT doc_id, source, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
            FROM t)
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(cum_before // 512 AS BIGINT) AS seq_id,
             CAST(cum_before % 512 AS BIGINT) AS seq_offset,
             (cum_before % 512) + n_tokens > 512 AS straddles
      FROM c ORDER BY doc_id""")),

    // L41 — per-source token budgeting, UniMax one-round (Chung et al.
    // 2023, "UniMax: Fairer and More Effective Language Sampling"): every
    // source gets an EQUAL share of the corpus token budget, capped by what
    // the source actually has — the mixture step between curation and
    // packing that stops a dominant source from flooding the training mix.
    // Docs fill their source's budget greedily in multiplicative-hash order
    // (l24's reproducible-sample convention — a seeded shuffle without an
    // RNG). Budgets, prefix sums, and the cutoff are all exact BIGINT, so
    // both engines agree bit-for-bit. Scale posture: the budget table is
    // one row per source and broadcasts; the ordered prefix is one window
    // keyed by source — the verifiable twin of the at-scale per-source
    // RATE filter (l24's bucket form), which needs no ordered prefix at
    // all once budgets are converted to sampling rates.
    E("l41_unimax_budget", (s, d) => {
      val docs = Tables(s, d).documents
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          // doc_id reduced mod 1e9+7 BEFORE the Knuth multiply: max product
          // ~2.7e18 < 2^63 (the t12/g30 overflow-divergence class)
          (((col("doc_id") % lit(1000000007L)) * lit(2654435761L))
            % lit(1000000007L)).as("rank_key"))
      val budgets = docs.groupBy("source")
        .agg(sum(col("n_tokens")).as("avail_toks"))
        .crossJoin(broadcast(docs.agg(
          countDistinct(col("source")).as("n_src"))))
        .select(col("source"),
          least(col("avail_toks"), expr("20000L div n_src")).as("budget_toks"))
      val w = Window.partitionBy("source").orderBy("rank_key", "doc_id")
      docs.withColumn("cum_toks",
          sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .join(broadcast(budgets), Seq("source"))
        .filter(col("cum_toks") <= col("budget_toks"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_toks"), col("budget_toks"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, source,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                        ((doc_id % 1000000007) * 2654435761) % 1000000007 AS rank_key
                 FROM documents),
      b AS (SELECT source,
                   LEAST(SUM(n_tokens),
                         20000 // (SELECT COUNT(DISTINCT source) FROM t)) AS budget_toks
            FROM t GROUP BY source),
      r AS (SELECT doc_id, source, n_tokens,
                   SUM(n_tokens) OVER (PARTITION BY source ORDER BY rank_key, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
            FROM t)
      SELECT r.doc_id, r.source, r.n_tokens,
             CAST(r.cum_toks AS BIGINT) AS cum_toks,
             CAST(b.budget_toks AS BIGINT) AS budget_toks
      FROM r JOIN b USING (source)
      WHERE r.cum_toks <= b.budget_toks
      ORDER BY doc_id""")),

    // L42 — temperature-rebalanced source sampling (the mT5/multilingual
    // convention, Xue et al. 2021 §3.2; T=2): per-source selection quotas
    // ∝ n_s^(1/T) — big sources are downweighted sublinearly instead of
    // capped (l41 UniMax) or rate-thinned (l24), the third standard
    // mixture strategy a curation pipeline needs. T is fixed at 2 so the
    // reweighting is sqrt(n_s) — sqrt is IEEE-754 correctly rounded in
    // both engines, unlike libm pow (the g31 rationale). The normalizer
    // Σ sqrt(n_s) is an ordered fold over sources (l36 convention); docs
    // fill their quota in the l41/l24 multiplicative-hash order, so the
    // whole selection is deterministic and oracle-checked. Scale posture:
    // quotas are one broadcast row per source; the only per-doc work is
    // the same rank window l41 already pays.
    E("l42_temperature_mix", (s, d) => {
      val docs = Tables(s, d).documents
        .select(col("doc_id"), col("source"),
          (((col("doc_id") % lit(1000000007L)) * lit(2654435761L))
            % lit(1000000007L)).as("rank_key"))
      val n = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
      val z = n.agg(
        expr("aggregate(sort_array(collect_list(struct(source, sqrt(n_src) AS w))), CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.w)").as("z"))
      val quota = n.crossJoin(broadcast(z))
        .select(col("source"), col("n_src"),
          floor(sqrt(col("n_src")) / col("z") * lit(200.0)).cast("long").as("quota"))
      val w = Window.partitionBy("source").orderBy("rank_key", "doc_id")
      docs.withColumn("rk", row_number().over(w).cast("long"))
        .join(broadcast(quota), Seq("source"))
        .filter(col("rk") <= col("quota"))
        .select(col("doc_id"), col("source"), col("n_src"), col("quota"), col("rk"))
        .orderBy("source", "rk")
    }, Some("""
      WITH t AS (SELECT doc_id, source,
                        ((doc_id % 1000000007) * 2654435761) % 1000000007 AS rank_key
                 FROM documents),
      n AS (SELECT source, COUNT(*) AS n_src FROM t GROUP BY 1),
      z AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(SQRT(n_src) ORDER BY source)), (a, v) -> a + v) AS z
            FROM n),
      quota AS (SELECT source, n_src,
                       CAST(FLOOR(SQRT(n_src) / z * 200.0) AS BIGINT) AS quota
                FROM n CROSS JOIN z),
      r AS (SELECT doc_id, source,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY rank_key, doc_id) AS rk
            FROM t)
      SELECT r.doc_id, r.source, q.n_src, q.quota, CAST(r.rk AS BIGINT) AS rk
      FROM r JOIN quota q USING (source)
      WHERE r.rk <= q.quota
      ORDER BY source, rk""")),

    // L10 — BM25 lexical retrieval (Robertson–Spärck Jones / Okapi; the
    // Lucene +1 IDF form so scores stay positive): top-20 documents for a
    // fixed 3-term query, k1 = 1.2, b = 0.75. The retrieval half every
    // RAG/curation pipeline pairs with the embedding index. Determinism
    // discipline: avgdl is SUM(dl)/COUNT (exact integer division in
    // double — AVG's summation order would wobble the last ulp across
    // engines), the per-doc score is the ≤3 per-term weights added in a
    // FIXED literal order via conditional pivots (never a float SUM whose
    // order the engine picks — the l36/g61 lesson), and ranking is on the
    // ROUNDED score with doc_id tiebreak. Scale shape: tokenize is
    // generator-based and shuffle-free; the tf filter on the query terms
    // prunes BEFORE any aggregation, so the expensive state is
    // (matching docs × ≤3 terms), never the corpus vocabulary; df and
    // corpus stats are one-row/broadcast joins.
    E("l43_bm25", (s, d) => {
      val docs = Tables(s, d).documents
      val terms = Seq("spark", "join", "filter")
      import Retrieval.{B, K1}
      val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg((sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
                         count(lit(1)).as("n_docs"))
      val tf = tok.filter(col("token").isin(terms: _*))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
      val w = tf.join(broadcast(df_), "token")
        .join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("idf", log(lit(1.0) +
          (col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5)))
        .withColumn("w", col("idf") * (col("tf") * lit(K1 + 1)) /
          (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl").cast("double") / col("avgdl"))))
      val scored = w.groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms_hit"),
             (terms.map(t => coalesce(max(when(col("token") === t, col("w"))), lit(0.0)))
               .reduce(_ + _)).as("raw"))
        .select(col("doc_id"), round(col("raw"), 6).as("bm25"), col("n_terms_hit"))
      scored.orderBy(col("bm25").desc, col("doc_id")).limit(20)
    }, Some("""
      WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs FROM dl),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
             WHERE token IN ('spark', 'join', 'filter') GROUP BY 1, 2),
      df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      w AS (SELECT tf.doc_id, tf.token,
                   LN(1.0 + (CAST(n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
                   (tf.tf * 2.2) /
                   (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl)) AS w
            FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
      p AS (SELECT doc_id, COUNT(*) AS n_terms_hit,
                     COALESCE(MAX(CASE WHEN token = 'spark' THEN w END), 0.0)
                   + COALESCE(MAX(CASE WHEN token = 'join' THEN w END), 0.0)
                   + COALESCE(MAX(CASE WHEN token = 'filter' THEN w END), 0.0) AS raw
            FROM w GROUP BY 1)
      SELECT doc_id, bm25, n_terms_hit FROM (
        SELECT doc_id, ROUND(raw, 6) AS bm25, n_terms_hit
        FROM p ORDER BY ROUND(raw, 6) DESC, doc_id LIMIT 20) t
      ORDER BY bm25 DESC, doc_id""")),

    // L10b — HYBRID retrieval via Reciprocal Rank Fusion (Cormack et al.
    // 2009, the standard rank-level fusion): the l43 lexical ranking and
    // the l05 embedding-cosine ranking fused as Σ 1/(60 + rank). RRF is
    // the production answer to "BM25 misses paraphrases, embeddings miss
    // exact identifiers" — and it is hash-friendly BY DESIGN: only rank
    // INTEGERS cross the fusion boundary (ranks assigned on rounded
    // component scores with id tiebreaks), so the fused score is a sum of
    // two exactly-representable rationals in a fixed literal order — no
    // float ordering can leak between engines. documents.doc_id and
    // embeddings.vec_id are the fixture's 1:1 document key. Scale shape:
    // each component is its own top-K (the fusion never joins full
    // corpora), K=50 rank frames are driver-size, and the full-outer
    // fusion join is on the document key — broadcast-size at any corpus
    // scale because K bounds it.
    E("l44_hybrid_rrf", (s, d) => {
      val K = 50
      val lexAll = queries("l43_bm25")(s, d) // already top-20 by contract
      val lex = lexAll
        .withColumn("r_lex", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("r_lex"))
      val emb = Tables(s, d).embeddings
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val sem = emb.crossJoin(broadcast(q))
        .withColumn("cos", round(dot("embedding", "qv") /
          (sqrt(dot("embedding", "embedding")) * sqrt(dot("qv", "qv"))), 6))
        .filter(col("vec_id") =!= 0)
        .orderBy(col("cos").desc, col("vec_id")).limit(K)
        .withColumn("r_sem", row_number().over(
          Window.orderBy(col("cos").desc, col("vec_id"))).cast("long"))
        .select(col("vec_id").as("doc_id"), col("r_sem"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(when(col("r_lex").isNotNull, lit(1.0) / (lit(60.0) + col("r_lex"))).otherwise(lit(0.0))
              + when(col("r_sem").isNotNull, lit(1.0) / (lit(60.0) + col("r_sem"))).otherwise(lit(0.0)),
            6).as("rrf"),
          coalesce(col("r_lex"), lit(-1L)).as("r_lex"),
          coalesce(col("r_sem"), lit(-1L)).as("r_sem"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
    }, Some("""
      WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs FROM dl),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
             WHERE token IN ('spark', 'join', 'filter') GROUP BY 1, 2),
      df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      w AS (SELECT tf.doc_id, tf.token,
                   LN(1.0 + (CAST(n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
                   (tf.tf * 2.2) /
                   (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl)) AS w
            FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
      p AS (SELECT doc_id, COUNT(*) AS n_terms_hit,
                     COALESCE(MAX(CASE WHEN token = 'spark' THEN w END), 0.0)
                   + COALESCE(MAX(CASE WHEN token = 'join' THEN w END), 0.0)
                   + COALESCE(MAX(CASE WHEN token = 'filter' THEN w END), 0.0) AS raw
            FROM w GROUP BY 1),
      lex20 AS (SELECT doc_id, ROUND(raw, 6) AS bm25
                FROM p ORDER BY ROUND(raw, 6) DESC, doc_id LIMIT 20),
      lex AS (SELECT doc_id,
                     ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
              FROM lex20),
      qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      cosed AS (SELECT vec_id,
                       ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(64), i -> CAST(embedding[i+1] AS DOUBLE) * CAST(qv[i+1] AS DOUBLE))), (acc, v) -> acc + v) /
                             (SQRT(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(64), i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE))), (acc, v) -> acc + v)) *
                              SQRT(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(64), i -> CAST(qv[i+1] AS DOUBLE) * CAST(qv[i+1] AS DOUBLE))), (acc, v) -> acc + v))), 6) AS cos
                FROM embeddings CROSS JOIN qv WHERE vec_id <> 0),
      sem50 AS (SELECT vec_id, cos FROM cosed ORDER BY cos DESC, vec_id LIMIT 50),
      sem AS (SELECT vec_id AS doc_id,
                     ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r_sem
              FROM sem50),
      fused AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
                       ROUND(COALESCE(1.0 / (60.0 + r_lex), 0.0)
                           + COALESCE(1.0 / (60.0 + r_sem), 0.0), 6) AS rrf,
                       COALESCE(r_lex, -1) AS r_lex, COALESCE(r_sem, -1) AS r_sem
                FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
      SELECT doc_id, rrf, CAST(r_lex AS BIGINT) AS r_lex, CAST(r_sem AS BIGINT) AS r_sem
      FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 20) t
      ORDER BY rrf DESC, doc_id""")),

    // L10e — BATCHED multi-query BM25 (VERDICT r13 #7): l43 ranks for ONE
    // literal query; the deployment shape is a query TABLE pushed through
    // ONE corpus pass — the g53 free-batch-key argument applied to
    // retrieval. query_id rides the group keys: the corpus is tokenized
    // once, the tf aggregation filters on the UNION of all queries' terms
    // (still pruning before any aggregation), per-(doc, term) weights are
    // computed once and fan out to queries via a broadcast (query_id,
    // token, pos) join — so Q queries cost one corpus scan + Q-fold-larger
    // (but still term-filtered) small-side state, not Q corpus scans.
    // Determinism discipline carried over from l43: per-query scores add
    // the ≤3 per-position weights in FIXED position order (conditional
    // pivots on pos, never an engine-ordered float SUM); ranking is
    // per-query on the rounded score with doc_id tiebreak. Query 1 IS
    // l43's query verbatim — RetrievalSpec asserts the singleton-slice
    // rank equality (the batch form degrades to l43 exactly).
    E("l48_bm25_batch", (s, d) => {
      import s.implicits._
      val docs = Tables(s, d).documents
      val qterms = Seq(
        (1L, "spark", 0), (1L, "join", 1), (1L, "filter", 2),
        (2L, "hash", 0), (2L, "merge", 1), (2L, "sort", 2),
        (3L, "stream", 0), (3L, "window", 1), (3L, "batch", 2))
        .toDF("query_id", "token", "pos")
      // QUERY-TABLE-NATIVE since round 15 (VERDICT r14 #2): the dataflow
      // is [[Retrieval.bm25Batch]] — term pruning via a broadcast
      // left-semi join on the distinct term frame (no driver collect, no
      // isin literal list), so the same code path scales in Q; the graded
      // fixture stays the 3×3 literal table, and the hashes are unchanged
      // because bm25Batch's pos-ordered array_sort fold is bit-identical
      // to the oracle's fixed-position conditional pivot.
      Retrieval.bm25Batch(docs, qterms, topK = 20)
        .orderBy("query_id", "rk")
    }, Some("""
      WITH qterms(query_id, token, pos) AS (VALUES
        (1, 'spark', 0), (1, 'join', 1), (1, 'filter', 2),
        (2, 'hash', 0), (2, 'merge', 1), (2, 'sort', 2),
        (3, 'stream', 0), (3, 'window', 1), (3, 'batch', 2)),
      tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs FROM dl),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
             WHERE token IN (SELECT DISTINCT token FROM qterms) GROUP BY 1, 2),
      df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      w AS (SELECT tf.doc_id, tf.token,
                   LN(1.0 + (CAST(n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
                   (tf.tf * 2.2) /
                   (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl)) AS w
            FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
      p AS (SELECT q.query_id, w.doc_id, COUNT(*) AS n_terms_hit,
                     COALESCE(MAX(CASE WHEN q.pos = 0 THEN w.w END), 0.0)
                   + COALESCE(MAX(CASE WHEN q.pos = 1 THEN w.w END), 0.0)
                   + COALESCE(MAX(CASE WHEN q.pos = 2 THEN w.w END), 0.0) AS raw
            FROM w JOIN qterms q USING (token) GROUP BY 1, 2),
      r AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
                   ROUND(raw, 6) AS bm25, n_terms_hit,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY ROUND(raw, 6) DESC, doc_id) AS rk
            FROM p)
      SELECT query_id, doc_id, bm25, n_terms_hit, CAST(rk AS BIGINT) AS rk
      FROM r WHERE rk <= 20 ORDER BY query_id, rk""")),

    // L12b — SEQUENCE PACKING (greedy shard-local bin packing into fixed
    // context windows): the step between a curated corpus and a training
    // batch — documents are packed into C-token windows so GPU context
    // isn't wasted on padding. Semantics chosen for the distributed
    // reality, stated plainly: GLOBAL greedy/FFD packing is inherently
    // sequential (every decision depends on all prior bins), so real
    // pipelines pack WITHIN SHARDS and parallelize across them — shard =
    // doc_id % 8 here, thousands of hash shards at 100 TB, each shard's
    // greedy fold O(its docs). Within a shard, docs pack in doc_id order:
    // close the bin when the next doc would overflow C=512 whitespace
    // tokens; an oversize doc occupies its own (over-full) bin — the
    // truncate/split policy is downstream's. Implementation is the typed
    // API's flatMapSortedGroups (the ONE genuinely sequential fold in the
    // library — a window function cannot express "bin id depends on the
    // running remainder"), with the per-shard iterator sorted by the
    // engine, not collected; the ORACLE mirrors the same fold as a
    // per-shard linear recursive CTE. Output: one row per (shard, bin).
    E("l51_pack_sequences", (s, d) =>
      packGreedy(Tables(s, d).documents, 512L).orderBy("shard", "bin_id"),
    Some("""
      WITH RECURSIVE docs AS (
        SELECT doc_id % 8 AS shard, doc_id,
               COALESCE(len(list_filter(string_split(text, ' '), w -> w <> '')), 0) AS tokens,
               ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        FROM documents),
      rec(shard, rn, bin_id, bin_tokens, tokens) AS (
        SELECT shard, rn, CAST(0 AS BIGINT), tokens, tokens
        FROM docs WHERE rn = 1
        UNION ALL
        SELECT d.shard, d.rn,
               CASE WHEN r.bin_tokens + d.tokens > 512
                    THEN r.bin_id + 1 ELSE r.bin_id END,
               CASE WHEN r.bin_tokens + d.tokens > 512
                    THEN d.tokens ELSE r.bin_tokens + d.tokens END,
               d.tokens
        FROM rec r JOIN docs d ON d.shard = r.shard AND d.rn = r.rn + 1)
      SELECT shard, bin_id, COUNT(*) AS n_docs,
             CAST(SUM(tokens) AS BIGINT) AS bin_tokens
      FROM rec GROUP BY 1, 2
      ORDER BY shard, bin_id""")),

    // L10f — BATCHED hybrid retrieval (the full VERDICT r13 #7 shape:
    // the query table "fused per-query by l44's RRF"): l48's batched
    // lexical ranks full-outer-joined per (query_id, doc_id) with a
    // BATCHED semantic side — all three query vectors broadcast into ONE
    // corpus scan (3 rows × the embeddings table, the same free-batch-key
    // argument), per-query cosine top-50 via a query_id-partitioned rank
    // window — then Σ 1/(60+rank) per query with l44's determinism
    // argument intact: only rank INTEGERS cross the fusion boundary, so
    // batching adds query_id to every key and nothing else. Scale shape:
    // Q queries cost one corpus scan per modality (not Q), the fused
    // frames stay K-bounded per query, and the final per-query top-20
    // prunes through the rank window.
    E("l50_rrf_batch", (s, d) => {
      val lex = queries("l48_bm25_batch")(s, d)
        .select(col("query_id"), col("doc_id"), col("rk").as("r_lex"))
      val emb = Tables(s, d).embeddings
      val qv = emb.filter(col("vec_id") < 3)
        .select((col("vec_id") + 1).as("query_id"),
                col("vec_id").as("qvec_id"), col("embedding").as("qv"))
      val wSem = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
      val sem = emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("qvec_id"))
        .withColumn("cos", round(dot("embedding", "qv") /
          (sqrt(dot("embedding", "embedding")) * sqrt(dot("qv", "qv"))), 6))
        .withColumn("r_sem", row_number().over(wSem).cast("long"))
        .filter(col("r_sem") <= 50)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("r_sem"))
      val wFuse = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
      lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"),
          round(when(col("r_lex").isNotNull, lit(1.0) / (lit(60.0) + col("r_lex"))).otherwise(lit(0.0))
              + when(col("r_sem").isNotNull, lit(1.0) / (lit(60.0) + col("r_sem"))).otherwise(lit(0.0)),
            6).as("rrf"),
          coalesce(col("r_lex"), lit(-1L)).as("r_lex"),
          coalesce(col("r_sem"), lit(-1L)).as("r_sem"))
        .withColumn("rn", row_number().over(wFuse))
        .filter(col("rn") <= 20).drop("rn")
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    }, Some(s"""
      WITH qterms(query_id, token, pos) AS (VALUES
        (1, 'spark', 0), (1, 'join', 1), (1, 'filter', 2),
        (2, 'hash', 0), (2, 'merge', 1), (2, 'sort', 2),
        (3, 'stream', 0), (3, 'window', 1), (3, 'batch', 2)),
      tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs FROM dl),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
             WHERE token IN (SELECT DISTINCT token FROM qterms) GROUP BY 1, 2),
      df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      w AS (SELECT tf.doc_id, tf.token,
                   LN(1.0 + (CAST(n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
                   (tf.tf * 2.2) /
                   (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl)) AS w
            FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
      p AS (SELECT q.query_id, w.doc_id, COUNT(*) AS n_terms_hit,
                     COALESCE(MAX(CASE WHEN q.pos = 0 THEN w.w END), 0.0)
                   + COALESCE(MAX(CASE WHEN q.pos = 1 THEN w.w END), 0.0)
                   + COALESCE(MAX(CASE WHEN q.pos = 2 THEN w.w END), 0.0) AS raw
            FROM w JOIN qterms q USING (token) GROUP BY 1, 2),
      lr AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY ROUND(raw, 6) DESC, doc_id) AS r_lex
             FROM p),
      lex AS (SELECT query_id, doc_id, r_lex FROM lr WHERE r_lex <= 20),
      qv AS (SELECT CAST(vec_id + 1 AS BIGINT) AS query_id, vec_id AS qvec_id,
                    embedding AS qvec
             FROM embeddings WHERE vec_id < 3),
      cosed AS (SELECT q.query_id, e.vec_id,
                       ROUND(${dotSql("e.embedding", "q.qvec")} /
                             (SQRT(${dotSql("e.embedding", "e.embedding")}) *
                              SQRT(${dotSql("q.qvec", "q.qvec")})), 6) AS cos
                FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> q.qvec_id),
      sr AS (SELECT query_id, vec_id AS doc_id, cos,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, vec_id) AS r_sem
             FROM cosed),
      sem AS (SELECT query_id, doc_id, r_sem FROM sr WHERE r_sem <= 50),
      fused AS (SELECT COALESCE(lex.query_id, sem.query_id) AS query_id,
                       COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
                       ROUND(COALESCE(1.0 / (60.0 + r_lex), 0.0)
                           + COALESCE(1.0 / (60.0 + r_sem), 0.0), 6) AS rrf,
                       COALESCE(r_lex, -1) AS r_lex, COALESCE(r_sem, -1) AS r_sem
                FROM lex FULL OUTER JOIN sem
                  ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id),
      topk AS (SELECT query_id, doc_id, rrf,
                      CAST(r_lex AS BIGINT) AS r_lex, CAST(r_sem AS BIGINT) AS r_sem,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rrf DESC, doc_id) AS rn
               FROM fused)
      SELECT query_id, doc_id, rrf, r_lex, r_sem
      FROM topk WHERE rn <= 20
      ORDER BY query_id, rrf DESC, doc_id""")),

    // L7c — BPE tokenizer APPLY (VERDICT r13 #8): real subword token
    // accounting — l10's regex classes approximate token counts; this
    // applies [[Bpe.merges]] (the Sennrich 2016 apply step) per word and
    // counts actual subword tokens per document. The merge chain compiles
    // to |merges| nested scalar `replace` calls over a bracketed symbol
    // encoding (see [[Bpe]] — parens delimit symbols, so replace IS the
    // per-rule fuse, identically on both engines), all inside whole-stage
    // codegen: one corpus scan, a per-word expression chain, one per-doc
    // partial aggregation. No UDF, no extra shuffle, merge table as
    // broadcast-degenerate literals. BpeSpec cross-checks the dataflow
    // against the driver-side reference implementation per word.
    E("l49_bpe_tokenize", (s, d) => {
      val docs = Tables(s, d).documents
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .withColumn("m", expr(Bpe.mergeChain(Bpe.bracketSpark("word"))))
        .withColumn("n_tok", expr(Bpe.tokenCount("m")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
             sum(length(col("word"))).cast("long").as("n_chars"),
             sum(col("n_tok")).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH w AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents),
      t AS (SELECT doc_id, word,
                   ${Bpe.tokenCount(Bpe.mergeChain(Bpe.bracketDuck("word")))} AS n_tok
            FROM w WHERE word <> '')
      SELECT doc_id, COUNT(*) AS n_words,
             CAST(SUM(length(word)) AS BIGINT) AS n_chars,
             CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
      FROM t GROUP BY 1 ORDER BY doc_id""")),

    // L11b — TEST-SET DECONTAMINATION (Brown et al. 2020 App. C; the
    // operator every training-data pipeline runs before a benchmark is
    // trustworthy): per held-out eval document, how many corpus documents
    // share at least one exact 13-token window with it. Eval set = the
    // doc_id % 50 slice; output is one row PER EVAL DOC including clean
    // zeros (the report shape an auditor reads — and it keeps the graded
    // result non-empty whatever the fixture's collision rate). Grams are
    // array_distinct'd per document before the join so a repeated window
    // inside one doc can't multiply pairs. Scale shape: at 100 TB the
    // eval side is the small one by definition — its distinct grams
    // BROADCAST and the corpus-side explode feeds a broadcast semi-join,
    // so the corpus is scanned once with no gram shuffle; here both sides
    // explode into an inverted-index equi-join on the gram (the same
    // shape, shuffle-partitioned, which is what AQE picks when the eval
    // side outgrows the broadcast threshold).
    E("l45_decontaminate", (s, d) => {
      val docs = Tables(s, d).documents
      val n = 13
      def grams(df: DataFrame, idAs: String) = df
        .select(col("doc_id").as(idAs), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= n)
        .select(col(idAs), explode(array_distinct(expr(
          s"transform(sequence(0, size(ws) - $n), i -> array_join(slice(ws, i + 1, $n), ' '))")))
          .as("gram"))
      val evalDocs = docs.filter(col("doc_id") % 50 === 0)
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
      val hits = grams(evalDocs, "eval_id")
        .join(grams(corpus, "corpus_id"), "gram")
      val agg = hits.groupBy("eval_id")
        .agg(countDistinct(col("corpus_id")).as("n_contam_docs"),
             countDistinct(col("gram")).as("n_shared_grams"),
             min(col("corpus_id")).as("sample_contam_doc"))
      evalDocs.select(col("doc_id").as("eval_id"))
        .join(agg, Seq("eval_id"), "left")
        .select(col("eval_id"),
          coalesce(col("n_contam_docs"), lit(0L)).as("n_contam_docs"),
          coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
          coalesce(col("sample_contam_doc"), lit(-1L)).as("sample_contam_doc"),
          (coalesce(col("n_contam_docs"), lit(0L)) > 0).as("contaminated"))
        .orderBy("eval_id")
    }, Some("""
      WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      g AS (SELECT doc_id,
                   UNNEST(list_distinct(list_transform(range(len(ws) - 12),
                     i -> array_to_string(list_slice(ws, i + 1, i + 13), ' ')))) AS gram
            FROM ws WHERE len(ws) >= 13),
      e AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 50 = 0),
      c AS (SELECT doc_id AS corpus_id, gram FROM g WHERE doc_id % 50 <> 0),
      h AS (SELECT eval_id, corpus_id, gram FROM e JOIN c USING (gram)),
      a AS (SELECT eval_id, COUNT(DISTINCT corpus_id) AS n_contam_docs,
                   COUNT(DISTINCT gram) AS n_shared_grams,
                   MIN(corpus_id) AS sample_contam_doc
            FROM h GROUP BY 1)
      SELECT d.doc_id AS eval_id,
             COALESCE(a.n_contam_docs, CAST(0 AS BIGINT)) AS n_contam_docs,
             COALESCE(a.n_shared_grams, CAST(0 AS BIGINT)) AS n_shared_grams,
             COALESCE(a.sample_contam_doc, CAST(-1 AS BIGINT)) AS sample_contam_doc,
             COALESCE(a.n_contam_docs, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN a ON a.eval_id = d.doc_id
      WHERE d.doc_id % 50 = 0
      ORDER BY eval_id""")),

    // L11c — FUZZY decontamination: l45 catches verbatim 13-token reuse;
    // paraphrase-level leakage (the Llama-class second screen) needs the
    // resemblance sketch. Reuses the AUDITED l02 MinHash pipeline,
    // LshIndex.selfPairs (deterministic poly_hash family, banded bucket
    // join, exact Jaccard rerank on bucket-colliding candidates only —
    // never all-pairs), keeps the cross-slice pairs (eval × corpus), and
    // reports per eval doc: fuzzy-match count, the strongest match's
    // Jaccard and its doc (argmax via a (jaccard DESC, corpus_id) window
    // so the witness is deterministic), zeros included. Deployment shape
    // at 100 TB: the eval slice's sketches are the SMALL side — band them
    // once, broadcast the bucket table, and the corpus scan joins against
    // it; the graded form runs the same banding symmetric because the
    // slices share one table here.
    E("l46_decontaminate_fuzzy", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val pairs = LshIndex.selfPairs(Tables(s, d).documents, bandRows = 1)
        .orderBy("a", "b")
      def isEval(c: Column) = c % 50 === 0
      val cross = pairs.filter(isEval(col("a")) =!= isEval(col("b")))
        .select(when(isEval(col("a")), col("a")).otherwise(col("b")).as("eval_id"),
                when(isEval(col("a")), col("b")).otherwise(col("a")).as("corpus_id"),
                round(lit(1.0) - col("jaccard_dist"), 6).as("jaccard"))
      val w = Window.partitionBy("eval_id").orderBy(col("jaccard").desc, col("corpus_id"))
      val agg = cross.withColumn("rn", row_number().over(w))
        .groupBy("eval_id")
        .agg(count(lit(1)).as("n_fuzzy"),
             max(when(col("rn") === 1, col("jaccard"))).as("best_jaccard"),
             max(when(col("rn") === 1, col("corpus_id"))).as("best_corpus_doc"))
      Tables(s, d).documents.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("eval_id"))
        .join(agg, Seq("eval_id"), "left")
        .select(col("eval_id"),
          coalesce(col("n_fuzzy"), lit(0L)).as("n_fuzzy"),
          coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
          coalesce(col("best_corpus_doc"), lit(-1L)).as("best_corpus_doc"))
        .orderBy("eval_id")
    }, Some(s"""
      WITH pairs AS (SELECT * FROM (${nearDupPairsSql(1)}) p),
      crossed AS (
        SELECT CASE WHEN a % 50 = 0 THEN a ELSE b END AS eval_id,
               CASE WHEN a % 50 = 0 THEN b ELSE a END AS corpus_id,
               ROUND(1.0 - jaccard_dist, 6) AS jaccard
        FROM pairs WHERE (a % 50 = 0) <> (b % 50 = 0)),
      rn AS (SELECT eval_id, corpus_id, jaccard,
                    ROW_NUMBER() OVER (PARTITION BY eval_id
                                       ORDER BY jaccard DESC, corpus_id) AS rn
             FROM crossed),
      agg AS (SELECT eval_id, COUNT(*) AS n_fuzzy,
                     MAX(CASE WHEN rn = 1 THEN jaccard END) AS best_jaccard,
                     MAX(CASE WHEN rn = 1 THEN corpus_id END) AS best_corpus_doc
              FROM rn GROUP BY 1)
      SELECT d.doc_id AS eval_id,
             COALESCE(a.n_fuzzy, CAST(0 AS BIGINT)) AS n_fuzzy,
             COALESCE(a.best_jaccard, 0.0) AS best_jaccard,
             COALESCE(a.best_corpus_doc, CAST(-1 AS BIGINT)) AS best_corpus_doc
      FROM documents d LEFT JOIN agg a ON a.eval_id = d.doc_id
      WHERE d.doc_id % 50 = 0
      ORDER BY eval_id""")),

    // L11e — SEMANTIC decontamination, the trio's third modality (exact
    // 13-gram → l45, lexical-fuzzy MinHash → l46, embedding-cosine →
    // here): per eval document, its nearest corpus NEIGHBOR by cosine
    // (the native codegen'd cosine_sim Expression) with a deterministic
    // witness and the count of corpus docs above the near-identical 0.99
    // threshold. The graded form is the l05 brute-force shape — the eval
    // slice BROADCASTS against one corpus scan, which is already the
    // 100 TB deployment plan when the eval set is a benchmark (small by
    // definition); a recurring whole-corpus screen swaps the scan for
    // IvfIndex probes per eval vector without touching this report
    // shape. All comparisons on round-6 scores (the l05 parity
    // discipline).
    E("l47_decontaminate_semantic", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = Tables(s, d).embeddings
      val ev = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("eval_id"), col("embedding").as("evv"))
      val corp = emb.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id").as("corpus_id"), col("embedding").as("cv"))
      val scored = corp.crossJoin(broadcast(ev))
        .withColumn("cos", round(expr("cosine_sim(cv, evv)"), 6))
      val w = Window.partitionBy("eval_id").orderBy(col("cos").desc, col("corpus_id"))
      scored.withColumn("rn", row_number().over(w))
        .groupBy("eval_id")
        .agg(sum(when(col("cos") >= 0.99, 1L).otherwise(0L)).as("n_near_identical"),
             max(when(col("rn") === 1, col("cos"))).as("best_cos"),
             max(when(col("rn") === 1, col("corpus_id"))).as("best_corpus_doc"))
        .orderBy("eval_id")
    }, Some(s"""
      WITH ev AS (SELECT vec_id AS eval_id, embedding AS evv FROM embeddings WHERE vec_id % 50 = 0),
      corp AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings WHERE vec_id % 50 <> 0),
      scored AS (
        SELECT eval_id, corpus_id,
               ROUND(${dotSql("cv", "evv")} /
                     (SQRT(${dotSql("cv", "cv")}) * SQRT(${dotSql("evv", "evv")})), 6) AS cos
        FROM corp CROSS JOIN ev),
      rn AS (SELECT eval_id, corpus_id, cos,
                    ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY cos DESC, corpus_id) AS rn
             FROM scored)
      SELECT eval_id,
             CAST(SUM(CASE WHEN cos >= 0.99 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_identical,
             MAX(CASE WHEN rn = 1 THEN cos END) AS best_cos,
             MAX(CASE WHEN rn = 1 THEN corpus_id END) AS best_corpus_doc
      FROM rn GROUP BY 1
      ORDER BY eval_id""")),

    // L11f — semantic decontamination via IVF PROBES: the recurring-screen
    // scale path l47 documents, now graded. l47's brute force is right
    // when the eval set is a fixed benchmark (broadcast × one corpus
    // scan); a RECURRING whole-corpus screen instead probes the standing
    // [[IvfIndex]]: build the index over the corpus once, batch-probe all
    // eval vectors ([[IvfIndex.probe]], one dataflow — the k×dim centroid
    // table broadcasts), and score each eval doc ONLY against the corpus
    // vectors in its nprobe=4 of k=16 buckets — on a persisted index that
    // candidate join is partition pruning, i.e. ~1/4 of the corpus read
    // instead of all of it, and k grows with the corpus (k ∝ √N keeps
    // probed work ∝ N/√N per eval vector). The report shape is l47's
    // exactly (nearest surfaced neighbor + near-identical count), with
    // counts OVER THE PROBED SET — the screen reports what the index
    // surfaces, and the column is NAMED for it (ADVICE r13:
    // `n_near_identical_probed`, not l47's corpus-wide
    // `n_near_identical` — a near-identical-but-not-bit-identical
    // contaminant in an unprobed bucket is invisible here, so the two
    // counts are different measurements and must not share a name);
    // DecontaminateSpec proves an exact corpus copy of an eval
    // vector is ALWAYS surfaced (identical vectors rank the same nearest
    // centroid, and the probe set is monotone in nprobe ≥ 1) and pins
    // recall vs the brute-force twin. Evals whose probed buckets hold no
    // corpus vector report a clean zero (LEFT join back to the eval
    // slice), mirrored in the oracle. ORACLE: the quantizer is the same
    // deterministic relational Lloyd's as l05_ann_ivf/l26/l32, so
    // centroids, probe ranking, candidate membership, and cosines are all
    // DuckDB-mirrored; same documented argmin near-tie hazard class as
    // l05_ann_ivf (green since round 5), doubled here by the per-eval
    // probe boundary at rn <= 4.
    E("l47b_decontaminate_ivf", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = Tables(s, d).embeddings
      val ev = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("eval_id"), col("embedding").as("evv"))
      val corp = emb.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id"), col("embedding"))
      // empty corpus → no index to probe; every eval is a clean zero (the
      // oracle's LEFT join yields the same rows — and the all-empty sweep
      // degrades to zero rows, not a dead build)
      if (corp.head(1).isEmpty)
        ev.select(col("eval_id"), lit(0L).as("n_near_identical_probed"),
                  lit(null).cast("double").as("best_cos"),
                  lit(null).cast("bigint").as("best_corpus_doc"))
          .orderBy("eval_id")
      else l47bIvfScreen(ev, corp)
    }, Some(s"""
      WITH corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0),
      ${lloydCtes("corp", 16)},
      ev AS (SELECT vec_id AS eval_id, embedding AS evv FROM embeddings WHERE vec_id % 50 = 0),
      ep AS (SELECT eval_id, i AS pos, CAST(evv[i + 1] AS DOUBLE) AS v
             FROM ev, UNNEST(range(64)) AS t(i)),
      pd AS (SELECT e.eval_id, c.cid, SUM((e.v - c.c) * (e.v - c.c)) AS d2
             FROM ep e JOIN c1 c USING (pos) GROUP BY 1, 2),
      probes AS (SELECT eval_id, cid FROM (
                   SELECT eval_id, cid,
                          ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY d2, cid) AS rn
                   FROM pd)
                 WHERE rn <= 4),
      cand AS (SELECT p.eval_id, a.vec_id AS corpus_id
               FROM probes p JOIN a2 a ON a.cid = p.cid),
      scored AS (SELECT cd.eval_id, cd.corpus_id,
                        ROUND(${dotSql("co.embedding", "e.evv")} /
                              (SQRT(${dotSql("co.embedding", "co.embedding")}) *
                               SQRT(${dotSql("e.evv", "e.evv")})), 6) AS cos
                 FROM cand cd
                 JOIN corp co ON co.vec_id = cd.corpus_id
                 JOIN ev e ON e.eval_id = cd.eval_id),
      rnk AS (SELECT eval_id, corpus_id, cos,
                     ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY cos DESC, corpus_id) AS rn
              FROM scored),
      agg AS (SELECT eval_id,
                     CAST(SUM(CASE WHEN cos >= 0.99 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_identical_probed,
                     MAX(CASE WHEN rn = 1 THEN cos END) AS best_cos,
                     MAX(CASE WHEN rn = 1 THEN corpus_id END) AS best_corpus_doc
              FROM rnk GROUP BY 1)
      SELECT e.eval_id,
             COALESCE(a.n_near_identical_probed, CAST(0 AS BIGINT)) AS n_near_identical_probed,
             a.best_cos, a.best_corpus_doc
      FROM ev e LEFT JOIN agg a USING (eval_id)
      ORDER BY e.eval_id""")),

    // L11e — DECONTAMINATION AGAINST AN ERASED INDEX (VERDICT r14 #1: the
    // erasure arc's last standing artifact — g68 closed labels, g69 the
    // merge map, t17b the dossier; the vector store had no deletion path).
    // l47b's IVF screen re-run after [[IvfIndex.remove]] deletes an
    // erasure batch (corpus ids ≡ 0 mod 37) from the standing index:
    // centroids KEPT (deletion doesn't move the tessellation — survivors'
    // argmin assignments are unchanged), probes identical, candidates now
    // drawn from the erased assignment set only. ORACLE: l47b's CTEs with
    // centroids still fit on the FULL corpus and the candidate join
    // filtered to survivors — so the hash-match IS the
    // remove∘probe ≡ probe-over-survivors proof at the graded sf
    // (IvfIndexSpec proves the persisted twin removeFrom byte-level:
    // untouched buckets identical, emptied buckets dropped, idempotent
    // replay). Scale: the erasure itself is bucket-local writes on a
    // persisted index (see removeFrom); the probe path is untouched.
    E("l47c_decontaminate_erased", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = Tables(s, d).embeddings
      val ev = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("eval_id"), col("embedding").as("evv"))
      val corp = emb.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id"), col("embedding"))
      val erase = corp.filter(col("vec_id") % 37 === 0).select(col("vec_id"))
      if (corp.head(1).isEmpty)
        ev.select(col("eval_id"), lit(0L).as("n_near_identical_probed"),
                  lit(null).cast("double").as("best_cos"),
                  lit(null).cast("bigint").as("best_corpus_doc"))
          .orderBy("eval_id")
      else l47bIvfScreen(ev, corp, erased = Some(erase))
    }, Some(s"""
      WITH corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0),
      ${lloydCtes("corp", 16)},
      ev AS (SELECT vec_id AS eval_id, embedding AS evv FROM embeddings WHERE vec_id % 50 = 0),
      ep AS (SELECT eval_id, i AS pos, CAST(evv[i + 1] AS DOUBLE) AS v
             FROM ev, UNNEST(range(64)) AS t(i)),
      pd AS (SELECT e.eval_id, c.cid, SUM((e.v - c.c) * (e.v - c.c)) AS d2
             FROM ep e JOIN c1 c USING (pos) GROUP BY 1, 2),
      probes AS (SELECT eval_id, cid FROM (
                   SELECT eval_id, cid,
                          ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY d2, cid) AS rn
                   FROM pd)
                 WHERE rn <= 4),
      cand AS (SELECT p.eval_id, a.vec_id AS corpus_id
               FROM probes p JOIN a2 a ON a.cid = p.cid
               WHERE a.vec_id % 37 <> 0),
      scored AS (SELECT cd.eval_id, cd.corpus_id,
                        ROUND(${dotSql("co.embedding", "e.evv")} /
                              (SQRT(${dotSql("co.embedding", "co.embedding")}) *
                               SQRT(${dotSql("e.evv", "e.evv")})), 6) AS cos
                 FROM cand cd
                 JOIN corp co ON co.vec_id = cd.corpus_id
                 JOIN ev e ON e.eval_id = cd.eval_id),
      rnk AS (SELECT eval_id, corpus_id, cos,
                     ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY cos DESC, corpus_id) AS rn
              FROM scored),
      agg AS (SELECT eval_id,
                     CAST(SUM(CASE WHEN cos >= 0.99 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_identical_probed,
                     MAX(CASE WHEN rn = 1 THEN cos END) AS best_cos,
                     MAX(CASE WHEN rn = 1 THEN corpus_id END) AS best_corpus_doc
              FROM rnk GROUP BY 1)
      SELECT e.eval_id,
             COALESCE(a.n_near_identical_probed, CAST(0 AS BIGINT)) AS n_near_identical_probed,
             a.best_cos, a.best_corpus_doc
      FROM ev e LEFT JOIN agg a USING (eval_id)
      ORDER BY e.eval_id""")),

    // L7d — BPE LEARN + APPLY (VERDICT r14 #6 — l49 applies a COMPILED-IN
    // merge table; the step a real pipeline runs first is the learn:
    // Sennrich et al. 2016 `learn_bpe`). [[Bpe.learn]] trains 12 merges
    // from THIS corpus — per round one pair-explode + weighted groupBy
    // over the DISTINCT-WORD table (vocabulary ≪ corpus: the only learn
    // shuffle) and a 1-row deterministic pull (count desc, a asc, b asc)
    // — then the learned table drives the same codegen'd scalar-replace
    // apply chain as l49 (functions.replace on runtime literals, one
    // corpus scan, per-doc partial agg). ORACLE: the learn loop is
    // data-dependent, so it is mirrored as UNROLLED CTEs (the g10
    // convention): each round's pick is a 1-row CTE consumed as a scalar
    // by the next round's fuse and by the apply chain — DuckDB learns the
    // SAME table from the same corpus, so the hash-match proves learn AND
    // apply end to end. BpeSpec cross-checks both against driver-side
    // Sennrich references (learnRef/applyRef).
    E("l49b_bpe_learned", (s, d) => {
      val docs = Tables(s, d).documents
      val words = docs
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
      val learned = Bpe.learn(words, nMerges = 12)
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .withColumn("m", Bpe.applyLearned(col("word"), learned))
        .withColumn("n_tok", Bpe.tokenCountCol(col("m")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
             sum(length(col("word"))).cast("long").as("n_chars"),
             sum(col("n_tok")).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH wsrc AS (SELECT doc_id, word FROM (
               SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents)
             WHERE word <> ''),
      ${Bpe.learnCtes("wsrc", 12)},
      t AS (SELECT doc_id, word,
                   ${Bpe.tokenCount(Bpe.applyLearnedDuck("word", 12))} AS n_tok
            FROM wsrc CROSS JOIN bmrow)
      SELECT doc_id, COUNT(*) AS n_words,
             CAST(SUM(length(word)) AS BIGINT) AS n_chars,
             CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
      FROM t GROUP BY 1 ORDER BY doc_id""")),

    // L7e — BATCHED BPE learn (VERDICT r15 #5: l49b's learn pays one
    // Spark round PER MERGE — a real 32k-merge table would take hours of
    // driver round-trips). [[Bpe.learnBatched]] fuses a prefix-disjoint,
    // overtake-guarded BATCH of merges per round and is PROVABLY equal
    // to the sequential Sennrich learner (the guard's bound is derived
    // in its scaladoc; BpeSpec pins equality on the corpus, an
    // adversarial created-pair fixture, and randomized vocabularies) —
    // which is why this oracle is the SEQUENTIAL unrolled learnCtes:
    // grading batched-Spark against sequential-DuckDB makes the
    // equality claim itself the thing the hash pins. 16 merges at
    // maxBatch=8 (vs l49b's 12 sequential) so the fused table genuinely
    // exercises multi-merge rounds at every sf.
    E("l49c_bpe_batched", (s, d) => {
      val docs = Tables(s, d).documents
      val words = docs
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
      val learned = Bpe.learnBatched(words, nMerges = 16, maxBatch = 8)
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .withColumn("m", Bpe.applyLearned(col("word"), learned))
        .withColumn("n_tok", Bpe.tokenCountCol(col("m")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
             sum(col("n_tok")).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH wsrc AS (SELECT doc_id, word FROM (
               SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents)
             WHERE word <> ''),
      ${Bpe.learnCtes("wsrc", 16)},
      t AS (SELECT doc_id, word,
                   ${Bpe.tokenCount(Bpe.applyLearnedDuck("word", 16))} AS n_tok
            FROM wsrc CROSS JOIN bmrow)
      SELECT doc_id, COUNT(*) AS n_words,
             CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
      FROM t GROUP BY 1 ORDER BY doc_id""")),

    // L2f — INCREMENTAL dedup against the STANDING LSH index (round 15 —
    // the dedup family's maintained artifact, completing the arc IvfIndex
    // walks for vectors: l02/l46 recompute every signature per run; a
    // 100 TB ingest pipeline sketches ONLY the arriving batch and joins
    // its band buckets against the persisted corpus bucket table). The
    // batch (doc_id % 25 = 0) probes the index built over the rest:
    // candidates from the band equi-join (batch side broadcasts — the
    // index is scanned, never shuffled), exact-Jaccard rerank re-reads
    // the corpus for CANDIDATE docs only (left-semi pruning — rerank ∝
    // collisions, not corpus). Sketch lanes, trigram tokenization,
    // threshold, and rounding are l02's VERBATIM (LshIndex.probe and
    // LshIndex.selfPairs share them), so the ORACLE is the l02 CTE
    // machinery with a cross-slice candidate condition. LshIndexSpec
    // proves the persisted layout: probe-from-disk ≡ in-memory, append ≡
    // rebuild-over-union, removeFrom's byte-level shard trio, and erased
    // docs never re-surface as candidates.
    E("l52_dedup_incremental", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val docs = Tables(s, d).documents
      val corpus = docs.filter(col("doc_id") % 25 =!= 0)
      // the arriving batch: a fresh slice PLUS a re-crawl of ~1/41 of the
      // indexed corpus under new ids — the duplication an ingest dedup
      // exists to catch (the l01b planted-dup argument, applied to the
      // standing-index path: every re-crawl must surface as a
      // jaccard_dist=0 hit against its original)
      val batch = docs.filter(col("doc_id") % 25 === 0)
        .unionByName(corpus.filter(col("doc_id") % 41 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000000L)))
      LshIndex.build(corpus).probe(batch, corpus)
        .orderBy("batch_id", "corpus_id")
    }, Some("""
      WITH cdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 <> 0),
      bdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
                UNION ALL
                SELECT doc_id + 1000000000, text FROM documents
                WHERE doc_id % 25 <> 0 AND doc_id % 41 = 0),
      adocs AS (SELECT doc_id, text, 1 AS is_batch FROM bdocs
                UNION ALL SELECT doc_id, text, 0 FROM cdocs),
      toks AS (SELECT doc_id, is_batch, string_split(text, ' ') AS ws FROM adocs
               WHERE len(string_split(text, ' ')) >= 3),
      tg AS (SELECT DISTINCT doc_id, is_batch, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS g
             FROM toks, UNNEST(range(len(ws) - 2)) AS t(i)),
      sketch AS (SELECT doc_id, is_batch, """ + sketchSql + """
                 FROM tg GROUP BY doc_id, is_batch),
      bkt AS (""" + (0 until minhashMults.size).map(b =>
        s"SELECT doc_id, is_batch, $b AS h, mh$b AS mh_r0 FROM sketch").mkString(" UNION ALL ") + """),
      cand AS (SELECT DISTINCT bb.doc_id AS batch_id, bc.doc_id AS corpus_id
               FROM bkt bb JOIN bkt bc ON bb.h = bc.h AND bb.mh_r0 = bc.mh_r0
               WHERE bb.is_batch = 1 AND bc.is_batch = 0),
      sz AS (SELECT doc_id, is_batch, COUNT(*) AS n FROM tg GROUP BY 1, 2),
      inter AS (SELECT c.batch_id, c.corpus_id, COUNT(*) AS i
                FROM cand c JOIN tg ta ON ta.doc_id = c.batch_id AND ta.is_batch = 1
                            JOIN tg tb ON tb.doc_id = c.corpus_id AND tb.is_batch = 0
                                      AND tb.g = ta.g
                GROUP BY 1, 2)
      SELECT i.batch_id, i.corpus_id,
             ROUND(1.0 - CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) AS jaccard_dist
      FROM inter i JOIN sz sa ON sa.doc_id = i.batch_id AND sa.is_batch = 1
                   JOIN sz sb ON sb.doc_id = i.corpus_id AND sb.is_batch = 0
      WHERE ROUND(1.0 - CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) <= 0.8
      ORDER BY batch_id, corpus_id""")),

    // L5f — PRODUCT-QUANTIZED ANN (Jégou 2011; round 15): the compression
    // half of the canonical billion-vector stack — IVF (l05_ann_ivf)
    // prunes WHICH vectors to read, PQ shrinks WHAT is read: each 64-dim
    // float vector becomes 8 one-byte codes (32× smaller), quantized per
    // 8-dim subspace against a 16-entry codebook fit by the SAME
    // deterministic two-round Lloyd as the IVF quantizer (one dataflow
    // for all 8 subspaces — lloydModel's explode with `sub` added to
    // every key). The query never reads a float vector: one m×k = 128
    // double distance table (broadcast), then per vector the FIXED-ORDER
    // sum of its 8 table lookups (conditional pivot — the l43/l48
    // discipline; see Pq.adc for the codebook-noise margin argument).
    // Top-20 by (rounded ADC distance, vec_id). Composed with IvfIndex
    // this is IVF-PQ; the composition rides the existing partition
    // pruning unchanged. PqSpec pins codes completeness, recall against
    // the exact top-k, and the spec-level driver recomputation.
    E("l53_pq_adc", (s, d) => {
      val emb = Tables(s, d).embeddings
      val corp = emb.filter(col("vec_id") =!= 0).select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") === 0).select(col("vec_id"), col("embedding"))
      val (cb, codes) = Pq.model(corp, m = 8, k = 16)
      // the PACKED serving path (one row per vector, driver-compiled
      // lookup chain — Pq.adcPacked's scaladoc; values bit-identical to
      // the join-form Pq.adc, PqSpec pins both against the driver
      // recomputation)
      Pq.adcPacked(cb.transform(graft.graph.Materialize.apply),
          Pq.pack(codes, m = 8), q, m = 8)
        .orderBy(col("pq_d2"), col("vec_id"))
        .limit(20)
        .orderBy(col("pq_d2"), col("vec_id"))
    }, Some(s"""
      WITH corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
      qv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
      ${Pq.pqCtes("corp", "qv", m = 8, k = 16)}
      SELECT vec_id, pq_d2 FROM pq_adc
      ORDER BY pq_d2, vec_id LIMIT 20""")),

    // L5g — IVF-PQ (round 15): the two halves composed into the standard
    // billion-vector serving stack — the IVF coarse quantizer prunes
    // WHICH vectors score (nprobe=4 of k=16 buckets → ~1/4 of the corpus
    // read, partition pruning on a persisted index), PQ's packed codes
    // shrink WHAT is read per scored vector (29×, SCALE.md round 15):
    // per query the candidate read is (nprobe/k)·(1/29) of the raw
    // corpus. Both quantizers are the SAME deterministic two-round Lloyd
    // (IVF on the full vector, PQ per subspace — the classic IVF-Flat +
    // PQ-on-raw-vectors variant; residual encoding is a quality knob,
    // not a dataflow change); the composition is ONE left-semi join
    // between the probed buckets' membership and the packed code table,
    // then l53's ADC scan over the survivors. ORACLE: l05_ann_ivf's
    // lloydCtes (probe + candidates) ∘ l53's pqCtes (fit + encode + ADC)
    // — composed from the components' oracles verbatim, the house
    // single-sourcing rule. Same argmin near-tie hazard class as both
    // parents (green since rounds 5/15).
    E("l54_ivfpq_ann", (s, d) => {
      val emb = Tables(s, d).embeddings
      val corp = emb.filter(col("vec_id") =!= 0).select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") === 0).select(col("vec_id"), col("embedding"))
      if (corp.head(1).isEmpty || q.head(1).isEmpty)
        // empty slice: schema-only result (the l47b empty-corpus guard —
        // an empty index has no centroids to probe)
        s.range(0).select(col("id").as("vec_id"),
          lit(null).cast("double").as("pq_d2"))
      else {
        val idx = IvfIndex.build(corp, k = 16)
        val probed = idx.probe(q, nprobe = 4).select(col("cluster"))
        val cand = idx.assigned
          .join(broadcast(probed), Seq("cluster"), "left_semi")
          .select(col("vec_id"))
        val (cb, codes) = Pq.model(corp, m = 8, k = 16)
        Pq.adcPacked(cb.transform(graft.graph.Materialize.apply),
            Pq.pack(codes, m = 8).join(cand, Seq("vec_id"), "left_semi"),
            q, m = 8)
          .orderBy(col("pq_d2"), col("vec_id"))
          .limit(20)
          .orderBy(col("pq_d2"), col("vec_id"))
      }
    }, Some(s"""
      WITH corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
      qv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
      ${lloydCtes("corp", 16)},
      ivfq AS (SELECT i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS v
               FROM qv, UNNEST(range(64)) AS t(i)),
      ivfd AS (SELECT c.cid, SUM((q.v - c.c) * (q.v - c.c)) AS d2
               FROM ivfq q JOIN c1 c USING (pos) GROUP BY 1),
      probes AS (SELECT cid FROM (
                   SELECT cid, ROW_NUMBER() OVER (ORDER BY d2, cid) AS rn FROM ivfd)
                 WHERE rn <= 4),
      cand AS (SELECT a.vec_id FROM a2 a JOIN probes p ON p.cid = a.cid),
      ${Pq.pqCtes("corp", "qv", m = 8, k = 16)}
      SELECT s.vec_id, s.pq_d2
      FROM pq_adc s JOIN cand c ON c.vec_id = s.vec_id
      ORDER BY s.pq_d2, s.vec_id LIMIT 20""")),

    // L5h — RESIDUAL IVF-PQ, Jégou 2011's IVFADC proper (VERDICT r15 #1:
    // l54 encodes raw vectors; the billion-scale form quantizes the
    // RESIDUAL x − q₁(x) against the coarse centroid, so the shared
    // codebook spends its codes on local geometry instead of re-encoding
    // the coarse position the bucket id already carries — measured
    // recall@10 vs raw across nprobe in SCALE.md round 16). Dataflow:
    // [[Pq.residuals]] (one broadcast centroid join + codegen'd zip_with)
    // feeds the UNCHANGED Pq.model fit; serving is one cluster-pruned
    // branch per probed bucket, each the l53 compiled-CASE scan with that
    // bucket's own query-residual table (q − centroid_c differs per
    // bucket — the IVFADC table is per-probe by construction). ORACLE:
    // l05_ann_ivf's lloydCtes (coarse fit + probes) ∘ Pq.pqResidualCtes
    // (residual fit + per-bucket ADC) — composed from the components'
    // oracles, the l54 single-sourcing rule. Same argmin near-tie hazard
    // class as l53/l54 (green since round 15).
    E("l54b_ivfpq_residual", (s, d) => {
      val emb = Tables(s, d).embeddings
      val corp = emb.filter(col("vec_id") =!= 0).select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") === 0).select(col("vec_id"), col("embedding"))
      if (corp.head(1).isEmpty || q.head(1).isEmpty)
        s.range(0).select(col("id").as("vec_id"),
          lit(null).cast("double").as("pq_d2"))
      else {
        import s.implicits._
        val idx = IvfIndex.build(corp, k = 16)
        val centsDf = idx.centroids.toSeq.toDF("cluster", "centroid")
        val res = Pq.residuals(corp, idx.assigned.select("vec_id", "cluster"), centsDf)
          .transform(graft.graph.Materialize.apply)
        val (cb, codes) = Pq.model(res.select(col("vec_id"), col("embedding")), m = 8, k = 16)
        val packed = Pq.pack(codes, m = 8)
          .join(res.select(col("vec_id"), col("cluster")), "vec_id")
        val qArr = q.select(expr("transform(embedding, v -> CAST(v AS DOUBLE))"))
          .head.getSeq[Double](0).toArray
        Pq.adcPackedResidual(cb.transform(graft.graph.Materialize.apply),
            packed, q, idx.centroids, idx.nearestClusters(qArr, 4).toSeq, m = 8)
          .orderBy(col("pq_d2"), col("vec_id"))
          .limit(20)
          .orderBy(col("pq_d2"), col("vec_id"))
      }
    }, Some(s"""
      WITH corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
      qv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
      ${lloydCtes("corp", 16)},
      ivfq AS (SELECT i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS v
               FROM qv, UNNEST(range(64)) AS t(i)),
      ivfd AS (SELECT c.cid, SUM((q.v - c.c) * (q.v - c.c)) AS d2
               FROM ivfq q JOIN c1 c USING (pos) GROUP BY 1),
      probes AS (SELECT cid FROM (
                   SELECT cid, ROW_NUMBER() OVER (ORDER BY d2, cid) AS rn FROM ivfd)
                 WHERE rn <= 4),
      ${Pq.pqResidualCtes("corp", "qv", m = 8, k = 16)}
      SELECT vec_id, pq_d2 FROM pq_adc
      ORDER BY pq_d2, vec_id LIMIT 20""")),

    // L15b — THE CURATION TICK, end to end (VERDICT r15 #7: the pipeline
    // every standing artifact exists FOR, graded as ONE composition): an
    // arriving batch (the l52 fixture — fresh docs + re-crawls under new
    // ids) flows through (1) dedup against the standing LSH index (any
    // probe hit ≤0.8 drops the doc — re-crawls die here), (2) semantic
    // DECONTAMINATION: each survivor's embedding probes an IVF index
    // over the eval set (nprobe=2 of k=4) and a cosine ≥0.99 against any
    // probed eval vector drops it (docs without an embedding are clean
    // by construction — the inner probe join holds them out and the
    // anti-join keeps them); (3) the l34 Gopher gate; (4) the l51
    // shard-local greedy packer over the curated survivors. Every stage
    // is the GRADED component's own dataflow (LshIndex owns l02's and
    // l52's near-dup decision; the probe/cosine leg is l47b's shape on the batch side;
    // gopherQuality/packGreedy are l34/l51's factored bodies), and the
    // ORACLE is the same four stages composed from the components' CTE
    // machinery verbatim (l52 sketch chain → lloydCtes probe → gopherCtes
    // → l51's recursive packer) — the l54 single-sourcing rule: the
    // hash-match pins the INTER-STAGE contracts (who drops whom, in what
    // order), which no per-stage grading implies. Scale: stage 1 is ∝
    // batch (index scanned, never shuffled), stage 2 broadcasts the
    // eval-sized index, stages 3–4 are per-doc scans of the shrinking
    // survivor set — the tick never touches the corpus except to rerank
    // stage-1 collisions.
    E("l55_curation_tick", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val docs = Tables(s, d).documents
      val emb = Tables(s, d).embeddings
      val corpus = docs.filter(col("doc_id") % 25 =!= 0)
      val batch = docs.filter(col("doc_id") % 25 === 0)
        .unionByName(corpus.filter(col("doc_id") % 41 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000000L)))
        .select(col("doc_id"), col("text"))
      // stage 1: dedup — any standing-index hit drops the batch doc
      val dupHits = LshIndex.build(corpus).probe(batch, corpus)
        .select(col("batch_id").as("doc_id")).distinct()
      val deduped = batch.join(dupHits, Seq("doc_id"), "left_anti")
        .transform(graft.graph.Materialize.apply)
      // stage 2: decontamination — probe the eval-set IVF index (an EMPTY
      // eval set means nothing to decontaminate against: the stage is a
      // no-op, never a throw — the l47b empty-slice discipline)
      val ev = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"))
      val decon = (if (ev.head(1).isEmpty) deduped else {
        val evIdx = IvfIndex.build(ev, k = 4)
        val bq = deduped
          .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
        val probes = evIdx
          .probe(bq.select(col("doc_id").as("vec_id"), col("embedding")), nprobe = 2)
          .select(col("vec_id").as("doc_id"), col("cluster"))
        val contaminated = probes
          .join(evIdx.assigned.select(col("vec_id").as("eval_id"),
                col("embedding").as("evv"), col("cluster")), Seq("cluster"))
          .join(bq.select(col("doc_id"), col("embedding")), Seq("doc_id"))
          .withColumn("cos", round(expr("cosine_sim(embedding, evv)"), 6))
          .filter(col("cos") >= 0.99)
          .select(col("doc_id")).distinct()
        deduped.join(contaminated, Seq("doc_id"), "left_anti")
      }).transform(graft.graph.Materialize.apply)
      // stage 3: the l34 gate; stage 4: the l51 packer over survivors
      val passed = decon.join(
        gopherQuality(decon).filter(col("gopher_pass")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      packGreedy(passed, 512L).orderBy("shard", "bin_id")
    }, Some(s"""
      WITH RECURSIVE
      cdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 <> 0),
      bdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
                UNION ALL
                SELECT doc_id + 1000000000, text FROM documents
                WHERE doc_id % 25 <> 0 AND doc_id % 41 = 0),
      adocs AS (SELECT doc_id, text, 1 AS is_batch FROM bdocs
                UNION ALL SELECT doc_id, text, 0 FROM cdocs),
      dtok AS (SELECT doc_id, is_batch, string_split(text, ' ') AS ws FROM adocs
               WHERE len(string_split(text, ' ')) >= 3),
      dtg AS MATERIALIZED (SELECT DISTINCT doc_id, is_batch, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS g
              FROM dtok, UNNEST(range(len(ws) - 2)) AS t(i)),
      dsk AS MATERIALIZED (SELECT doc_id, is_batch, """ + sketchSql + """
               FROM dtg GROUP BY doc_id, is_batch),
      dbkt AS MATERIALIZED (""" + (0 until minhashMults.size).map(b =>
        s"SELECT doc_id, is_batch, $b AS h, mh$b AS mh_r0 FROM dsk").mkString(" UNION ALL ") + s"""),
      dcand AS MATERIALIZED (SELECT DISTINCT bb.doc_id AS batch_id, bc.doc_id AS corpus_id
                FROM dbkt bb JOIN dbkt bc ON bb.h = bc.h AND bb.mh_r0 = bc.mh_r0
                WHERE bb.is_batch = 1 AND bc.is_batch = 0),
      dsz AS MATERIALIZED (SELECT doc_id, is_batch, COUNT(*) AS n FROM dtg GROUP BY 1, 2),
      dinter_a AS MATERIALIZED (
                 SELECT c.batch_id, c.corpus_id, ta.g
                 FROM dcand c JOIN dtg ta ON ta.doc_id = c.batch_id AND ta.is_batch = 1),
      dinter AS (SELECT ia.batch_id, ia.corpus_id, COUNT(*) AS i
                 FROM dinter_a ia JOIN dtg tb ON tb.doc_id = ia.corpus_id AND tb.is_batch = 0
                                         AND tb.g = ia.g
                 GROUP BY 1, 2),
      dhits AS (SELECT DISTINCT i.batch_id FROM dinter i
                JOIN dsz sa ON sa.doc_id = i.batch_id AND sa.is_batch = 1
                JOIN dsz sb ON sb.doc_id = i.corpus_id AND sb.is_batch = 0
                WHERE ROUND(1.0 - CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) <= 0.8),
      dedup AS MATERIALIZED (SELECT doc_id, text FROM bdocs
                WHERE doc_id NOT IN (SELECT batch_id FROM dhits)),
      evemb AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
      ${lloydCtes("evemb", 4)},
      bq AS MATERIALIZED (SELECT dd.doc_id, e.embedding FROM dedup dd
             JOIN embeddings e ON e.vec_id = dd.doc_id),
      bqp AS (SELECT doc_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS v
              FROM bq, UNNEST(range(64)) AS t(i)),
      bpd AS (SELECT q.doc_id, c.cid, SUM((q.v - c.c) * (q.v - c.c)) AS d2
              FROM bqp q JOIN c1 c USING (pos) GROUP BY 1, 2),
      bprobes AS (SELECT doc_id, cid FROM (
                    SELECT doc_id, cid,
                           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY d2, cid) AS rn
                    FROM bpd) WHERE rn <= 2),
      bcand AS (SELECT p.doc_id, a.vec_id AS eval_id FROM bprobes p JOIN a2 a ON a.cid = p.cid),
      cont AS (SELECT DISTINCT c.doc_id
               FROM bcand c JOIN bq b ON b.doc_id = c.doc_id
                    JOIN evemb ev ON ev.vec_id = c.eval_id
               WHERE ROUND(${dotSql("b.embedding", "ev.embedding")} /
                           (SQRT(${dotSql("b.embedding", "b.embedding")}) *
                            SQRT(${dotSql("ev.embedding", "ev.embedding")})), 6) >= 0.99),
      decon AS MATERIALIZED (SELECT doc_id, text FROM dedup
                WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
      ${gopherCtes("decon")},
      pdocs AS (SELECT doc_id % 8 AS shard, doc_id,
                       COALESCE(len(list_filter(string_split(text, ' '), w -> w <> '')), 0) AS tokens,
                       ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
                FROM decon WHERE doc_id IN (SELECT doc_id FROM gq WHERE gopher_pass)),
      prec(shard, rn, bin_id, bin_tokens, tokens) AS (
        SELECT shard, rn, CAST(0 AS BIGINT), tokens, tokens
        FROM pdocs WHERE rn = 1
        UNION ALL
        SELECT d.shard, d.rn,
               CASE WHEN r.bin_tokens + d.tokens > 512
                    THEN r.bin_id + 1 ELSE r.bin_id END,
               CASE WHEN r.bin_tokens + d.tokens > 512
                    THEN d.tokens ELSE r.bin_tokens + d.tokens END,
               d.tokens
        FROM prec r JOIN pdocs d ON d.shard = r.shard AND d.rn = r.rn + 1)
      SELECT shard, bin_id, COUNT(*) AS n_docs,
             CAST(SUM(tokens) AS BIGINT) AS bin_tokens
      FROM prec GROUP BY 1, 2
      ORDER BY shard, bin_id""")),

    // L10e — BM25 over the MAINTAINED inverted index (round 16): the
    // retrieval family's standing artifact, graded through its whole
    // maintenance life — build over the corpus slice, APPEND an arriving
    // batch (only the batch tokenizes; postings/doclens are per-document,
    // so append ≡ rebuild-over-union), ERASE a slice (posting + doclen
    // rows leave, so N/avgdl/df shift exactly as a rebuild over
    // survivors), then probe with l48's query table. The ORACLE computes
    // BM25 FROM SCRATCH over the surviving documents with l48's CTE
    // machinery verbatim — the hash pins append∘remove ≡
    // rebuild-over-survivors END TO END, the strongest form of the
    // maintenance claim (Bm25IndexSpec adds the persisted-layout trio:
    // save/load/probeFrom term-shard pruning, appendTo, tombstone
    // removeFrom + compact). Scale shape: a probe reads the query terms'
    // posting lists (term-shard pruning + broadcast semi-join) and the
    // doclen table (2 longs/doc) — never the corpus text; scoring is
    // Retrieval.scoreTf, the SAME body l48 grades, so the artifact
    // cannot drift from the audited pipeline.
    E("l56_bm25_indexed", (s, d) => {
      import s.implicits._
      val docs = Tables(s, d).documents
      val corpus = docs.filter(col("doc_id") % 25 =!= 0)
      val batch = docs.filter(col("doc_id") % 25 === 0)
      val erase = corpus.filter(col("doc_id") % 37 === 0).select(col("doc_id"))
      val qterms = Seq(
        (1L, "spark", 0), (1L, "join", 1), (1L, "filter", 2),
        (2L, "hash", 0), (2L, "merge", 1), (2L, "sort", 2),
        (3L, "stream", 0), (3L, "window", 1), (3L, "batch", 2))
        .toDF("query_id", "token", "pos")
      Bm25Index.build(corpus).append(batch).remove(erase)
        .probe(qterms, topK = 20)
        .orderBy("query_id", "rk")
    }, Some("""
      WITH qterms(query_id, token, pos) AS (VALUES
        (1, 'spark', 0), (1, 'join', 1), (1, 'filter', 2),
        (2, 'hash', 0), (2, 'merge', 1), (2, 'sort', 2),
        (3, 'stream', 0), (3, 'window', 1), (3, 'batch', 2)),
      surv AS (SELECT doc_id, text FROM documents
               WHERE doc_id % 25 = 0 OR doc_id % 37 <> 0),
      tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM surv),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs FROM dl),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
             WHERE token IN (SELECT DISTINCT token FROM qterms) GROUP BY 1, 2),
      df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      w AS (SELECT tf.doc_id, tf.token,
                   LN(1.0 + (CAST(n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
                   (tf.tf * 2.2) /
                   (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl)) AS w
            FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
      p AS (SELECT q.query_id, w.doc_id, COUNT(*) AS n_terms_hit,
                     COALESCE(MAX(CASE WHEN q.pos = 0 THEN w.w END), 0.0)
                   + COALESCE(MAX(CASE WHEN q.pos = 1 THEN w.w END), 0.0)
                   + COALESCE(MAX(CASE WHEN q.pos = 2 THEN w.w END), 0.0) AS raw
            FROM w JOIN qterms q USING (token) GROUP BY 1, 2),
      r AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
                   ROUND(raw, 6) AS bm25, n_terms_hit,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY ROUND(raw, 6) DESC, doc_id) AS rk
            FROM p)
      SELECT query_id, doc_id, bm25, n_terms_hit, CAST(rk AS BIGINT) AS rk
      FROM r WHERE rk <= 20 ORDER BY query_id, rk"""))
  )

  val queries: Map[String, Q] = entries.map(e => e.name -> e.fn).toMap
  val oracleSql: Map[String, String] = entries.flatMap(e => e.sql.map(sql => e.name -> sql.trim)).toMap
}
