package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal data builder: writes K id-shifted copies of a source sf
  * directory as one larger sf (e.g. 4 × sf0.1 → "sf0.4"), preserving every
  * FK relationship within each copy (all big keys shift by the same
  * per-copy offset; small dimensions — region, nation — and nationkey FKs
  * are shared across copies, as TPC-H scaling does). Distribution SHAPE is
  * preserved, so tier gates and partition sizing see a faithful 4× load.
  * Output goes OUTSIDE /root/testdata (that tree is read-only).
  *
  * ORGANIC document growth (round 8, VERDICT r7 #4): copies k ≥ 1 of the
  * documents table get a deterministic content-keyed token jitter — ~70%
  * of token VOCABULARY (selected by a hash of the token text and k; all
  * occurrences of a selected token move together) is suffixed with "_k" —
  * so cross-copy pairs stop being near-duplicates (a changed token kills
  * the 3 shingles through it; expected shingle survival ≈ 0.3³ ≈ 0.03 →
  * cross-copy Jaccard ≈ 0.014, far under the graded 0.2 thresholds)
  * while WITHIN-copy similarity is preserved EXACTLY: the map
  * token→token' is injective and content-keyed, so two docs in the same
  * copy share a token/shingle after the map iff they shared it before.
  * Injectivity PRECONDITION (ADVICE r8): no source token may itself end
  * in "_<copy index>" — an unselected "foo_1" would collide with
  * selected "foo" mapped to "foo_1", creating spurious within-copy
  * overlap. The driver vocabulary contains no underscores at all
  * (measured: 0 of ~60 distinct tokens at every sf), and main() now
  * ENFORCES the precondition with one aggregate over the source corpus
  * instead of assuming it, so a future fixture change fails loudly here
  * rather than silently corrupting the scale-evidence series.
  * The rate is MEASURED, not modeled: at the original 30% rate the
  * cross-copy Jaccard model (0.7³ → J ≈ 0.21) sat exactly at the 0.2
  * graded threshold, and repeated-token correlation pushed the realized
  * median to 0.28 — 7,209 of 8,233 sf0.4 l03 pairs were cross-copy
  * boundary noise (pair-count split measured in SCALE.md's round-8
  * entry). n_chars is recomputed (source
  * invariant n_chars = LENGTH(text), verified on the driver fixtures).
  * xxhash64 keys the jitter: this is tool-side DATA GENERATION — both
  * engines then read the same parquet, so no SQL-mirrorability
  * constraint applies.
  *
  * TEMPORAL growth has two honest models, selected by the optional
  * `--epochs` flag (round 9). Default (shared clock): every copy keeps the
  * source timestamps, so the k copies INTERLEAVE on one timeline — the
  * event-sequence graph (LAG over global ts order) becomes one mixed
  * k×-denser graph, the right stress test for connectivity/frontier
  * operators (g02/g03/g07 rehearsals). But any Δ-windowed temporal
  * operator then sees k× the events per window — candidate pairs inside a
  * window grow ~k² per copy-doubling, a FIXTURE artifact (real corpora
  * grow by extending the time span, not by replaying k parallel universes
  * on one clock). `--epochs` instead shifts copy k's events k·(span+2d)
  * later: within-copy temporal structure is preserved exactly, copies
  * stay disjoint in time (one LAG seam edge per boundary), per-window
  * density equals the source's, and windowed-motif work scales ~k. Use
  * the default for graph-shape rehearsals, `--epochs` for windowed
  * temporal ones. MEASURED (SCALE.md round-9 entry, k = 8; the probe is
  * readable at commit 1ff956e): the feared ~k² growth does not
  * materialize on the graded surface — every graded temporal operator
  * anchors on an entity (node/user equi-key) whose id space is
  * copy-disjoint, so both models scale ~k (g35 relays: interleaved
  * +0.29% cross-copy, epochs exactly +copies−1 seam edges). The k²
  * regime needs a pure time-proximity pair join with no entity anchor, a scale-killer shape no graded
  * query uses. `--epochs` remains the recommendation for temporal
  * rehearsals: its timeline physics match real corpus growth and its
  * seam contribution is exactly countable.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <copies> [--epochs]
  */
object ScaleUp {
  /** The property-graph id scheme spaces label bases 1e9 apart
    * (GraphBuilder); every shifted raw key must stay under this or copies
    * of one label bleed into the next label's id range. */
  private val NodeIdBaseGap = 1000000000L

  /** Per-copy id shift — MEASURED from the source fixture, not a constant
    * (round-10, VERDICT r9 #7): the old fixed 1e7 shift capped the organic
    * series at 99 copies (sf9.9 from an sf0.1 source) even though the
    * actual sf0.1 key range is ~1.5e6. Taking the max over every shifted
    * key column and rounding up to a 1e6 multiple keeps copies FK-disjoint
    * by construction with a provable margin, and lifts the cap to
    * ⌊1e9/shift⌋−1 copies (≈ 499 at sf0.1 → sf12.8+ reachable). */
  private def measuredShift(maxKey: Long): Long = {
    val shift = ((maxKey / 1000000L) + 1L) * 1000000L
    require(shift > maxKey, s"shift $shift must clear the max source key $maxKey")
    shift
  }

  /** Per-copy SIGNED COORDINATE PERMUTATION of the embedding vectors — an
    * isometry of R^d (a hyperoctahedral-group element), deterministic in
    * the copy index. Within-copy geometry is preserved EXACTLY: every
    * inner product, norm, and therefore cosine/near-dup relation between
    * two vectors in the same copy is invariant under a shared orthogonal
    * map. Cross-copy exact/near duplicates are destroyed: v in copy 0 vs
    * σ_k(v) in copy k correlate like random sign patterns (E[cos] = 0,
    * |cos| ~ 1/√d), far below every graded similarity threshold. This is
    * the embedding twin of the organic TEXT jitter above — without it,
    * every vector has copies-1 exact clones and any near-dup/ANN
    * rehearsal pair count is a planted-fixture artifact (the round-7
    * document-dedup lesson, VERDICT r7 #4). Copy 0 stays verbatim so the
    * smaller sf remains a prefix of the larger.
    */
  private[graft] def isometry(vecCol: Column, k: Int, dim: Int): Column = {
    val rnd = new scala.util.Random(0x5eedL * 1000003L + k)
    val perm = rnd.shuffle((0 until dim).toVector)
    val signs = Vector.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
    array((0 until dim).map(i =>
      (element_at(vecCol, perm(i) + 1) * lit(signs(i))).cast("float")): _*)
  }

  /** ~70% of token vocabulary perturbed, keyed on (token text, copy). */
  private def jitterText(textCol: Column, k: Int): Column =
    array_join(
      transform(split(textCol, " "),
        t => when(pmod(xxhash64(t, lit(k)), lit(10L)) < 7,
               concat(t, lit("_"), lit(k))).otherwise(t)),
      " ")

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <copies>")
      sys.exit(2)
    }
    val Array(src, out, copiesS) = args.take(3)
    val copies = copiesS.toIntOption.getOrElse {
      System.err.println(s"copies must be an integer, got '$copiesS'")
      sys.exit(2); 0
    }
    if (copies < 1) {
      System.err.println(s"copies must be >= 1, got $copies")
      sys.exit(2)
    }
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val plan: Seq[(String, Seq[String])] = Seq(
      "region" -> Seq.empty, "nation" -> Seq.empty, // shared dims: one copy
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    // Measure the shift from the source's ACTUAL key ranges (scaladoc on
    // measuredShift), then re-check the node-id gap guard against it: the
    // LAST copy's highest shifted key must stay under the 1e9 label gap.
    val maxKey: Long = plan.collect { case (t, keys) if keys.nonEmpty =>
      val agg = keys.map(k => max(col(k).cast("long")))
      spark.read.parquet(s"$src/$t.parquet")
        .agg(agg.head, agg.tail: _*).first().toSeq.map(_.asInstanceOf[Long]).max
    }.max
    val shift = measuredShift(maxKey)
    if ((copies - 1).toLong * shift + maxKey >= NodeIdBaseGap) {
      System.err.println(s"copies=$copies with measured shift $shift (max source key " +
        s"$maxKey) would push ids past the $NodeIdBaseGap node-id base gap; " +
        s"max supportable copies at this source sf: ${(NodeIdBaseGap - maxKey) / shift}")
      sys.exit(2)
    }
    println(s"scaleup: measured max source key $maxKey -> per-copy shift $shift " +
      s"(cap ${(NodeIdBaseGap - maxKey) / shift} copies at this sf)")
    // Enforce the jitter-injectivity precondition (scaladoc above): a source
    // token ending in "_<k>" for any copy index k in range would alias a
    // jittered token. One cheap aggregate over the corpus; underscore-free
    // tokens can never collide with "<tok>_<k>".
    val clashing = spark.read.parquet(s"$src/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").rlike(s"_([1-9][0-9]*)$$"))
      .filter(expr(s"CAST(regexp_extract(tok, '_([0-9]+)$$', 1) AS INT) < $copies"))
      .limit(1).count()
    if (clashing > 0) {
      System.err.println("source vocabulary violates the jitter-injectivity " +
        s"precondition: a token ends in '_<k>' for a copy index k < $copies; " +
        "pick a different suffix separator before generating this fixture")
      sys.exit(2)
    }
    def shifted(table: String, keyCols: Seq[String],
                perCopy: (DataFrame, Int) => DataFrame = (df, _) => df): DataFrame = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until copies).map { k =>
        val s = keyCols.foldLeft(base) { (df, c) =>
          df.withColumn(c, col(c) + lit(k * shift)) }
        perCopy(s, k)
      }.reduce(_ unionByName _)
    }
    // copy 0 stays verbatim (the smaller sf remains a prefix of the larger);
    // copies 1..k-1 get the organic jitter described above
    // fixed-dim precondition for the embedding isometry (a permutation is
    // only defined on one dimensionality; driver fixtures are d=64 at every sf)
    val dims = spark.read.parquet(s"$src/embeddings.parquet")
      .select(size(col("embedding")).as("d")).agg(min("d"), max("d")).first()
    if (dims.getInt(0) != dims.getInt(1)) {
      System.err.println(s"embeddings have mixed dimensions ${dims.getInt(0)}..${dims.getInt(1)}; " +
        "the per-copy isometry needs a fixed d")
      sys.exit(2)
    }
    val embDim = dims.getInt(0)
    val perturbEmb: (DataFrame, Int) => DataFrame = (df, k) =>
      if (k == 0) df
      else df.withColumn("embedding", when(col("embedding").isNull, col("embedding"))
        .otherwise(isometry(col("embedding"), k, embDim)))
    val perturbDocs: (DataFrame, Int) => DataFrame = (df, k) =>
      if (k == 0) df
      else df
        .withColumn("text", when(col("text").isNull, col("text"))
          .otherwise(jitterText(col("text"), k)))
        .withColumn("n_chars", when(col("text").isNull, col("n_chars"))
          .otherwise(length(col("text")).cast("long")))
    val epochMode = args.length > 3 && args(3) == "--epochs"
    // disjoint per-copy time epochs: copy k shifts k·(span+2d) later, so
    // per-window event density stays the SOURCE's (see scaladoc)
    lazy val epochEvents: DataFrame = {
      val base = graft.Tables.normalizeEventsTs(spark.read.parquet(s"$src/events.parquet"))
      val spanDays = base.agg((datediff(max(col("ts")), min(col("ts"))) + lit(2)).as("d"))
        .first().getInt(0)
      (0 until copies).map { k =>
        val s = Seq("event_id", "user_id").foldLeft(base) { (df, c) =>
          df.withColumn(c, col(c) + lit(k * shift)) }
        s.withColumn("ts", col("ts") + expr(s"INTERVAL ${k.toLong * spanDays} DAYS"))
      }.reduce(_ unionByName _)
    }
    plan.foreach { case (t, keys) =>
      val df0 =
        if (keys.isEmpty) spark.read.parquet(s"$src/$t.parquet")
        else if (t == "documents") shifted(t, keys, perturbDocs)
        else if (t == "embeddings") shifted(t, keys, perturbEmb)
        else if (t == "events" && epochMode) epochEvents
        else shifted(t, keys)
      // events.ts encoding varies by fixture round (ns-as-LONG under the
      // nanosAsLong session flag, µs NTZ since round 8). Normalize through
      // the shared adapter and write a µs TIMESTAMP — lossless (the data is
      // µs-precision) and type-faithful for BOTH engines: a raw-long copy
      // breaks every DuckDB oracle that unions ts into a TIMESTAMP column
      // (edgesCte valid_from), while Tables.events adapts to any of the three.
      val df = if (t == "events") graft.Tables.normalizeEventsTs(df0) else df0
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"scaleup: $t -> ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
