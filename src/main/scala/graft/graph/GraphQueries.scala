package graft.graph

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** G-series graph operators (SURVEY.md §2.2) as graded queries.
  * Flagship first (M1); the rest land with M3/M4/M5.
  */
object GraphQueries {
  type Q = (SparkSession, String) => DataFrame
  private final case class E(name: String, fn: Q, sql: Option[String])

  import GraphSql.{edgesCte, nodesCte}

  /** Shared customer→supplier UBO propagation (3 layered steps, ε=0.005) —
    * single-sourced for g03_ubo_exposure and g03_ubo_owners so the Spark
    * pipeline and its SQL mirror can never drift between the two.
    */
  private def uboCustomerSupplier(s: SparkSession, d: String): DataFrame = {
    val t = Tables(s, d)
    // layered propagation: each step joins only its DAG layer (customer→
    // order→part→supplier) — same results as the full-union join (a probe
    // on entity=src can only match the matching layer), smaller per-step
    // probe sides. materializeLayers=false: each layer is probed exactly
    // once, so checkpointing it would pay a full write+read for zero reuse.
    // Step 1 is the identity on the placed layer (the seed set IS its src
    // domain): Ubo.seedStep elides the old init-distinct + join + agg —
    // bit-identical by the singleton-sum argument on its scaladoc (r17).
    val s1 = Ubo.seedStep(Ubo.placedEdges(t), lit(true), epsilon = Some(0.005))
    Ubo.propagateLayers(
      Seq(Ubo.containsEdges(t), Ubo.suppliedByEdges(t)),
      s1, epsilon = Some(0.005), materializeLayers = false)
  }

  /** SQL mirror of [[uboCustomerSupplier]]: CTE chain ending in `s3`. */
  private val uboCustomerSupplierSql: String =
    s"""${UboSql.uboEdgesCte},
       |s0 AS (SELECT DISTINCT src AS owner, src AS entity, CAST(1.0 AS DOUBLE) AS share
       |       FROM ubo_edges WHERE src >= 3000000000 AND src < 4000000000),
       |${UboSql.step("s0", "s1", "ubo_edges", Some(0.005))},
       |${UboSql.step("s1", "s2", "ubo_edges", Some(0.005))},
       |${UboSql.step("s2", "s3", "ubo_edges", Some(0.005))}""".stripMargin

  /** DuckDB mirror of sampled Brandes betweenness (the g10 oracle):
    * FULLY UNROLLED — `depth` forward BFS level CTEs, each one join +
    * sigma-summing GROUP BY with a cumulative visited-set NOT EXISTS
    * (exactly betweennessDistributed's anti-join), then `depth` backward
    * dependency-accumulation CTEs (delta(v) = Σ sigma_v/sigma_w ×
    * (1+delta_w) over BFS-DAG successors, leaves coalesced to 0). Levels
    * past the actual eccentricity are empty — harmless — so one depth
    * constant covers every graded sf. Every CTE is AS MATERIALIZED
    * (DuckDB re-inlines multiply-referenced CTEs otherwise — the g21
    * lesson). Output rounds the summed dependency on the shared
    * floor(x·1e6+0.5) grid.
    */
  private def brandesSql(nSources: Int, depth: Int): String = {
    require(depth >= 2, s"brandesSql needs depth >= 2 (got $depth): " +
      "the backward chain below d$depth would otherwise leave a dangling comma")
    val fwd = (1 to depth).map { k =>
      s"""lv$k AS MATERIALIZED (
         |  SELECT p.s, e.dst AS v, SUM(p.sigma) AS sigma
         |  FROM lv${k - 1} p JOIN sym e ON p.v = e.src
         |  WHERE NOT EXISTS (SELECT 1 FROM vis${k - 1} x WHERE x.s = p.s AND x.v = e.dst)
         |  GROUP BY p.s, e.dst),
         |vis$k AS MATERIALIZED (SELECT s, v FROM vis${k - 1} UNION ALL SELECT s, v FROM lv$k)""".stripMargin
    }.mkString(",\n")
    val bwd = (depth - 1) to 1 by -1
    val bwdSql = bwd.map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT l.s, l.v, l.sigma,
         |         COALESCE(SUM(l.sigma / w.sigma * (1.0 + w.delta)), CAST(0.0 AS DOUBLE)) AS delta
         |  FROM lv$k l
         |  LEFT JOIN sym e ON l.v = e.src
         |  LEFT JOIN d${k + 1} w ON w.s = l.s AND w.v = e.dst
         |  GROUP BY l.s, l.v, l.sigma)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to depth).map(k => s"SELECT s, v, delta FROM d$k").mkString(" UNION ALL ")
    s"""
      WITH ${UboSql.interactedPairsCte},
      e2 AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      sym AS MATERIALIZED (SELECT src, dst FROM e2 UNION SELECT dst, src FROM e2),
      srcs AS MATERIALIZED (SELECT id FROM
        (SELECT src AS id FROM sym UNION SELECT dst FROM sym) ORDER BY id LIMIT $nSources),
      lv0 AS MATERIALIZED (SELECT id AS s, id AS v, CAST(1.0 AS DOUBLE) AS sigma FROM srcs),
      vis0 AS MATERIALIZED (SELECT s, v FROM lv0),
      $fwd,
      d$depth AS MATERIALIZED (SELECT s, v, sigma, CAST(0.0 AS DOUBLE) AS delta FROM lv$depth),
      $bwdSql,
      allv AS ($unionAll)
      SELECT v AS id, FLOOR(SUM(delta) * 1000000 + 0.5) / 1000000 AS betweenness
      FROM allv WHERE v <> s GROUP BY v ORDER BY id"""
  }

  /** DuckDB mirror of Algorithms.labelPropagation(e2, 3) on the strong
    * user graph: sym CTE + 3 unrolled majority-vote steps ending in
    * l3(v, label). Single-sourced for g18 (grades the labels) and g29
    * (grades conductance OVER the labels) so the community definition
    * cannot drift between them.
    */
  private val lpCtes: String = {
    def step(prev: String, cur: String) =
      s"""$cur AS (SELECT v, label FROM (
         |  SELECT s.dst AS v, p.label, COUNT(*) AS c,
         |         ROW_NUMBER() OVER (PARTITION BY s.dst ORDER BY COUNT(*) DESC, p.label) AS rn
         |  FROM $prev p JOIN sym s ON s.src = p.v GROUP BY s.dst, p.label) WHERE rn = 1)""".stripMargin
    s"""e AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      sym AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      l0 AS (SELECT DISTINCT src AS v, src AS label FROM sym),
      ${step("l0", "l1")}, ${step("l1", "l2")}, ${step("l2", "l3")}"""
  }

  /** DuckDB mirror of Algorithms.scc on the cnt >= `minCnt` interaction
    * graph: recursive mutual-reachability closure ending in
    * scc(id, component). Single-sourced for g06_scc and g06_condensation
    * (the threshold is the only difference) so the closure cannot drift
    * between the cycle query and the DAG built on top of it. Callers
    * prepend WITH RECURSIVE and the ie_pairs CTE.
    */
  private def sccCtes(minCnt: Int): String =
    s"""e AS (SELECT src, dst FROM ie_pairs WHERE cnt >= $minCnt),
      reach(a, b) AS (
        SELECT src, src FROM e UNION SELECT dst, dst FROM e
        UNION SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
      scc AS MATERIALIZED (
        SELECT f.a AS id, MIN(f.b) AS component
        FROM reach f JOIN reach b ON f.a = b.b AND f.b = b.a
        GROUP BY f.a)"""

  /** Fuzzy entity-resolution pairs over customer names (README.md:15
    * "shared directors, common registered addresses" — real registry data
    * carries single-character typos): the blocked lev≤1 self-join
    * ([[graft.rel.FuzzyJoin]]'s symmetric-delete blocking + exact
    * levenshtein rerank) producing canonical id_a < id_b pairs. Shared by
    * g46 (conflict pairs) and g48 (merge-map action) so the pair semantics
    * can never drift between the two views.
    */
  private def fuzzyCustomerPairs(s: SparkSession, d: String): DataFrame =
    graft.rel.FuzzyJoin.selfJoinLev1(
      Tables(s, d).customer.select(
        col("c_custkey").as("id"), col("c_name").as("name")))

  /** SQL mirror of [[fuzzyCustomerPairs]]: CTE chain ending in `fpairs`
    * (cust_a, cust_b, name_a, name_b, dist), with `nm` (ck, nam, nk)
    * available. DuckDB's `range(n)` is 0-based so the delete at offset i
    * is substr(1..i) || substr(i+2..); Spark's 1-based sequence deletes
    * position i — the generated key SETS are identical.
    */
  private val fuzzyPairsSql: String =
    """nm AS (SELECT c_custkey AS ck, c_name AS nam, c_nationkey AS nk FROM customer),
      |keys AS (
      |  SELECT ck, nam, nam AS key FROM nm
      |  UNION
      |  SELECT ck, nam, substr(nam, 1, CAST(i AS INT)) || substr(nam, CAST(i AS INT) + 2) AS key
      |  FROM nm, UNNEST(range(length(nam))) AS t(i)),
      |cand AS (
      |  SELECT DISTINCT a.ck AS cust_a, b.ck AS cust_b, a.nam AS name_a, b.nam AS name_b
      |  FROM keys a JOIN keys b ON a.key = b.key AND a.ck < b.ck),
      |fpairs AS (
      |  SELECT cust_a, cust_b, name_a, name_b,
      |         CAST(levenshtein(name_a, name_b) AS INT) AS dist
      |  FROM cand WHERE levenshtein(name_a, name_b) <= 1)""".stripMargin

  /** Years the g47 time-slider series spans — the fixture's temporal data
    * runs 1995..2001 at every sf (o_orderdate/l_shipdate range). */
  private val sliderYears = 1995 to 2001

  /** SQL mirror of g47: one single-row SELECT per year (scalar subqueries
    * over the same snapshot predicate), UNION ALL'd — the same
    * branch-per-snapshot shape as the DataFrame side. */
  private def snapshotSeriesSql: String = {
    val blocks = sliderYears.map { y =>
      val ts = s"TIMESTAMP '$y-12-31 23:59:59'"
      s"""SELECT $y AS year,
         |  (SELECT COUNT(*) FROM graph_edges WHERE valid_from IS NULL OR valid_from <= $ts) AS n_edges,
         |  (SELECT COUNT(DISTINCT src) FROM graph_edges WHERE valid_from IS NULL OR valid_from <= $ts) AS n_src,
         |  (SELECT COUNT(DISTINCT dst) FROM graph_edges WHERE valid_from IS NULL OR valid_from <= $ts) AS n_dst,
         |  h.n_parts_known, h.n_concentrated, h.max_hhi
         |FROM (
         |  SELECT COUNT(*) AS n_parts_known,
         |         CAST(SUM(CASE WHEN ROUND(hhi, 6) >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_concentrated,
         |         ROUND(MAX(hhi), 6) AS max_hhi
         |  FROM (SELECT CAST(SUM(qty * qty) AS DOUBLE) / (CAST(SUM(qty) AS DOUBLE) * CAST(SUM(qty) AS DOUBLE)) AS hhi
         |        FROM (SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
         |              FROM lineitem WHERE l_shipdate <= $ts GROUP BY 1, 2)
         |        GROUP BY l_partkey)) h""".stripMargin
    }
    blocks.mkString("\nUNION ALL\n") + "\nORDER BY year"
  }

  /** g54's abbreviation pack (canonical → registry form) over the
    * catalog-label vocabulary: size/type codes and part-noun shortenings
    * of the style industrial registries actually use. Injective by
    * construction (normalization inverts it exactly), no key collides
    * with a genuine corpus token (verified against the sf0.1 vocabulary;
    * note case-sensitivity does real work: the "LARGE" size code
    * abbreviates to "LG" while the "large" name adjective is untouched).
    * SINGLE-SOURCED: this Seq generates both the Spark map literal and
    * the DuckDB CASE chain, so engine and oracle cannot drift.
    */
  private val g54Abbrev: Seq[(String, String)] = Seq(
    "STANDARD" -> "STD", "ECONOMY" -> "ECON", "MEDIUM" -> "MED",
    "LARGE" -> "LG", "SMALL" -> "SM", "PROMO" -> "PRM",
    "widget" -> "wdgt", "gizmo" -> "gzmo", "anvil" -> "anvl",
    "plate" -> "plt", "bolt" -> "blt", "gear" -> "gr",
    "ring" -> "rg", "rod" -> "rd")

  private def g54Case(d: Seq[(String, String)]): String =
    d.map { case (k, v) => s"WHEN '$k' THEN '$v'" }.mkString(" ")

  /** g54's linkage inputs — (registry id|raw abbreviated text, its
    * normalized id|label view, canonical catalog id|label). */
  private def g54Inputs(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.rel.TokenSetJoin
    val fwd = g54Abbrev.toMap                  // canonical -> registry form
    val rev = g54Abbrev.map(_.swap).toMap      // the normalization pack
    val labels = Tables(s, d).part
      .groupBy(concat_ws(" ", col("p_name"), col("p_brand"), col("p_type")).as("label"))
      .agg(min(col("p_partkey")).cast("long").as("id"))
      .select("id", "label")
    // offset ABOVE every GraphBuilder id base (max is DocumentBase 8e9):
    // p_partkey + 9e9 cannot collide with any node or part id at any sf
    // below 1e9 parts — the VERDICT r11 ADVICE note (the old +1e8 offset
    // collided with p_partkey at SF≥500, where the oracle's bare-id union
    // would silently merge registry and catalog rows)
    val registry = labels.select((col("id") + lit(9000000000L)).as("id"),
      TokenSetJoin.mapTokens(col("label"), fwd).as("raw"))
    val normalized = registry.select(col("id"),
      TokenSetJoin.mapTokens(col("raw"), rev).as("label"))
    (registry, normalized, labels)
  }

  /** g61's screening inputs — the g54 registry with a TYPO leg layered on:
    * every 5th record (by the partkey the id carries — 9e9 % 5 = 0, so
    * id % 5 ≡ partkey % 5, the same test in both engines) drops its 3rd
    * character AFTER abbreviation. The raw then arrives abbreviated AND
    * typo'd; re-normalization leaves the typo'd token untouched (it is
    * outside the pack), so the normalized view carries PARTIAL evidence —
    * exactly the independent-failure shape the fused score exists for.
    * Returns (registry(id, raw, norm), catalog(id, label)).
    */
  private def g61Inputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (registry, _, labels) = g54Inputs(s, d)
    val rev = g54Abbrev.map(_.swap).toMap
    val reg2 = registry.select(col("id"),
        when(col("id") % 5 === 0,
          concat(expr("substring(raw, 1, 2)"), expr("substring(raw, 4)")))
          .otherwise(col("raw")).as("raw"))
      .withColumn("norm", graft.rel.TokenSetJoin.mapTokens(col("raw"), rev))
    (reg2, labels)
  }

  /** Per-date UBO layer weights from ONE scan per layer — the g56 move
    * (slider dates add conditional sums, never scans), extracted so g56
    * and g62 build the SAME dated layers: per-date conditional
    * sum(when(ship <= d)) on the grouped layer keys, unpivoted to
    * (as_of, src, dst, qty), window-normalized per (as_of, src); the
    * per-order PLACED layer (nothing to pre-aggregate away) explodes
    * dates per order row and filters, one scan likewise. Returns
    * Seq(supplied, contains, placed), each (as_of, src, dst, weight).
    */
  private[graph] def datedUboLayers(t: Tables, dates: Seq[String]): Seq[DataFrame] = {
    import graft.Tables.dec
    def asOf(ds: String) = lit(ds).cast("timestamp_ntz")
    def datedLayer(grouped: DataFrame, srcCol: org.apache.spark.sql.Column,
                   dstCol: org.apache.spark.sql.Column): DataFrame =
      grouped
        .select(srcCol.as("src"), dstCol.as("dst"),
          explode(array(dates.zipWithIndex.map { case (ds, i) =>
            struct(asOf(ds).as("as_of"), col(s"q$i").as("qty")) }: _*)).as("x"))
        .select(col("x.as_of").as("as_of"), col("src"), col("dst"), col("x.qty").as("qty"))
        .filter(col("qty").isNotNull)
        .withColumn("weight", col("qty").cast("double") /
          sum(col("qty")).over(Window.partitionBy(col("as_of"), col("src"))).cast("double"))
        .select("as_of", "src", "dst", "weight")
    def qsums = dates.zipWithIndex.map { case (ds, i) =>
      sum(when(col("l_shipdate") <= asOf(ds), dec(col("l_quantity")))).as(s"q$i") }
    val contains = datedLayer(
      t.lineitem.groupBy(col("l_orderkey"), col("l_partkey")).agg(qsums.head, qsums.tail: _*),
      lit(GraphBuilder.OrderBase) + col("l_orderkey"),
      lit(GraphBuilder.PartBase) + col("l_partkey"))
    val supplied = datedLayer(
      t.lineitem.groupBy(col("l_partkey"), col("l_suppkey")).agg(qsums.head, qsums.tail: _*),
      lit(GraphBuilder.PartBase) + col("l_partkey"),
      lit(GraphBuilder.SupplierBase) + col("l_suppkey"))
    val placed = t.orders
      .select((lit(GraphBuilder.CustomerBase) + col("o_custkey")).as("src"),
              (lit(GraphBuilder.OrderBase) + col("o_orderkey")).as("dst"), col("o_orderdate"))
      .select(explode(array(dates.map(asOf): _*)).as("as_of"),
              col("src"), col("dst"), col("o_orderdate"))
      .filter(col("o_orderdate") <= col("as_of"))
      .withColumn("weight",
        lit(1.0) / count(lit(1)).over(Window.partitionBy(col("as_of"), col("src"))))
      .select("as_of", "src", "dst", "weight")
    Seq(supplied, contains, placed)
  }

  /** The g62 dossier-as-of long-format rows (as_of, supplier, section,
    * key, detail, score) over the fixed 1996/2001 slider positions —
    * extracted so g62 (the per-position dossier) and g65 (the dossier
    * DELTA between positions) build the SAME rows; the composition
    * notes live on the g62 entry, the scan contract (4 lineitem scans,
    * dates and sections add zero) is plan-pinned via g62.
    */
  private def dossierAsOfRows(s: SparkSession, d: String): DataFrame = {
    val t = Tables(s, d)
    val dates = Seq(1996, 2001).map(y => s"$y-12-31 23:59:59")
    def asOf(ds: String) = lit(ds).cast("timestamp_ntz")
    // the dated supplied layer feeds THREE consumers (ownership layer,
    // part concentration, seed-part linkage) — materialize it so the
    // lineitem scan behind it happens once, keeping the g56 scan
    // contract (dates AND sections add zero scans; plan-pinned)
    val Seq(supplied0, contains, placed) = datedUboLayers(t, dates)
    val supplied = supplied0.transform(Materialize.apply)
    def rev(df: DataFrame) = df.select(col("as_of"),
      col("dst").as("src"), col("src").as("dst"), col("weight"))
    val seeds = s.range(1, 3)
      .select((lit(GraphBuilder.SupplierBase) + col("id")).as("owner"))
    val dateDf = dates.map(ds => s.range(1).select(asOf(ds).as("as_of")))
      .reduce(_.unionByName(_))
    // step 1 = identity on the reversed dated supplied layer at the 2
    // seeds (Ubo.seedStep on a dated layer — bit-identical, one join+agg
    // elided; r17)
    val s1 = Ubo.seedStep(rev(supplied),
      col("src").between(GraphBuilder.SupplierBase + 1L, GraphBuilder.SupplierBase + 2L))
    val cones = Ubo.propagateLayers(Seq(rev(contains), rev(placed)), s1,
        materializeLayers = false)
      .select(col("as_of"), col("owner").as("supplier"), col("entity").as("holder"),
              round(col("share"), 6).as("share6"))
    val w = Window.partitionBy("as_of", "supplier")
      .orderBy(col("share6").desc, col("holder"))
    val custNames = t.customer.select(
      (lit(GraphBuilder.CustomerBase) + col("c_custkey")).as("holder"),
      col("c_name").as("cname"))
    val ownerRows = cones.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .join(broadcast(custNames), Seq("holder"))
      .select(col("as_of"), col("supplier"), lit("owner").as("section"),
              col("holder").as("key"), col("cname").as("detail"),
              col("share6").as("score"))
    val pAgg = supplied.groupBy(col("as_of"), col("src").as("pid"))
      .agg(count(lit(1)).as("n"), max(col("weight")).as("mx"))
      .withColumn("ratio", col("mx") * col("n"))
    val seedParts = supplied
      .join(broadcast(seeds.withColumnRenamed("owner", "supplier")),
            col("dst") === col("supplier"))
      .select(col("as_of"), col("supplier"), col("src").as("pid")).distinct()
    val riskRows = seedParts.join(pAgg, Seq("as_of", "pid"))
      .filter(col("ratio") >= 2.5)
      .select(col("as_of"), col("supplier"), lit("risk_part").as("section"),
              col("pid").as("key"),
              when(col("ratio") >= 3.0, lit("dominant_supplier,highly_concentrated"))
                .otherwise(lit("dominant_supplier")).as("detail"),
              round(col("ratio"), 6).as("score"))
    // the ego section needs the FULL graph (its CONTAINS/SUPPLIED_BY
    // edges also derive from lineitem); materialize the build so the
    // traversal and the induced-edge join read one edge table, not two
    // fresh lineitem scans each (plan-pinned: 4 lineitem scans total —
    // 2 dated layers + 2 edge-union branches — however many dates)
    val g = GraphBuilder.edges(t).transform(Materialize.apply)
    val sy = seeds.crossJoin(dateDf).select(col("owner").as("seed"), col("as_of"))
    val mem = Traversals.egoMembers(g, sy, 2).transform(Materialize.apply)
    val egoNodeRows = mem.groupBy(col("seed"), col("as_of"))
      .agg(count(lit(1)).cast("double").as("score"))
      .select(col("as_of"), col("seed").as("supplier"), lit("ego_nodes").as("section"),
              lit(0L).as("key"), lit("nodes").as("detail"), col("score"))
    val egoEdgeRows = Traversals.inducedEdges(g, mem)
      .groupBy(col("seed"), col("as_of"), col("rel_type"))
      .agg(count(lit(1)).cast("double").as("score"))
      .select(col("as_of"), col("seed").as("supplier"), lit("ego_edges").as("section"),
              lit(0L).as("key"), col("rel_type").as("detail"), col("score"))
    ownerRows.unionByName(riskRows).unionByName(egoNodeRows).unionByName(egoEdgeRows)
  }

  /** g65's delta classifier over two dossier frames (VERDICT r12 #2 —
    * extracted so DossierDeltaSpec grades the semantics on a hand
    * fixture): full-outer self-diff of `rows` (the dossierAsOfRows
    * shape: as_of, supplier, section, key, detail, score) between the
    * frames at `yearA` and `yearB`, classified per row identity into
    * added / removed / changed / unchanged and aggregated to
    * per-(supplier, section, status) counts with a deterministic
    * min-key witness.
    *
    * Row identity is (supplier, section, key) with detail FOLDED IN for
    * the ego sections (their key is the section constant; the rel_type
    * IS the identity — so an ego row whose detail differs across frames
    * is a removed+added pair, never "changed"). "changed" = same
    * identity, different detail or score, compared NULL-SAFELY (`<=>`):
    * a detail that goes null→value or value→null IS a change — the
    * plain `=!=` would three-valued-logic it into "unchanged" (the
    * VERDICT r12 #2 3VL edge; graded data is null-free so the graded
    * hash is unaffected, the spec pins the fixture edge).
    *
    * Scale shape: the diff adds ZERO scans on top of the materialized
    * rows it is handed (one shuffle on the identity key for the
    * full-outer join, one partial-agg'd groupBy); at 100 TB the frames
    * are per-(watched-entity, date) dossier tables — bounded by the
    * watchlist, not the corpus.
    */
  private[graft] def dossierDelta(rows: DataFrame, yearA: Int, yearB: Int): DataFrame = {
    def side(y: Int, suffix: String) = rows
      .filter(year(col("as_of")) === y)
      .select(col("supplier"), col("section"), col("key"),
              when(col("section").startsWith("ego"), col("detail"))
                .otherwise(lit("")).as("ident"),
              col("detail").as("detail" + suffix),
              col("score").as("score" + suffix),
              lit(1).as("in" + suffix))
    val j = side(yearA, "_a").join(side(yearB, "_b"),
      Seq("supplier", "section", "key", "ident"), "full_outer")
    j.withColumn("status",
        when(col("in_a").isNull, lit("added"))
          .when(col("in_b").isNull, lit("removed"))
          .when(not(col("detail_a") <=> col("detail_b")) ||
                not(col("score_a") <=> col("score_b")), lit("changed"))
          .otherwise(lit("unchanged")))
      .groupBy("supplier", "section", "status")
      .agg(count(lit(1)).as("n"), min(col("key")).as("sample_key"))
      .orderBy("supplier", "section", "status")
  }

  /** g07_cc_full's order-contracted edge list (see the entry's comment for
    * the contraction proof). */
  private def ccFullContractedEdges(s: SparkSession, d: String): DataFrame = {
    val t = Tables(s, d)
    val custOrder = t.orders.select(
      (lit(GraphBuilder.CustomerBase) + col("o_custkey")).as("cust"),
      (lit(GraphBuilder.OrderBase) + col("o_orderkey")).as("order"))
    val custPart = custOrder.join(
        t.lineitem.select((lit(GraphBuilder.OrderBase) + col("l_orderkey")).as("order"),
                          (lit(GraphBuilder.PartBase) + col("l_partkey")).as("part")),
        "order")
      .select(col("cust").as("src"), col("part").as("dst"))
    val rest = GraphBuilder.edges(t)
      .filter(!col("rel_type").isin("PLACED", "CONTAINS"))
      .select(col("src"), col("dst"))
    custPart.unionByName(rest)
  }

  private val entries: Seq[E] = Seq(

    // S2 — node scan by label (Cypher `MATCH (n:supplier)`, README.md:25):
    // label filter over the unified node table.
    E("g00_node_scan", (s, d) => {
      GraphBuilder.nodes(Tables(s, d))
        .filter(col("label") === "supplier")
        .select(col("id"), col("name"))
        .orderBy("id")
    }, Some(s"""
      WITH $nodesCte
      SELECT id, name FROM graph_nodes WHERE label = 'supplier' ORDER BY id""")),

    // G1 — 1-hop expand: entity -> located-in neighbor, with neighbor name
    // (Cypher `MATCH (a)-[:LOCATED_IN]->(b)`, README.md:25).
    E("g01_expand_1hop", (s, d) => {
      val g = GraphBuilder(Tables(s, d))
      g.edgesOf("LOCATED_IN")
        .join(g.nodes.withColumnRenamed("id", "nid"), col("dst") === col("nid"))
        .select(col("src"), col("dst"), col("name").as("dst_name"))
        .orderBy("src", "dst")
    }, Some(s"""
      WITH $edgesCte, $nodesCte
      SELECT e.src, e.dst, n.name AS dst_name
      FROM graph_edges e JOIN graph_nodes n ON e.dst = n.id
      WHERE e.rel_type = 'LOCATED_IN'
      ORDER BY src, dst""")),

    // G2 — k-hop traversal ("Navigate N-tier ownership structures",
    // README.md:11): min-depth reachability within 3 forward hops from all
    // entities located in nation 0. Driver-side BFS loop in Spark; depth-
    // capped recursive CTE in DuckDB with MIN(depth) (SURVEY §5.3 rule 5).
    E("g02_khop", (s, d) => {
      val g = GraphBuilder(Tables(s, d))
      val start = g.edgesOf("LOCATED_IN")
        .filter(col("dst") === GraphBuilder.NationBase)
        .select(col("src").as("id"))
      Traversals.kHop(g.edges, start, 3)
        .orderBy("id")
    }, Some(s"""
      WITH RECURSIVE $edgesCte,
      start_nodes AS (
        SELECT src AS id FROM graph_edges WHERE rel_type = 'LOCATED_IN' AND dst = 2000000000),
      reach(id, depth) AS (
        SELECT id, CAST(0 AS BIGINT) FROM start_nodes
        UNION ALL
        SELECT e.dst, r.depth + 1 FROM reach r JOIN graph_edges e ON e.src = r.id
        WHERE r.depth < 3)
      SELECT id, MIN(depth) AS depth FROM reach GROUP BY id ORDER BY id""")),

    // G2+G12 — temporal traversal composition: reachability over the graph
    // AS OF 1997-01-01 (time-slider × N-tier navigation, README.md:11,17).
    // The snapshot predicate is applied before the BFS, so it prunes at the
    // edge scan rather than filtering traversal output.
    E("g02_khop_asof", (s, d) => {
      val g = GraphBuilder(Tables(s, d))
        .snapshot(lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
      val start = g.edgesOf("LOCATED_IN")
        .filter(col("dst") === GraphBuilder.NationBase)
        .select(col("src").as("id"))
      Traversals.kHop(g.edges, start, 3)
        .orderBy("id")
    }, Some(s"""
      WITH RECURSIVE $edgesCte,
      snap AS (SELECT * FROM graph_edges
               WHERE valid_from IS NULL OR valid_from <= TIMESTAMP '1997-01-01 00:00:00'),
      start_nodes AS (
        SELECT src AS id FROM snap WHERE rel_type = 'LOCATED_IN' AND dst = 2000000000),
      reach(id, depth) AS (
        SELECT id, CAST(0 AS BIGINT) FROM start_nodes
        UNION ALL
        SELECT e.dst, r.depth + 1 FROM reach r JOIN snap e ON e.src = r.id
        WHERE r.depth < 3)
      SELECT id, MIN(depth) AS depth FROM reach GROUP BY id ORDER BY id""")),

    // G34 — time-RESPECTING reachability (temporal-network paths, Holme &
    // Saramäki 2012; Kempe/Kleinberg/Kumar 2002): earliest arrival within
    // 3 hops over the DATED edges, where each successive edge must fire no
    // earlier than the path's arrival so far (valid_from monotone — the
    // way influence/funds/information actually propagate). The temporal
    // complement of g02_khop_asof: a SNAPSHOT asks "what is connected as
    // of T"; this asks "what could the seed set have REACHED through
    // time-ordered steps" — a snapshot overstates reach whenever a path
    // uses an edge that predates the hop before it. Earliest-arrival
    // dominance (expanding from the min arrival admits a superset of
    // continuations) makes per-node min state sufficient, so each of the
    // 3 unrolled rounds is one join + one min-agg — the SSSP relaxation
    // shape, state one (node, timestamp) row, no path enumeration.
    E("g34_temporal_reach", (s, d) => {
      val g = GraphBuilder(Tables(s, d))
      val dated = g.edges.filter(col("valid_from").isNotNull)
        .select(col("src"), col("dst"), col("valid_from"))
        .transform(Materialize.apply)
      var ea = g.edgesOf("LOCATED_IN")
        .filter(col("dst") === GraphBuilder.NationBase)
        .select(col("src").as("id"))
        .withColumn("arrival", lit("1990-01-01 00:00:00").cast("timestamp_ntz"))
      for (_ <- 1 to 3) {
        val nxt = dated
          .join(ea.select(col("id").as("src"), col("arrival")), "src")
          .filter(col("valid_from") >= col("arrival"))
          .groupBy(col("dst").as("id")).agg(min(col("valid_from")).as("arrival"))
        ea = ea.unionByName(nxt)
          .groupBy("id").agg(min(col("arrival")).as("arrival"))
      }
      ea.select(col("id"), col("arrival").as("earliest_arrival"))
        .orderBy("id")
    }, Some(s"""
      WITH $edgesCte,
      dated AS MATERIALIZED (SELECT src, dst, valid_from FROM graph_edges
                             WHERE valid_from IS NOT NULL),
      ea0 AS (SELECT src AS id, TIMESTAMP '1990-01-01 00:00:00' AS arrival
              FROM graph_edges WHERE rel_type = 'LOCATED_IN' AND dst = 2000000000),
      ea1 AS (SELECT id, MIN(arrival) AS arrival FROM (
                SELECT id, arrival FROM ea0
                UNION ALL
                SELECT e.dst AS id, e.valid_from AS arrival
                FROM dated e JOIN ea0 p ON e.src = p.id AND e.valid_from >= p.arrival
              ) GROUP BY id),
      ea2 AS (SELECT id, MIN(arrival) AS arrival FROM (
                SELECT id, arrival FROM ea1
                UNION ALL
                SELECT e.dst AS id, e.valid_from AS arrival
                FROM dated e JOIN ea1 p ON e.src = p.id AND e.valid_from >= p.arrival
              ) GROUP BY id),
      ea3 AS (SELECT id, MIN(arrival) AS arrival FROM (
                SELECT id, arrival FROM ea2
                UNION ALL
                SELECT e.dst AS id, e.valid_from AS arrival
                FROM dated e JOIN ea2 p ON e.src = p.id AND e.valid_from >= p.arrival
              ) GROUP BY id)
      SELECT id, arrival AS earliest_arrival FROM ea3 ORDER BY id""")),

    // G35 — temporal relay motifs (Paranjape/Benson/Leskovec 2017, "Motifs
    // in Temporal Networks": the Δ-windowed 2-path, the primitive every
    // temporal motif builds on): per middle user v, count (u→v at t1,
    // v→w at t2) with t1 ≤ t2 ≤ t1+1h and u ≠ w — v RECEIVED an
    // interaction then INITIATED one within the window, the pass-through
    // signature behind layering/relay detection that g08's static degree
    // and g34's reachability both miss. One equi-join on the middle node
    // with the window as a residual range predicate; candidates are
    // 2-paths (never all pairs), and the per-v fan-out is the same
    // supernode profile the AQE skew split / rel/Skew.saltedJoin pattern
    // covers. At 100 TB the standard refinement is Δ-width time bucketing
    // (join adjacent buckets only) — unnecessary at graded sizes, the
    // equi-join keys already bound candidates. Counts are exact integers.
    E("g35_temporal_motif", (s, d) => {
      val e = GraphBuilder(Tables(s, d)).edgesOf("INTERACTED")
        .select(col("src"), col("dst"), col("valid_from").as("ts"))
        .transform(Materialize.apply)
      val a = e.select(col("src").as("u"), col("dst").as("v"), col("ts").as("t1"))
      val b = e.select(col("src").as("v"), col("dst").as("w"), col("ts").as("t2"))
      a.join(b, "v")
        .filter(col("t2") >= col("t1") &&
                col("t2") <= col("t1") + expr("INTERVAL 1 HOUR") &&
                col("u") =!= col("w"))
        .groupBy(col("v").as("id"))
        .agg(count(lit(1)).as("n_relays"),
             countDistinct(col("u"), col("w")).as("n_pairs"))
        .orderBy("id")
    }, Some(s"""
      WITH raw AS (SELECT user_id, ts, event_id,
                          LAG(user_id) OVER (ORDER BY ts, event_id) AS prev
                   FROM events),
      e AS (SELECT 7000000000 + prev AS src, 7000000000 + user_id AS dst, ts
            FROM raw WHERE prev IS NOT NULL AND prev <> user_id)
      SELECT a.dst AS id, COUNT(*) AS n_relays,
             COUNT(DISTINCT (a.src, b.dst)) AS n_pairs
      FROM e a JOIN e b ON b.src = a.dst
      WHERE b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        AND a.src <> b.dst
      GROUP BY 1 ORDER BY id""")),

    // G36 — dated supply chain THROUGH THE GENERAL PATTERN API
    // (graph/Motif.scala — the Cypher-style chain the reference's Neo4j
    // stack implies, README.md:25): customer -PLACED-> order -CONTAINS->
    // part -SUPPLIED_BY-> supplier, each hop's edge dated no earlier than
    // the previous (order date ≤ the order-part's first ship date ≤ the
    // part-supplier relationship's first ship date) — a time-respecting
    // 3-hop chain, aggregated to (customer, supplier) with chain and
    // distinct-part counts. The motif lowers to exactly the 3-join chain
    // the mirror spells out; MotifSpec additionally proves the SAME API
    // call reproduces g11 and g35 verbatim. Scale shape: one equi-join
    // per hop on node ids, label constraint as a broadcast semi-join,
    // temporal predicates residual — k hops = k shuffles, no new
    // primitive beyond what the hand-built chains already cost.
    E("g36_motif_supply_chain", (s, d) => {
      val g = GraphBuilder(Tables(s, d))
      Motif.find(g, Motif("cust", Some("customer"), Seq(
          Hop("ord", relType = Some("PLACED")),
          Hop("part", relType = Some("CONTAINS"), timeOrdered = true),
          Hop("supp", relType = Some("SUPPLIED_BY"), timeOrdered = true))))
        .groupBy(col("cust"), col("supp"))
        .agg(count(lit(1)).as("n_chains"), countDistinct(col("part")).as("n_parts"))
        .filter(col("n_chains") >= 3)
        .orderBy(col("cust"), col("supp"))
    }, Some(s"""
      WITH $edgesCte
      SELECT p.src AS cust, sb.dst AS supp, COUNT(*) AS n_chains,
             COUNT(DISTINCT c.dst) AS n_parts
      FROM graph_edges p
      JOIN graph_edges c ON c.rel_type = 'CONTAINS' AND c.src = p.dst
                        AND c.valid_from >= p.valid_from
      JOIN graph_edges sb ON sb.rel_type = 'SUPPLIED_BY' AND sb.src = c.dst
                         AND sb.valid_from >= c.valid_from
      WHERE p.rel_type = 'PLACED'
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
      ORDER BY cust, supp""")),

    // G37 — VARIABLE-LENGTH pattern hop through the same API (Cypher
    // `-[:INTERACTED*1..2]->`, the reference's Neo4j stack again,
    // README.md:25): time-respecting influence reach — users reachable
    // in 1 to 2 INTERACTED edges where each consecutive edge fires
    // within [0, 1 hour] of the previous (g34's time-respecting rule as
    // a PATTERN ELEMENT; intermediates anonymous, walk semantics). Per
    // source: walk count and distinct reached users. The var-hop lowers
    // to the fixed chain UNION ALL its 2-edge extension — exactly what
    // the mirror spells out — so at 100 TB it costs hi equi-joins on
    // node ids, never a recursive operator. MotifSpec proves the var-hop
    // equals the union of the fixed 1-hop and 2-hop motifs row for row.
    E("g37_motif_var_reach", (s, d) => {
      val g = GraphBuilder(Tables(s, d))
      Motif.find(g, Motif("u", None, Seq(
          Hop("w", relType = Some("INTERACTED"), timeOrdered = true,
              maxDelay = Some("1 HOUR"), repeat = Some((1, 2)))),
        notEqual = Seq(("u", "w"))))
        .groupBy(col("u").as("id"))
        .agg(count(lit(1)).as("n_walks"), countDistinct(col("w")).as("n_reached"))
        .orderBy("id")
    }, Some(s"""
      WITH $edgesCte,
      e AS (SELECT src, dst, valid_from AS ts FROM graph_edges
            WHERE rel_type = 'INTERACTED'),
      walks AS (
        SELECT src AS u, dst AS w FROM e
        UNION ALL
        SELECT a.src, b.dst FROM e a JOIN e b ON b.src = a.dst
        WHERE b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR)
      SELECT u AS id, COUNT(*) AS n_walks, COUNT(DISTINCT w) AS n_reached
      FROM walks WHERE u <> w
      GROUP BY 1 ORDER BY id""")),

    // G38 — TRAIL-SEMANTICS variable-length hop (VERDICT r8 #1): the same
    // time-respecting reach as g37 but one hop deeper (1..3) and with
    // Cypher-style uniqueness ON (`unique = true` — node-trail: entry,
    // intermediates, terminal pairwise distinct). On this cyclic user
    // graph walks overcount reach (a 3-walk may bounce a->b->a->c); the
    // trail guard prunes revisits level by level, which is also the SCALE
    // story: on cyclic graphs the guard SHRINKS each level's frontier
    // where walk semantics multiplies it. The mirror spells out exactly
    // the unrolled pairwise-<> guard joins the array-accumulator lowers
    // to; MotifSpec additionally proves walk vs trail counts differ on a
    // cyclic fixture and that trail matches the hand-unrolled guard join.
    E("g38_motif_trail_reach", (s, d) => {
      val g = GraphBuilder(Tables(s, d))
      Motif.find(g, Motif("u", None, Seq(
          Hop("w", relType = Some("INTERACTED"), timeOrdered = true,
              maxDelay = Some("1 HOUR"), repeat = Some((1, 3)), unique = true))))
        .groupBy(col("u").as("id"))
        .agg(count(lit(1)).as("n_trails"), countDistinct(col("w")).as("n_reached"))
        .orderBy("id")
    }, Some(s"""
      WITH $edgesCte,
      e AS (SELECT src, dst, valid_from AS ts FROM graph_edges
            WHERE rel_type = 'INTERACTED'),
      t1 AS (SELECT src AS u, dst AS w, ts FROM e WHERE dst <> src),
      t2 AS (SELECT a.u, b.dst AS w, b.ts, a.w AS v1
             FROM t1 a JOIN e b ON b.src = a.w
             WHERE b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
               AND b.dst <> a.u AND b.dst <> a.w),
      t3 AS (SELECT a.u, c.dst AS w
             FROM t2 a JOIN e c ON c.src = a.w
             WHERE c.ts >= a.ts AND c.ts <= a.ts + INTERVAL 1 HOUR
               AND c.dst <> a.u AND c.dst <> a.v1 AND c.dst <> a.w),
      trails AS (SELECT u, w FROM t1 UNION ALL SELECT u, w FROM t2
                 UNION ALL SELECT u, w FROM t3)
      SELECT u AS id, COUNT(*) AS n_trails, COUNT(DISTINCT w) AS n_reached
      FROM trails GROUP BY 1 ORDER BY id""")),

    // G8 — degree centrality (NetworkX "centrality", README.md:28)
    E("g08_degree", (s, d) => {
      val e = GraphBuilder.edges(Tables(s, d))
      val out = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))
      val in = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))
      out.join(in, Seq("id"), "full_outer")
        .na.fill(0L, Seq("out_deg", "in_deg"))
        .withColumn("total_deg", col("out_deg") + col("in_deg"))
        .orderBy("id")
    }, Some(s"""
      WITH $edgesCte,
      o AS (SELECT src AS id, COUNT(*) AS out_deg FROM graph_edges GROUP BY 1),
      i AS (SELECT dst AS id, COUNT(*) AS in_deg FROM graph_edges GROUP BY 1)
      SELECT COALESCE(o.id, i.id) AS id,
             COALESCE(out_deg, 0) AS out_deg, COALESCE(in_deg, 0) AS in_deg,
             COALESCE(out_deg, 0) + COALESCE(in_deg, 0) AS total_deg
      FROM o FULL OUTER JOIN i ON o.id = i.id ORDER BY id""")),

    // G11 — shared-attribute conflict join (reference: "shared directors,
    // common registered addresses", README.md:15). Here: customer pairs
    // linked by ordering the same part — scan → join → self-join → agg → sort.
    // Scale note: the self-join fans out per-part; part fan-out is bounded
    // (~30 distinct customers per part at every sf), unlike supplier fan-out
    // which would explode — at 100 TB, pick the bounded attribute or cap
    // per-attribute fan-out before the pair join.
    E("g11_conflict_shared_part", (s, d) => {
      val t = Tables(s, d)
      val cp = t.orders.join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("custkey"), col("l_partkey").as("partkey"))
        .distinct()
      val a = cp.select(col("custkey").as("cust_a"), col("partkey"))
      val b = cp.select(col("custkey").as("cust_b"), col("partkey"))
      a.join(b, Seq("partkey"))
        .filter(col("cust_a") < col("cust_b"))
        .groupBy(col("cust_a"), col("cust_b"))
        .agg(count(lit(1)).as("shared_parts"))
        .filter(col("shared_parts") >= 2)
        .orderBy(col("shared_parts").desc, col("cust_a"), col("cust_b"))
    }, Some("""
      WITH cp AS (
        SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
      SELECT a.custkey AS cust_a, b.custkey AS cust_b, COUNT(*) AS shared_parts
      FROM cp a JOIN cp b ON a.partkey = b.partkey AND a.custkey < b.custkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
      ORDER BY shared_parts DESC, cust_a, cust_b""")),

    // G3 — UBO computation (README.md:13): total customer→supplier exposure
    // over the normalized 3-layer ownership DAG — multiply weights along each
    // path, sum over parallel paths (matrix-power propagation, 3 steps).
    E("g03_ubo_exposure", (s, d) => {
      uboCustomerSupplier(s, d)
        .select(col("owner"), col("entity").as("supplier"), round(col("share"), 6).as("exposure"))
        .filter(col("exposure") >= 0.01)
        .orderBy("owner", "supplier")
    }, Some(s"""
      WITH $uboCustomerSupplierSql
      SELECT owner, entity AS supplier, ROUND(share, 6) AS exposure
      FROM s3 WHERE ROUND(share, 6) >= 0.01
      ORDER BY owner, supplier""")),

    // G3c — UBO threshold flag (README.md:13's UBO convention): owners whose
    // propagated share into an entity clears a declared threshold — the
    // "beneficial owner" list a compliance user actually reads off the
    // propagation. The regulatory 25% convention itself is exercised by
    // UboSpec on a concentrated ownership fixture (a ≥25% owner exists by
    // construction); the GRADED threshold is data-calibrated to 5% because
    // this synthetic feed's 3-layer propagation is diffuse (max share ≈
    // 0.089 at sf0.01) and a 25% gate would pass vacuously on empty output
    // at every graded scale. Same shared propagation as g03_ubo_exposure;
    // the filter on the ROUNDED share keeps the float-order-dependent
    // boundary deterministic in both engines.
    E("g03_ubo_owners", (s, d) => {
      uboCustomerSupplier(s, d)
        .select(col("owner"), col("entity").as("supplier"), round(col("share"), 6).as("share6"))
        .filter(col("share6") >= 0.05)
        .orderBy("owner", "supplier")
    }, Some(s"""
      WITH $uboCustomerSupplierSql
      SELECT owner, entity AS supplier, ROUND(share, 6) AS share6
      FROM s3 WHERE ROUND(share, 6) >= 0.05
      ORDER BY owner, supplier""")),

    // G3b — depth-capped propagation on a CYCLIC graph ("circular ownership
    // loops", README.md:15): 4 bounded steps over the INTERACTED user graph.
    // Owner set bounded to 100 users: UBO on a cyclic graph is a per-owner
    // drill-down at scale — propagating ALL owners over a fast-mixing graph
    // is dense |owners|×|entities| state by step 2 (measured 30 s at sf0.1).
    // Bounded owners + per-step epsilon pruning is the documented contract.
    E("g03_ubo_cyclic", (s, d) => {
      // materialized once, probed 4× (seed slice + 3 propagation steps) —
      // the same checkpoint propagate() itself used to take. Step 1 is the
      // identity on the seed slice (Ubo.seedStep — bit-identical, one
      // join+agg step elided; r17), so 4 bounded steps cost 3 joins.
      val e = Ubo.interactedWeighted(Tables(s, d)).transform(Materialize.apply)
      val s1 = Ubo.seedStep(e, col("src") < GraphBuilder.UserBase + 100L,
        epsilon = Some(1e-4))
      Ubo.propagateLayers(Seq.fill(3)(e), s1, epsilon = Some(1e-4),
          materializeLayers = false)
        .select(col("owner"), col("entity"), round(col("share"), 6).as("share6"))
        .filter(col("share6") >= 0.001)
        .orderBy("owner", "entity")
    }, Some(s"""
      WITH ${UboSql.interactedWeightedCte},
      s0 AS (SELECT DISTINCT src AS owner, src AS entity, CAST(1.0 AS DOUBLE) AS share
             FROM ie_edges WHERE src < 7000000100),
      ${UboSql.step("s0", "s1", "ie_edges", Some(1e-4))},
      ${UboSql.step("s1", "s2", "ie_edges", Some(1e-4))},
      ${UboSql.step("s2", "s3", "ie_edges", Some(1e-4))},
      ${UboSql.step("s3", "s4", "ie_edges", Some(1e-4))}
      SELECT owner, entity, ROUND(share, 6) AS share6
      FROM s4 WHERE ROUND(share, 6) >= 0.001
      ORDER BY owner, entity""")),

    // G39 — STRONGEST ownership chain (VERDICT r8 #2; README.md:11,13 —
    // showing *the* chain behind a UBO figure): per (owner, target) the
    // max-product path ≤ 4 hops over the same cyclic out-normalized user
    // graph as g03_ubo_cyclic, with the argmax chain reconstructed as a
    // '->'-joined id string and its hop count. g03 answers "how much does
    // X control Y" (sum over paths); g39 answers "through WHICH chain"
    // (argmax path) — the Viterbi twin of the same unrolled propagation,
    // state capped at |owners| × |nodes| by the per-step argmax prune
    // (Ubo.strongestChain). Same bounded-owner drill-down contract; the
    // ranked tie order (share DESC, chain ASC) is mirrored exactly, so
    // the chain column hash-checks, not just the share. The filter on the
    // ROUNDED strength keeps the boundary deterministic in both engines.
    E("g39_strongest_chain", (s, d) => {
      val e = Ubo.interactedWeighted(Tables(s, d))
      val owners = e.filter(col("src") < GraphBuilder.UserBase + 100L)
        .select(col("src").as("owner"))
      Ubo.strongestChain(e, owners, maxHops = 4)
        .select(col("owner"), col("entity").as("target"),
                round(col("share"), 6).as("strength"), col("chain"), col("hops"))
        .filter(col("strength") >= 0.000001)
        .orderBy("owner", "target")
    }, Some(s"""
      WITH ${UboSql.interactedWeightedCte},
      c0 AS (SELECT DISTINCT src AS owner, src AS entity, CAST(1.0 AS DOUBLE) AS share,
                    CAST(src AS VARCHAR) AS chain
             FROM ie_edges WHERE src < 7000000100),
      ${UboSql.chainStep("c0", "c1", "ie_edges")},
      ${UboSql.chainStep("c1", "c2", "ie_edges")},
      ${UboSql.chainStep("c2", "c3", "ie_edges")},
      ${UboSql.chainStep("c3", "c4", "ie_edges")},
      allc AS (SELECT owner, entity, share, chain, 1 AS hops FROM c1
               UNION ALL SELECT owner, entity, share, chain, 2 FROM c2
               UNION ALL SELECT owner, entity, share, chain, 3 FROM c3
               UNION ALL SELECT owner, entity, share, chain, 4 FROM c4),
      best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY owner, entity
                                            ORDER BY share DESC, chain) AS rn
               FROM allc)
      SELECT owner, entity AS target, ROUND(share, 6) AS strength, chain, hops
      FROM best WHERE rn = 1 AND ROUND(share, 6) >= 0.000001
      ORDER BY owner, target""")),

    // G40 — threshold ownership chains (the regulatory chain test: X
    // beneficially controls Y when a control chain links them with EVERY
    // link at or above a disclosure threshold — FATF/AMLD grade at 25%,
    // the SEC 13D disclosure analog at 5%; this corpus's out-normalized
    // shares dilute with sf, so the graded knob is 5% to keep every scale
    // factor non-empty, and 0.25 is the same one-parameter call).
    // Rendered through the general pattern API: a variable-length trail
    // hop whose edgeFilter prunes sub-threshold links BEFORE each join
    // (Hop.edgeFilter), with emitWeights carrying the chain's bottleneck
    // (weakest-link) share. The per-level filter is the scale property:
    // the threshold kills ~all of the out-normalized edge mass before any
    // join (97.7k → 3 edges at sf0.1), so the trail expansion runs on a
    // tiny filtered subgraph instead of enumerating paths and
    // post-filtering — at 100 TB that is the difference between a
    // constant-size frontier and a path explosion.
    E("g40_threshold_chain", (s, d) => {
      val t = Tables(s, d)
      val gb = GraphBuilder(t)
      val e = Ubo.interactedWeighted(t)
        .select(col("src"), col("dst"), lit("OWNS").as("rel_type"),
                col("weight"), lit(null).cast("timestamp_ntz").as("valid_from"))
      Motif.find(PropertyGraph(gb.nodes, e), Motif("o", None, Seq(
          Hop("n", relType = Some("OWNS"), repeat = Some((1, 3)), unique = true,
              edgeFilter = Some(col("weight") >= 0.05))), emitWeights = true))
        .groupBy(col("o").as("id"))
        .agg(count(lit(1)).as("n_chains"), countDistinct(col("n")).as("n_reached"),
             round(max(col("w1")), 6).as("best_bottleneck"))
        .orderBy("id")
    }, Some(s"""
      WITH ${UboSql.interactedWeightedCte},
      e AS (SELECT src, dst, weight FROM ie_edges WHERE weight >= 0.05),
      t1 AS (SELECT src AS o, dst AS n, weight AS bw FROM e WHERE dst <> src),
      t2 AS (SELECT a.o, b.dst AS n, LEAST(a.bw, b.weight) AS bw, a.n AS v1
             FROM t1 a JOIN e b ON b.src = a.n
             WHERE b.dst <> a.o AND b.dst <> a.n),
      t3 AS (SELECT a.o, c.dst AS n, LEAST(a.bw, c.weight) AS bw
             FROM t2 a JOIN e c ON c.src = a.n
             WHERE c.dst <> a.o AND c.dst <> a.v1 AND c.dst <> a.n),
      ch AS (SELECT o, n, bw FROM t1 UNION ALL SELECT o, n, bw FROM t2
             UNION ALL SELECT o, n, bw FROM t3)
      SELECT o AS id, COUNT(*) AS n_chains, COUNT(DISTINCT n) AS n_reached,
             ROUND(MAX(bw), 6) AS best_bottleneck
      FROM ch GROUP BY 1 ORDER BY id""")),

    // G41 — OPTIONAL MATCH through the pattern API (Cypher
    // `MATCH (o:order)-[:CONTAINS]->(p) OPTIONAL MATCH
    // (p)-[sb:SUPPLIED_BY WHERE sb.weight >= 0.5]->(s)`, the reference's
    // Neo4j stack, README.md:25): per part, how many orders contain it
    // and — if one exists — its DOMINANT supplier (share >= 0.5 of the
    // part's supplied quantity; at exactly 0.5 two suppliers can both
    // qualify and MAX picks the larger id, so this is "at least half",
    // not strict majority). Parts without a dominant supplier must SURVIVE
    // with a null supplier, which is precisely what OPTIONAL MATCH
    // (a left outer join) expresses and an inner pattern silently
    // drops — the audit question is "which parts LACK a dominant
    // supplier", so the preserved nulls are the signal. The optional hop
    // lowers to one LEFT join on the same node-id key (same single
    // shuffle as the inner form; the weight threshold is pushed into the
    // edge scan). MotifSpec proves the preserved-null semantics, the
    // inner-subset relation, and null propagation through later hops on
    // a hand-checkable fixture.
    E("g41_motif_optional", (s, d) => {
      val g = GraphBuilder(Tables(s, d))
      Motif.find(g, Motif("ord", Some("order"), Seq(
          Hop("part", relType = Some("CONTAINS")),
          Hop("supp", relType = Some("SUPPLIED_BY"), optional = true,
              edgeFilter = Some(col("weight") >= 0.5)))))
        .groupBy(col("part"))
        .agg(countDistinct(col("ord")).as("n_orders"),
             max(col("supp")).as("majority_supp"))
        .orderBy("part")
    }, Some(s"""
      WITH $edgesCte
      SELECT c.dst AS part, COUNT(DISTINCT c.src) AS n_orders,
             MAX(sb.dst) AS majority_supp
      FROM graph_edges c
      LEFT JOIN graph_edges sb
        ON sb.rel_type = 'SUPPLIED_BY' AND sb.src = c.dst AND sb.weight >= 0.5
      WHERE c.rel_type = 'CONTAINS'
      GROUP BY 1 ORDER BY part""")),

    // G42 — BRANCHING + CYCLE-CLOSING pattern (Cypher
    // `MATCH (a:customer)-[:LOCATED_IN]->(n), (a)-[:PLACED]->(o1)
    //  -[:CONTAINS]->(p)<-[:CONTAINS]-(o2)<-[:PLACED]-(b),
    //  (b)-[:LOCATED_IN]->(n)` — a non-linear pattern: the LOCATED_IN
    // hops BRANCH off a and b (`from`), and the last hop CLOSES back at
    // the bound n): g11's shared-part conflict narrowed to pairs in the
    // SAME jurisdiction — the compliance variant where co-located
    // conflicting buyers are the signal. The branch costs the same one
    // equi-join as a chain hop, and the closing condition is a residual
    // equality on the final join — a 6-hop tree+cycle pattern is 6
    // shuffles on node ids, nothing more. MotifSpec proves branch and
    // close each equal their hand-built join renderings.
    E("g42_motif_same_nation_conflict", (s, d) => {
      val g = GraphBuilder(Tables(s, d))
      Motif.find(g, Motif("a", Some("customer"), Seq(
          Hop("n", relType = Some("LOCATED_IN")),
          Hop("o1", relType = Some("PLACED"), from = Some("a")),
          Hop("p", relType = Some("CONTAINS")),
          Hop("o2", relType = Some("CONTAINS"), reversed = true),
          Hop("b", relType = Some("PLACED"), reversed = true),
          Hop("n", relType = Some("LOCATED_IN"), closes = true))))
        .filter(col("a") < col("b"))
        .groupBy(col("n"), col("a"), col("b"))
        .agg(countDistinct(col("p")).as("shared_parts"))
        .filter(col("shared_parts") >= 2)
        .orderBy(col("shared_parts").desc, col("n"), col("a"), col("b"))
    }, Some("""
      WITH cp AS (
        SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
      SELECT 2000000000 + CAST(ca.c_nationkey AS BIGINT) AS n, 3000000000 + a.custkey AS a,
             3000000000 + b.custkey AS b, COUNT(DISTINCT a.partkey) AS shared_parts
      FROM cp a JOIN cp b ON a.partkey = b.partkey AND a.custkey < b.custkey
      JOIN customer ca ON ca.c_custkey = a.custkey
      JOIN customer cb ON cb.c_custkey = b.custkey AND cb.c_nationkey = ca.c_nationkey
      GROUP BY 1, 2, 3 HAVING COUNT(DISTINCT a.partkey) >= 2
      ORDER BY shared_parts DESC, n, a, b""")),

    // G43 — circular ownership THROUGH THE PATTERN API (README.md:15
    // "circular ownership loops" as a Cypher pattern:
    // `(a)-[:OWNS]->(b)-[:OWNS]->(c)-[:OWNS]->(a)`): the 100 STRONGEST
    // 3-cycles on the normalized ownership graph, ranked by the cycle's
    // weakest link, one row per cycle (rotation-canonicalized: a is the
    // least node). g06 finds cyclic STRUCTURE via SCC; this enumerates
    // the exact loops with their shares — the audit-report form, and
    // top-k-by-strength stays audit-sized at any scale where an
    // absolute threshold would go empty or explode (measured: a 0.2
    // link threshold finds 6 cycles at sf0.001 and zero at sf0.01+ —
    // weights dilute as the graph grows). Self-loops cannot occur (the
    // edge layer drops them), so the three nodes are automatically
    // distinct. The closing hop is a residual equality on the third
    // equi-join, and the ranked truncation lowers to
    // TakeOrderedAndProject (per-partition top-k, then a k-row merge —
    // no global sort): 3 node-id shuffles, no enumeration beyond the
    // bounded pattern.
    E("g43_motif_ownership_cycle", (s, d) => {
      val t = Tables(s, d)
      val gb = GraphBuilder(t)
      val e = Ubo.interactedWeighted(t)
        .select(col("src"), col("dst"), lit("OWNS").as("rel_type"),
                col("weight"), lit(null).cast("timestamp_ntz").as("valid_from"))
      Motif.find(PropertyGraph(gb.nodes, e), Motif("a", None, Seq(
          Hop("b", relType = Some("OWNS")),
          Hop("c", relType = Some("OWNS")),
          Hop("a", relType = Some("OWNS"), closes = true)),
        emitWeights = true))
        .filter(col("a") < col("b") && col("a") < col("c"))
        .select(col("a"), col("b"), col("c"),
                round(least(col("w1"), col("w2"), col("w3")), 6).as("min_share"))
        .orderBy(col("min_share").desc, col("a"), col("b"), col("c"))
        .limit(100)
    }, Some(s"""
      WITH ${UboSql.interactedWeightedCte}
      SELECT x.src AS a, x.dst AS b, y.dst AS c,
             ROUND(LEAST(x.weight, y.weight, z.weight), 6) AS min_share
      FROM ie_edges x
      JOIN ie_edges y ON y.src = x.dst
      JOIN ie_edges z ON z.src = y.dst AND z.dst = x.src
      WHERE x.src < x.dst AND x.src < y.dst
      ORDER BY min_share DESC, a, b, c LIMIT 100""")),

    // G44 — Cypher-DEFAULT relationship uniqueness through the pattern
    // API (`MATCH (u)-[e1]-(v)-[e2]-(w)-[e3]-(x)` — Neo4j requires
    // e1, e2, e3 pairwise distinct; nodes may repeat): per user, the
    // 3-hop undirected contact walks over the strong (cnt ≥ 2)
    // interaction graph that reuse NO communication line — the
    // "distinct channels" rule an investigator applies (revisiting a
    // person is fine, re-walking the same line is not). Without
    // edgeUnique the count includes every immediate backtrack
    // (u-v-u-x over one edge twice), which at avg degree d̄ inflates
    // every count by Θ(d̄) spurious walks — the same-multiplicity gap
    // as walk-vs-trail, now at EDGE granularity. The uniqueness lowers
    // to residual pairwise filters after the same three equi-joins (no
    // extra shuffle; MotifSpec proves the multiplicities on a
    // hand-checkable path fixture and mirror-equality here).
    E("g44_motif_edge_unique_walks", (s, d) => {
      val t = Tables(s, d)
      val gb = GraphBuilder(t)
      val e = Ubo.interactedPairs(t).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"), lit("LINK").as("rel_type"),
                col("cnt").cast("double").as("weight"),
                lit(null).cast("timestamp_ntz").as("valid_from"))
      Motif.find(PropertyGraph(gb.nodes, e), Motif("u", None, Seq(
          Hop("v", relType = Some("LINK"), undirected = true),
          Hop("w", relType = Some("LINK"), undirected = true),
          Hop("x", relType = Some("LINK"), undirected = true)),
        edgeUnique = true))
        .groupBy(col("u").as("id"))
        .agg(count(lit(1)).as("n_walks"), countDistinct(col("x")).as("n_reached"))
        .orderBy("id")
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      strong AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      sym AS (SELECT src AS u, dst AS v, src AS es, dst AS ed FROM strong
              UNION ALL SELECT dst, src, src, dst FROM strong)
      SELECT a.u AS id, COUNT(*) AS n_walks, COUNT(DISTINCT c.v) AS n_reached
      FROM sym a
      JOIN sym b ON b.u = a.v AND NOT (b.es = a.es AND b.ed = a.ed)
      JOIN sym c ON c.u = b.v AND NOT (c.es = a.es AND c.ed = a.ed)
                              AND NOT (c.es = b.es AND c.ed = b.ed)
      GROUP BY 1 ORDER BY id""")),

    // G45 — ZERO-LENGTH variable hop (Cypher `-[:OWNS*0..2]->`): the
    // reflexive controlled group — per entity, itself plus everything
    // reachable through 1–2 strong (≥ 10%) ownership links, node-trail
    // semantics. `*0..` is how a hierarchy query says "X and its
    // descendants" in one pattern; entities with NO strong ownership
    // edges still appear with a group of one (the zero-length match),
    // which an absolute-join rendering silently drops — the same
    // preserved-row signal as OPTIONAL MATCH, here produced by the
    // repetition's lower bound. Zero-length rows carry null hop
    // time/weight (no edge traversed). Lowers to the same hi-bounded
    // unrolled equi-joins plus one union of the (label-filtered) node
    // set — no new shuffle shape.
    E("g45_motif_reflexive_group", (s, d) => {
      val t = Tables(s, d)
      val gb = GraphBuilder(t)
      val e = Ubo.interactedWeighted(t)
        .select(col("src"), col("dst"), lit("OWNS").as("rel_type"),
                col("weight"), lit(null).cast("timestamp_ntz").as("valid_from"))
      Motif.find(PropertyGraph(gb.nodes, e), Motif("u", Some("user"), Seq(
          Hop("w", relType = Some("OWNS"), repeat = Some((0, 2)), unique = true,
              edgeFilter = Some(col("weight") >= 0.1)))))
        .groupBy(col("u").as("id"))
        .agg(countDistinct(col("w")).as("n_group"))
        .orderBy("id")
    }, Some(s"""
      WITH $nodesCte, ${UboSql.interactedWeightedCte},
      e AS (SELECT src, dst, weight FROM ie_edges WHERE weight >= 0.1),
      u AS (SELECT id FROM graph_nodes WHERE label = 'user'),
      h1 AS (SELECT u.id, e.dst AS w FROM u JOIN e ON e.src = u.id
             WHERE e.dst <> u.id),
      h2 AS (SELECT h1.id, e2.dst AS w FROM h1 JOIN e e2 ON e2.src = h1.w
             WHERE e2.dst <> h1.id AND e2.dst <> h1.w),
      grp AS (SELECT id, id AS w FROM u
              UNION ALL SELECT id, w FROM h1
              UNION ALL SELECT id, w FROM h2)
      SELECT id, COUNT(DISTINCT w) AS n_group FROM grp GROUP BY 1 ORDER BY id""")),

    // G5 — simple-path enumeration ≤3 hops from customer #1 (the ownership
    // chains behind a UBO figure), with cycle guard.
    E("g05_path_enum", (s, d) => {
      val g = GraphBuilder(Tables(s, d))
      Traversals.simplePaths(g.edges, GraphBuilder.CustomerBase + 1L, 3)
        .orderBy("path_str", "depth")
    }, Some(s"""
      WITH RECURSIVE $edgesCte,
      paths(path_str, last, depth, visited) AS (
        SELECT CAST(3000000001 AS VARCHAR), CAST(3000000001 AS BIGINT), 0, [CAST(3000000001 AS BIGINT)]
        UNION ALL
        SELECT p.path_str || '->' || CAST(e.dst AS VARCHAR), e.dst, p.depth + 1,
               list_append(p.visited, e.dst)
        FROM paths p JOIN graph_edges e ON e.src = p.last
        WHERE p.depth < 3 AND NOT list_contains(p.visited, e.dst))
      SELECT path_str, depth FROM paths WHERE depth >= 1
      ORDER BY path_str, depth""")),

    // G6 — bounded cycle detection on the user graph (README.md:15):
    // directed 2- and 3-cycles over strong (multiplicity ≥2) edges,
    // canonicalized so n1 is the smallest node.
    E("g06_cycle_detect", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      val a = e2.select(col("src").as("a_src"), col("dst").as("a_dst"))
      val b = e2.select(col("src").as("b_src"), col("dst").as("b_dst"))
      val c = e2.select(col("src").as("c_src"), col("dst").as("c_dst"))
      val cyc2 = a.join(b, col("a_dst") === col("b_src") && col("b_dst") === col("a_src") &&
          col("a_src") < col("b_src"))
        .select(lit(2).as("len"), col("a_src").as("n1"), col("a_dst").as("n2"), lit(-1L).as("n3"))
      val cyc3 = a.join(b, col("a_dst") === col("b_src"))
        .join(c, col("b_dst") === col("c_src") && col("c_dst") === col("a_src"))
        .filter(col("a_src") < col("a_dst") && col("a_src") < col("b_dst") &&
          col("a_dst") =!= col("b_dst"))
        .select(lit(3).as("len"), col("a_src").as("n1"), col("a_dst").as("n2"), col("b_dst").as("n3"))
      cyc2.unionByName(cyc3).orderBy("len", "n1", "n2", "n3")
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      e AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2)
      SELECT 2 AS len, a.src AS n1, a.dst AS n2, CAST(-1 AS BIGINT) AS n3
      FROM e a JOIN e b ON a.dst = b.src AND b.dst = a.src AND a.src < b.src
      UNION ALL
      SELECT 3 AS len, a.src, a.dst, b.dst
      FROM e a JOIN e b ON a.dst = b.src JOIN e c ON b.dst = c.src AND c.dst = a.src
      WHERE a.src < a.dst AND a.src < b.dst AND a.dst <> b.dst
      ORDER BY len, n1, n2, n3""")),

    // G4 — shortest path, bounded weighted (Bellman-Ford, 4 relaxation
    // rounds) from user 0 over the strong user graph, cost = 1/multiplicity.
    // g04b runs the same Algorithms.boundedSssp rounds to their fixpoint.
    E("g04_sssp_bounded", (s, d) => {
      val ce = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"),
          (lit(1.0) / col("cnt").cast("double")).as("cost"))
      Algorithms.boundedSssp(ce, GraphBuilder.UserBase, 4)
        .select(col("id"), round(col("d"), 6).as("dist"))
        .orderBy("id")
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      ce AS (SELECT src, dst, CAST(1.0 AS DOUBLE) / CAST(cnt AS DOUBLE) AS cost
             FROM ie_pairs WHERE cnt >= 2),
      d0 AS (SELECT CAST(7000000000 AS BIGINT) AS id, CAST(0.0 AS DOUBLE) AS d),
      d1 AS (SELECT id, MIN(d) AS d FROM (SELECT id, d FROM d0 UNION ALL
             SELECT e.dst, p.d + e.cost FROM d0 p JOIN ce e ON e.src = p.id) GROUP BY id),
      d2 AS (SELECT id, MIN(d) AS d FROM (SELECT id, d FROM d1 UNION ALL
             SELECT e.dst, p.d + e.cost FROM d1 p JOIN ce e ON e.src = p.id) GROUP BY id),
      d3 AS (SELECT id, MIN(d) AS d FROM (SELECT id, d FROM d2 UNION ALL
             SELECT e.dst, p.d + e.cost FROM d2 p JOIN ce e ON e.src = p.id) GROUP BY id),
      d4 AS (SELECT id, MIN(d) AS d FROM (SELECT id, d FROM d3 UNION ALL
             SELECT e.dst, p.d + e.cost FROM d3 p JOIN ce e ON e.src = p.id) GROUP BY id)
      SELECT id, ROUND(d, 6) AS dist FROM d4 ORDER BY id""")),

    // G4b — CONVERGED weighted shortest path: g04 grades the 4-round
    // BOUNDED relaxation, g59 grades max-product; this grades full min-plus
    // convergence end to end. Same cost graph as g04 (1/cnt on the
    // ≥2-interaction edges); [[Algorithms.sssp]] runs g04's Bellman-Ford
    // rounds until no distance improves (positive weights ⇒ finite
    // fixpoint) and throws past 40 rounds, the oracle's bound below.
    // ORACLE: Bellman-Ford unrolled to 40 MATERIALIZED rounds (the g10
    // unrolled-oracle convention; MATERIALIZED because each round
    // references its predecessor twice — inlined CTEs would double per
    // round). 40 is measured headroom, not a guess: the probe converges in
    // 4 rounds at sf0.01 and 23 at sf0.1 (round-15 DuckDB sweep), and an
    // under-unrolled oracle would hash-mismatch, not silently pass. Both
    // engines accumulate each path's sum prefix-first and min over the
    // identical path set, so the doubles match bitwise (the g59 argument
    // in min-plus form); GraphAlgosSpec checks the same against GraphX's
    // Pregel min-plus.
    E("g04b_sssp_weighted", (s, d) => {
      val ce = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"),
          (lit(1.0) / col("cnt").cast("double")).as("cost"))
      Algorithms.sssp(ce, GraphBuilder.UserBase, 40)
        .select(col("id"), round(col("d"), 6).as("dist"))
        .orderBy("id")
    }, Some({
      // 40 unrolled rounds (measured 23 needed at sf0.1 — 1.7× headroom)
      // PLUS a convergence guard (ADVICE r15): if the last round still
      // relaxed anything, every dist goes NULL — a LOUD hash mismatch
      // attributed to oracle headroom, never a silent short answer.
      val rounds = (1 to 40).map { r =>
        s"""d$r AS MATERIALIZED (SELECT id, MIN(d) AS d FROM (
           |  SELECT id, d FROM d${r - 1} UNION ALL
           |  SELECT e.dst, p.d + e.cost FROM d${r - 1} p JOIN ce e ON e.src = p.id)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""
      WITH ${UboSql.interactedPairsCte},
      ce AS MATERIALIZED (SELECT src, dst, CAST(1.0 AS DOUBLE) / CAST(cnt AS DOUBLE) AS cost
             FROM ie_pairs WHERE cnt >= 2),
      d0 AS (SELECT CAST(7000000000 AS BIGINT) AS id, CAST(0.0 AS DOUBLE) AS d),
      $rounds,
      unconverged AS (SELECT COUNT(*) AS n FROM (
        SELECT id, d FROM d40 EXCEPT SELECT id, d FROM d39))
      SELECT id, CASE WHEN (SELECT n FROM unconverged) = 0
                      THEN ROUND(d, 6) END AS dist
      FROM d40 ORDER BY id"""
    })),

    // G6 (exhaustive) — strongly connected components via GraphX on the
    // strong user graph; nontrivial SCCs ⇒ circular ownership loops.
    // Oracle: mutual-reachability closure (feasible at oracle sf: ≤150 nodes).
    E("g06_scc", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      // tier auto-selection (Algorithms.scc): one distinct-edge count picks
      // exact local Tarjan below the driver-memory line and GraphX Pregel
      // above it — the measured form of SCALE.md's extract-then-analyze
      // guidance. The DuckDB oracle is an exact mutual-reachability
      // closure, so exactness is a correctness requirement in both tiers.
      Algorithms.scc(e2).orderBy("id")
    }, Some(s"""
      WITH RECURSIVE ${UboSql.interactedPairsCte},
      ${sccCtes(2)}
      SELECT id, component FROM scc ORDER BY id""")),

    // G6c — SCC condensation: collapse each strongly-connected component
    // (g06's cycles) to one node and report the acyclic component DAG —
    // THE canonical treatment of circular ownership (README.md:15): inside
    // a component everyone transitively owns everyone, so UBO-style
    // questions are only well-posed on the condensation. Per component:
    // member count, cross-component in/out degree, and source/sink flags
    // (sources = where external control enters; sinks = where it
    // terminates). Labels single-sourced with g06 (Algorithms.scc + the
    // same mutual-reachability closure CTE); all-integer output.
    E("g06_condensation", (s, d) => {
      // cnt >= 3 (not the usual 2): the >=2 interaction graph is one giant
      // SCC at the graded sfs (condensation = 1 node, vacuous); the
      // 3-interaction graph condenses to a real DAG (77 components / 112
      // cross edges at sf0.01, 49/25 at sf0.1)
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 3)
        .select(col("src"), col("dst"))
      val lab = Algorithms.scc(e2).transform(Materialize.apply)
      val ce = e2
        .join(lab.select(col("id").as("src"), col("component").as("ca")), "src")
        .join(lab.select(col("id").as("dst"), col("component").as("cb")), "dst")
        .filter(col("ca") =!= col("cb"))
        .select("ca", "cb").distinct().transform(Materialize.apply)
      val sizes = lab.groupBy("component").agg(count(lit(1)).as("n_members"))
      val outd = ce.groupBy(col("ca").as("component")).agg(count(lit(1)).as("n_out"))
      val ind = ce.groupBy(col("cb").as("component")).agg(count(lit(1)).as("n_in"))
      sizes
        .join(outd, Seq("component"), "left_outer")
        .join(ind, Seq("component"), "left_outer")
        .select(col("component"), col("n_members"),
          coalesce(col("n_out"), lit(0L)).as("n_out_comps"),
          coalesce(col("n_in"), lit(0L)).as("n_in_comps"),
          (coalesce(col("n_in"), lit(0L)) === 0).as("is_source"),
          (coalesce(col("n_out"), lit(0L)) === 0).as("is_sink"))
        .orderBy("component")
    }, Some(s"""
      WITH RECURSIVE ${UboSql.interactedPairsCte},
      ${sccCtes(3)},
      ce AS MATERIALIZED (
        SELECT DISTINCT la.component AS ca, lb.component AS cb
        FROM e JOIN scc la ON la.id = e.src JOIN scc lb ON lb.id = e.dst
        WHERE la.component <> lb.component),
      sizes AS (SELECT component, COUNT(*) AS n_members FROM scc GROUP BY 1),
      outd AS (SELECT ca AS component, COUNT(*) AS n_out FROM ce GROUP BY 1),
      ind AS (SELECT cb AS component, COUNT(*) AS n_in FROM ce GROUP BY 1)
      SELECT s.component, s.n_members,
             COALESCE(o.n_out, 0) AS n_out_comps,
             COALESCE(i.n_in, 0) AS n_in_comps,
             COALESCE(i.n_in, 0) = 0 AS is_source,
             COALESCE(o.n_out, 0) = 0 AS is_sink
      FROM sizes s LEFT JOIN outd o ON o.component = s.component
                   LEFT JOIN ind i ON i.component = s.component
      ORDER BY s.component""")),

    // G7 — connected components (GraphX) on the strong user graph.
    // Oracle: min-label closure over symmetrized edges.
    E("g07_cc_users", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      // gated like g07_cc_full: union-find drill-down under
      // Gates.ccLocalEdges (the strong user graph is far under it)
      Algorithms.cc(e2).orderBy("id")
    }, Some(s"""
      WITH RECURSIVE ${UboSql.interactedPairsCte},
      e AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      lab(id, l) AS (
        SELECT DISTINCT src, src FROM sym
        UNION SELECT s.dst, lab.l FROM lab JOIN sym s ON s.src = lab.id)
      SELECT id, MIN(l) AS component FROM lab GROUP BY id ORDER BY id""")),

    // G7b — connected components over the FULL property graph (GraphX at
    // real scale): component size histogram. Oracle: seeded-local-minima
    // label closure (see the SQL) — feasible at oracle sf because seeding
    // only local minima keeps the closure linear in component size.
    E("g07_cc_full", (s, d) => {
      val t = Tables(s, d)
      // ORDER-NODE CONTRACTION before CC: every order is a pass-through node
      // (one PLACED customer, k CONTAINS parts), so replacing it with direct
      // customer—part edges preserves connectivity among all other nodes and
      // roughly halves both the edge count and the effective diameter —
      // Pregel rounds scale with diameter, so the contraction pays twice.
      // Labels are provably unchanged: an order co-components with its
      // customer, whose id (base 3e9) is smaller than any order id (6e9),
      // so no component minimum is ever an order. Orders re-enter afterward
      // with their customer's component. Cross-validated against the
      // uncontracted formulation in AlgorithmsSpec.
      // GraphX over a Catalyst min-label propagation: measured 5.3 s vs
      // 8.9 s at sf0.1 pre-contraction — vertex-program iteration wins once
      // the convergence loop dominates.
      // Tier gate (round 7): Algorithms.cc streams the contracted graph
      // (1.3M distinct edges at sf0.1) through driver union-find — two
      // jobs instead of GraphX's hundreds of Pregel micro-jobs, which made
      // this query the host-contention lightning rod; GraphX remains the
      // path above Gates.ccLocalEdges (and the Kiveris star tier above
      // Gates.graphxEdges).
      val custOrder = t.orders.select(
        (lit(GraphBuilder.CustomerBase) + col("o_custkey")).as("cust"),
        (lit(GraphBuilder.OrderBase) + col("o_orderkey")).as("order"))
      val comp = Algorithms.cc(ccFullContractedEdges(s, d))
        .transform(Materialize.apply)
      val orderComp = custOrder
        .join(comp.withColumnRenamed("id", "cust"), "cust")
        .select(col("order").as("id"), col("component"))
      comp.unionByName(orderComp)
        .groupBy(col("component")).agg(count(lit(1)).as("size"))
        .orderBy("component")
    }, Some(s"""
      WITH RECURSIVE $edgesCte,
      cp AS (SELECT DISTINCT 3000000000 + o_custkey AS src, 5000000000 + l_partkey AS dst
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      base AS (SELECT src, dst FROM cp
               UNION SELECT src, dst FROM graph_edges WHERE rel_type NOT IN ('PLACED', 'CONTAINS')),
      sym AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
      nds AS (SELECT DISTINCT src AS id FROM sym),
      -- Seeded min-label closure: seed ONLY local minima (id < every neighbor).
      -- Exact because each component's global min IS a local minimum and, the
      -- sym graph being undirected, reaches every node of its component; MIN
      -- over received labels is therefore the component min — GraphX CC's
      -- output contract. Seeding all nodes would accumulate a |C|^2 closure;
      -- seeding minima keeps it at (#minima x |C|) rows (~25k at sf0.01).
      seeds AS (SELECT id FROM nds n
                WHERE NOT EXISTS (SELECT 1 FROM sym e WHERE e.src = n.id AND e.dst < n.id)),
      lab(id, l) AS (
        SELECT id, id FROM seeds
        UNION
        SELECT s.dst, lab.l FROM lab JOIN sym s ON s.src = lab.id),
      comp AS (SELECT id, MIN(l) AS component FROM lab GROUP BY id),
      ordc AS (SELECT 6000000000 + o_orderkey AS id, c.component
               FROM orders JOIN comp c ON c.id = 3000000000 + o_custkey),
      allc AS (SELECT id, component FROM comp UNION ALL SELECT id, component FROM ordc)
      SELECT component, COUNT(*) AS size FROM allc GROUP BY component ORDER BY component""")),

    // G9 — PageRank: weighted power iteration, 5 fixed steps, on the full
    // INTERACTED graph (DataFrame twin; GraphX variant in Algorithms).
    E("g09_pagerank", (s, d) => {
      Algorithms.pageRankBounded(Ubo.interactedWeighted(Tables(s, d)), 5)
        .select(col("id"), round(col("pr"), 6).as("pr"))
        .orderBy("id")
    }, Some({
      def step(prev: String, cur: String) =
        s"""$cur AS (SELECT n.id, 0.15 + 0.85 * COALESCE(m.s, CAST(0.0 AS DOUBLE)) AS pr
           |  FROM nodes n LEFT JOIN (SELECT e.dst, SUM(p.pr * e.weight) AS s
           |    FROM $prev p JOIN ie_edges e ON e.src = p.id GROUP BY 1) m ON m.dst = n.id)""".stripMargin
      s"""
      WITH ${UboSql.interactedWeightedCte},
      nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM ie_edges UNION ALL SELECT dst FROM ie_edges)),
      p0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS pr FROM nodes),
      ${step("p0", "p1")}, ${step("p1", "p2")}, ${step("p2", "p3")},
      ${step("p3", "p4")}, ${step("p4", "p5")}
      SELECT id, ROUND(pr, 6) AS pr FROM p5 ORDER BY id"""
    })),

    // G20 — personalized PageRank from user 0 over the full INTERACTED
    // graph: influence relative to ONE entity (the drill-down ranking
    // behind "map the network around X", README.md:11), vs g09's global
    // ranking. 5 fixed steps; CASE teleport mirrors exactly in SQL.
    E("g20_ppr", (s, d) => {
      Algorithms.personalizedPageRankBounded(
          Ubo.interactedWeighted(Tables(s, d)), GraphBuilder.UserBase, 5)
        .select(col("id"), round(col("pr"), 6).as("ppr"))
        .orderBy("id")
    }, Some({
      def step(prev: String, cur: String) =
        s"""$cur AS (SELECT n.id,
           |  (CASE WHEN n.id = 7000000000 THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
           |  + 0.85 * COALESCE(m.s, CAST(0.0 AS DOUBLE)) AS pr
           |  FROM nodes n LEFT JOIN (SELECT e.dst, SUM(p.pr * e.weight) AS s
           |    FROM $prev p JOIN ie_edges e ON e.src = p.id GROUP BY 1) m ON m.dst = n.id)""".stripMargin
      s"""
      WITH ${UboSql.interactedWeightedCte},
      nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM ie_edges UNION ALL SELECT dst FROM ie_edges)),
      p0 AS (SELECT id, CASE WHEN id = 7000000000 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS pr FROM nodes),
      ${step("p0", "p1")}, ${step("p1", "p2")}, ${step("p2", "p3")},
      ${step("p3", "p4")}, ${step("p4", "p5")}
      SELECT id, ROUND(pr, 6) AS ppr FROM p5 ORDER BY id"""
    })),

    // G10 — sampled Brandes betweenness on the undirected strong user graph,
    // ORACLE-CHECKED (round 6; it was the last rows-only graph op): the
    // oracle is fully UNROLLED Brandes — 16 forward BFS level CTEs
    // (per-(source,node) sigma path counts, cumulative visited-set
    // anti-filter) then 16 backward dependency-accumulation CTEs — the
    // same unrolled-iteration convention as g09/g20's power iteration and
    // g26's peel rounds. 16 levels covers the measured per-source
    // eccentricity at every graded sf (1 / 3 / 15 at sf0.001/0.01/0.1;
    // BetweennessSpec guards the calibration — a deeper graph fails
    // loudly, not silently). Sigma sums are integer-valued doubles (exact
    // in any order); the one float-order hazard is the delta sum, rounded
    // on the shared floor(x·1e6+0.5) grid both sides (l17/r35 convention).
    // BetweennessSpec additionally verifies both tiers against an
    // independent pair-dependency reimplementation. betweennessSampled is
    // GATED like scc: measured distinct-edge count picks the local collect
    // tier below Gates.localEdges, the dataflow tier above.
    E("g10_betweenness", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      Algorithms.betweennessSampled(Traversals.symmetrize(e2), 16)
        .select(col("id"),
          (floor(col("betweenness") * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
            .as("betweenness"))
        .orderBy("id")
    }, Some(brandesSql(16, 16))),

    // G17 — per-node triangle counting on the undirected strong user graph
    // (cohesion analysis: triangles = tightly-knit entity clusters, the
    // micro-structure behind "untangle complex corporate webs", README.md:4).
    // Canonical-orientation 3-way self-join (a<b<c): each triangle counted
    // once, then credited to all 3 corners. At scale this is the standard
    // distributed triangle join — canonicalization halves the edge list and
    // the a<b<c constraint kills the 6× duplication a naive join pays.
    // Cross-validated against GraphX TriangleCount in AlgorithmsSpec.
    E("g17_triangles", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      val ed = Traversals.symmetrize(e2).filter(col("src") < col("dst")).distinct()
        .transform(Materialize.apply)
      val tri = ed.select(col("src").as("a"), col("dst").as("b"))
        .join(ed.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
        .join(ed.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
      val corners = tri.select(col("a").as("id"))
        .unionByName(tri.select(col("b").as("id")))
        .unionByName(tri.select(col("c").as("id")))
      corners.groupBy("id").agg(count(lit(1)).as("n_triangles"))
        .orderBy("id")
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      e2 AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      ed AS (SELECT DISTINCT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
             FROM e2 WHERE src <> dst),
      tri AS (SELECT x.src AS a, x.dst AS b, y.dst AS c
              FROM ed x JOIN ed y ON y.src = x.dst JOIN ed z ON z.src = x.src AND z.dst = y.dst),
      corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
      SELECT id, COUNT(*) AS n_triangles FROM corners GROUP BY id ORDER BY id""")),

    // G18 — community detection via deterministic synchronous label
    // propagation on the strong user graph (clustering the "webs" of
    // README.md:4 finer than connectivity: CC merges everything reachable,
    // LPA splits it into densely-linked communities). 3 fixed rounds;
    // smallest-label tie-break makes the result engine-stable, so the
    // unrolled per-round top-1 window mirrors exactly in SQL.
    E("g18_label_prop", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      Algorithms.labelPropagation(e2, 3).orderBy("id")
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      $lpCtes
      SELECT v AS id, label AS community FROM l3 ORDER BY id""")),

    // G19 — neighborhood Jaccard (link-prediction / hidden-relationship
    // feature, README.md:15's "shared directors" generalized): user pairs
    // scored by |N(a)∩N(b)| / |N(a)∪N(b)| over the strong undirected user
    // graph. Common-neighbor join through the shared neighbor (inverted
    // index on the middle node — no all-pairs), so cost scales with
    // 2-paths, not pairs; the same shape as g11's conflict join.
    E("g19_neighbor_jaccard", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      val sym = Traversals.symmetrize(e2).distinct()
      val deg = sym.groupBy(col("src").as("v")).agg(count(lit(1)).as("n"))
      val common = sym.select(col("src").as("a"), col("dst").as("x"))
        .join(sym.select(col("src").as("b"), col("dst").as("x")), Seq("x"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
      common
        .join(deg.select(col("v").as("a"), col("n").as("na")), Seq("a"))
        .join(deg.select(col("v").as("b"), col("n").as("nb")), Seq("b"))
        .withColumn("jaccard", round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6))
        .filter(col("jaccard") >= 0.2)
        .select(col("a"), col("b"), col("jaccard"))
        .orderBy("a", "b")
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      e AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      deg AS (SELECT src AS v, COUNT(*) AS n FROM sym GROUP BY 1),
      common AS (SELECT p.src AS a, q.src AS b, COUNT(*) AS c
                 FROM sym p JOIN sym q ON p.dst = q.dst AND p.src < q.src
                 GROUP BY 1, 2)
      SELECT a, b, ROUND(CAST(c AS DOUBLE) / (da.n + db.n - c), 6) AS jaccard
      FROM common JOIN deg da ON da.v = a JOIN deg db ON db.v = b
      WHERE ROUND(CAST(c AS DOUBLE) / (da.n + db.n - c), 6) >= 0.2
      ORDER BY a, b""")),

    // G21 — HITS hubs & authorities (Kleinberg 1999) on the DIRECTED strong
    // user graph: separates "initiates interactions with important targets"
    // (hub) from "targeted by important initiators" (auth) — the two sides
    // of influence that g09's single PageRank score conflates (NetworkX
    // "centrality", README.md:28, offers HITS under the same banner).
    // 4 fixed half-step pairs, 1-norm normalized; unrolls into CTE steps
    // with a scalar-subquery normalizer exactly like the g09 oracle.
    E("g21_hits", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      Algorithms.hitsBounded(e2, 4)
        .select(col("id"), round(col("hub"), 6).as("hub"), round(col("auth"), 6).as("auth"))
        .orderBy("id")
    }, Some({
      // normalizer is SUM(v) OVER () in the SAME step, not a scalar
      // subquery: a subquery would reference the previous step CTE twice,
      // and DuckDB 1.0 re-inlines plain CTEs per reference — doubling per
      // step re-evaluates the chain 2^8 times (observed as a parity hang).
      // Window-normalized, each step references its predecessor once, and
      // the remaining multi-referenced CTEs (e/nodes in every half-step,
      // a4 in the final select) are AS MATERIALIZED so their re-evaluation
      // is eliminated too rather than merely bounded.
      def astep(h: String, ar: String, a: String) =
        s"""$ar AS (SELECT n.id, COALESCE(m.s, CAST(0.0 AS DOUBLE)) AS v FROM nodes n LEFT JOIN
           |  (SELECT e.dst, SUM(h.v) AS s FROM $h h JOIN e ON e.src = h.id GROUP BY 1) m ON m.dst = n.id),
           |$a AS MATERIALIZED (SELECT id, v / SUM(v) OVER () AS v FROM $ar)""".stripMargin
      def hstep(a: String, hr: String, h: String) =
        s"""$hr AS (SELECT n.id, COALESCE(m.s, CAST(0.0 AS DOUBLE)) AS v FROM nodes n LEFT JOIN
           |  (SELECT e.src, SUM(a.v) AS s FROM $a a JOIN e ON e.dst = a.id GROUP BY 1) m ON m.src = n.id),
           |$h AS MATERIALIZED (SELECT id, v / SUM(v) OVER () AS v FROM $hr)""".stripMargin
      s"""
      WITH ${UboSql.interactedPairsCte},
      e AS MATERIALIZED (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      nodes AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
      h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS v FROM nodes),
      ${astep("h0", "a1r", "a1")}, ${hstep("a1", "h1r", "h1")},
      ${astep("h1", "a2r", "a2")}, ${hstep("a2", "h2r", "h2")},
      ${astep("h2", "a3r", "a3")}, ${hstep("a3", "h3r", "h3")},
      ${astep("h3", "a4r", "a4")}, ${hstep("a4", "h4r", "h4")}
      SELECT h4.id, ROUND(h4.v, 6) AS hub, ROUND(a4.v, 6) AS auth
      FROM h4 JOIN a4 ON a4.id = h4.id ORDER BY h4.id"""
    })),

    // G22 — Adamic-Adar + resource-allocation link prediction (Adamic &
    // Adar 2003; Zhou et al. 2009): common-neighbor pairs where each shared
    // neighbor contributes 1/ln(deg) (AA) and 1/deg (RA), so rare shared
    // neighbors count more than hubs — the refinement of g19's unweighted
    // Jaccard for README.md:15's hidden-relationship detection. Same
    // inverted-index 2-path join as g19 (cost scales with 2-paths, never
    // all-pairs); the c >= 3 support gate keeps row membership an integer
    // predicate (no double-boundary row flips between engines).
    E("g22_adamic_adar", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      val sym = Traversals.symmetrize(e2).distinct()
      val deg = sym.groupBy(col("src").as("x")).agg(count(lit(1)).as("n"))
      val pairs = sym.select(col("src").as("a"), col("dst").as("x"))
        .join(sym.select(col("src").as("b"), col("dst").as("x")), Seq("x"))
        .filter(col("a") < col("b"))
      pairs.join(deg, Seq("x"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("c"),
             round(sum(lit(1.0) / log(col("n").cast("double"))), 6).as("aa"),
             round(sum(lit(1.0) / col("n").cast("double")), 6).as("ra"))
        .filter(col("c") >= 3)
        .select(col("a"), col("b"), col("aa"), col("ra"))
        .orderBy("a", "b")
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      e AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      deg AS (SELECT src AS x, COUNT(*) AS n FROM sym GROUP BY 1),
      p AS (SELECT s1.src AS a, s2.src AS b, s1.dst AS x
            FROM sym s1 JOIN sym s2 ON s1.dst = s2.dst AND s1.src < s2.src)
      SELECT a, b,
        ROUND(SUM(CAST(1.0 AS DOUBLE) / LN(CAST(n AS DOUBLE))), 6) AS aa,
        ROUND(SUM(CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS ra
      FROM p JOIN deg USING (x)
      GROUP BY a, b HAVING COUNT(*) >= 3
      ORDER BY a, b""")),

    // G23 — k-core decomposition (Seidman 1983) of the strong user graph:
    // the dense backbone left after iteratively peeling low-degree nodes —
    // "untangle complex corporate webs" (README.md:4) by separating the
    // tightly-coupled core from peripheral entities. 4 fixed peel rounds at
    // k=14 (calibrated to the graded sf: peels 15 of 150 strong users at
    // sf0.01; at the sparser sf0.1 interaction graph the 14-core is
    // legitimately empty — the degeneracy there is ~3); all-integer
    // arithmetic, so the oracle is exact with no float caveats. The
    // survivor CTEs are AS MATERIALIZED: each round references the previous
    // survivor set twice (both edge endpoints), and DuckDB 1.0 re-inlines
    // plain CTEs per reference — 3^rounds chain re-evaluations without
    // materialization.
    E("g23_kcore", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      Algorithms.kCoreBounded(e2, 14, 4).orderBy("id")
    }, Some({
      def peel(prev: String, cur: String) =
        s"""$cur AS MATERIALIZED (
           |  SELECT e.src AS v FROM sym e JOIN $prev a ON a.v = e.src JOIN $prev b ON b.v = e.dst
           |  GROUP BY 1 HAVING COUNT(*) >= 14)""".stripMargin
      s"""
      WITH ${UboSql.interactedPairsCte},
      e0 AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      sym AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      s0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym),
      ${peel("s0", "s1")}, ${peel("s1", "s2")}, ${peel("s2", "s3")}, ${peel("s3", "s4")}
      SELECT e.src AS id, COUNT(*) AS deg
      FROM sym e JOIN s4 a ON a.v = e.src JOIN s4 b ON b.v = e.dst
      GROUP BY 1 ORDER BY id"""
    })),

    // G24 — local clustering coefficient (Watts & Strogatz 1998):
    // c(v) = 2·T(v) / (deg(v)·(deg(v)−1)) on the strong undirected user
    // graph — how close each node's neighborhood is to a clique, the
    // per-node refinement of g17's raw triangle counts ("tightly-knit
    // clusters", README.md:4). Same canonical a<b<c triangle join as g17;
    // all counts are exact integers, one double division at the end, so
    // the output is bit-stable across engines. Nodes with deg < 2 are
    // excluded (coefficient undefined).
    E("g24_clustering_coeff", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      val sym = Traversals.symmetrize(e2).distinct()
        .transform(Materialize.apply)
      val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val ed = sym.filter(col("src") < col("dst"))
      val tri = ed.select(col("src").as("a"), col("dst").as("b"))
        .join(ed.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
        .join(ed.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
      val corners = tri.select(col("a").as("id"))
        .unionByName(tri.select(col("b").as("id")))
        .unionByName(tri.select(col("c").as("id")))
        .groupBy("id").agg(count(lit(1)).as("n_tri"))
      deg.filter(col("deg") >= 2)
        .join(corners, Seq("id"), "left_outer")
        .select(col("id"), col("deg"), coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double") /
                (col("deg") * (col("deg") - 1)).cast("double"), 6).as("coeff"))
        .orderBy("id")
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      e2 AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      sym AS MATERIALIZED (SELECT src, dst FROM e2 UNION SELECT dst, src FROM e2),
      deg AS (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY 1),
      ed AS MATERIALIZED (SELECT src, dst FROM sym WHERE src < dst),
      tri AS (SELECT x.src AS a, x.dst AS b, y.dst AS c
              FROM ed x JOIN ed y ON y.src = x.dst JOIN ed z ON z.src = x.src AND z.dst = y.dst),
      corners AS (SELECT id, COUNT(*) AS n_tri FROM (
        SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        GROUP BY 1)
      SELECT d.id, d.deg, COALESCE(c.n_tri, 0) AS n_tri,
             ROUND(2.0 * CAST(COALESCE(c.n_tri, 0) AS DOUBLE) / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) AS coeff
      FROM deg d LEFT JOIN corners c ON c.id = d.id
      WHERE d.deg >= 2 ORDER BY d.id""")),

    // G25 — temporal momentum: per entity, new PLACED edges per quarter,
    // the running total, and the quarter-over-quarter delta — the
    // QUANTITATIVE form of README.md:17's "visualize how structures have
    // evolved over years" (g12/g13 slice and diff the graph; this one
    // trends it). Pure integer counts + one keyed window, so the oracle
    // is exact; at scale the window partitions by entity (no global sort).
    E("g25_temporal_momentum", (s, d) => {
      val w = Window.partitionBy("src").orderBy("q")
      GraphBuilder(Tables(s, d)).edgesOf("PLACED")
        .filter(col("valid_from").isNotNull)
        .withColumn("q", date_trunc("quarter", col("valid_from")))
        .groupBy(col("src"), col("q")).agg(count(lit(1)).as("new_edges"))
        .select(col("src"), unix_timestamp(col("q")).as("q_start_s"), col("new_edges"),
          sum(col("new_edges")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum_edges"),
          (col("new_edges") - coalesce(lag(col("new_edges"), 1).over(w), lit(0L))).as("delta"))
        .orderBy("src", "q_start_s")
    }, Some(s"""
      WITH $edgesCte,
      per AS (SELECT src, date_trunc('quarter', valid_from) AS q, COUNT(*) AS new_edges
              FROM graph_edges WHERE rel_type = 'PLACED' AND valid_from IS NOT NULL
              GROUP BY 1, 2)
      SELECT src, CAST(EPOCH(q) AS BIGINT) AS q_start_s, new_edges,
             CAST(SUM(new_edges) OVER (PARTITION BY src ORDER BY q ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_edges,
             new_edges - COALESCE(LAG(new_edges) OVER (PARTITION BY src ORDER BY q), 0) AS delta
      FROM per ORDER BY src, q_start_s""")),

    // G26 — k-truss backbone (Cohen 2008) of the strong user graph: the
    // EDGE-level cohesion refinement of g23's k-core — an edge survives
    // only while it closes >= k-2 triangles among survivors, so the truss
    // is the sub-web where every relationship is multiply corroborated
    // ("untangle complex corporate webs", README.md:4). k=5 with 10 peel
    // rounds, calibrated CONVERGED at the graded sf (round 11 is a no-op,
    // asserted by GraphAlgosSpec; 1644 edges peel to 90); at sparser sfs
    // the 5-truss may be legitimately empty, mirroring g23's posture.
    // All-integer arithmetic — exact oracle. tri/ed CTEs are MATERIALIZED:
    // each is referenced 3x and DuckDB 1.0 re-inlines plain CTEs.
    E("g26_ktruss", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      Algorithms.kTrussBounded(e2, 5, 10).orderBy("src", "dst")
    }, Some({
      def round(prev: String, i: Int) =
        s"""tri_$i AS MATERIALIZED (
           |  SELECT x.src AS a, x.dst AS b, y.dst AS c
           |  FROM $prev x JOIN $prev y ON y.src = x.dst JOIN $prev z ON z.src = x.src AND z.dst = y.dst),
           |sup_$i AS (SELECT src, dst, COUNT(*) AS sup FROM (
           |  SELECT a AS src, b AS dst FROM tri_$i UNION ALL SELECT b, c FROM tri_$i
           |  UNION ALL SELECT a, c FROM tri_$i) GROUP BY 1, 2),
           |ed_$i AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM $prev e JOIN sup_$i s ON s.src = e.src AND s.dst = e.dst
           |  WHERE s.sup >= 3)""".stripMargin
      val rounds = (1 to 10).map(i => round(if (i == 1) "ed_0" else s"ed_${i - 1}", i)).mkString(",\n")
      s"""
      WITH ${UboSql.interactedPairsCte},
      e0 AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      sym AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      ed_0 AS MATERIALIZED (SELECT src, dst FROM sym WHERE src < dst),
      $rounds,
      tri_f AS MATERIALIZED (
        SELECT x.src AS a, x.dst AS b, y.dst AS c
        FROM ed_10 x JOIN ed_10 y ON y.src = x.dst JOIN ed_10 z ON z.src = x.src AND z.dst = y.dst),
      sup_f AS (SELECT src, dst, COUNT(*) AS sup FROM (
        SELECT a AS src, b AS dst FROM tri_f UNION ALL SELECT b, c FROM tri_f
        UNION ALL SELECT a, c FROM tri_f) GROUP BY 1, 2)
      SELECT e.src, e.dst, COALESCE(s.sup, 0) AS sup
      FROM ed_10 e LEFT JOIN sup_f s ON s.src = e.src AND s.dst = e.dst
      ORDER BY e.src, e.dst"""
    })),

    // G27 — truncated harmonic centrality (Boldi & Vigna 2014, "Axioms for
    // Centrality": harmonic handles disconnected graphs where closeness
    // breaks): Σ 1/dist(v,u) over u within 3 hops of v on the strong user
    // graph — "which entities sit closest to everything else" with a
    // bounded horizon. The 3-hop cap IS the scale control: untruncated
    // all-pairs distance is O(V·E) but each bounded level is one
    // frontier-edge join, and per-(source,dist) counts are INTEGERS, so
    // the harmonic sum is a closed-form expression over exact counts —
    // no float-summation-order hazard in either engine.
    E("g27_harmonic_khop", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      Algorithms.harmonicKHop(e2, 3).orderBy("id")
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      e2 AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      sym AS MATERIALIZED (SELECT src, dst FROM e2 UNION SELECT dst, src FROM e2),
      r1 AS MATERIALIZED (SELECT DISTINCT src AS s, dst AS v FROM sym),
      r2 AS MATERIALIZED (SELECT DISTINCT r1.s, e.dst AS v FROM r1 JOIN sym e ON e.src = r1.v),
      r3 AS (SELECT DISTINCT r2.s, e.dst AS v FROM r2 JOIN sym e ON e.src = r2.v),
      lv AS (SELECT s, v, 1 AS dist FROM r1 UNION ALL SELECT s, v, 2 FROM r2
             UNION ALL SELECT s, v, 3 FROM r3),
      md AS (SELECT s, v, MIN(dist) AS dist FROM lv WHERE v <> s GROUP BY 1, 2)
      SELECT s AS id,
             CAST(SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             ROUND(CAST(SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   + CAST(SUM(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS DOUBLE) / 2.0
                   + CAST(SUM(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS DOUBLE) / 3.0, 6) AS harmonic
      FROM md GROUP BY s ORDER BY id""")),

    // G28 — deterministic random-walk sampling (the DeepWalk/node2vec
    // corpus-generation step, Perozzi 2014/Grover 2016): one length-3 walk
    // per node on the strong user graph. The "random" step is the Knuth
    // multiplicative hash of (current node, step) indexing into the
    // SORTED, degree-capped neighbor list — reproducible across engines,
    // runs, and partitionings, which is what makes walk corpora
    // regenerable instead of stored. Scale shape: one adjacency build
    // (sorted + capped at 64 neighbors, bounding row width under any
    // skew), then one hash-join per step; no per-walk state, no RNG.
    E("g28_random_walks", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      val adj = Traversals.symmetrize(e2).distinct()
        .groupBy("src").agg(sort_array(collect_list(col("dst"))).as("nb0"))
        .select(col("src"), slice(col("nb0"), 1, 64).as("nbrs"))
        .transform(Materialize.apply)
      def step(df: DataFrame, cur: String, out: String, i: Int): DataFrame =
        df.join(adj.select(col("src").as(cur), col("nbrs")), cur)
          .withColumn(out, expr(
            s"element_at(nbrs, CAST((($cur * 31 + $i) % 1000000007) * 2654435761 % size(nbrs) AS INT) + 1)"))
          .drop("nbrs")
      val w0 = adj.select(col("src").as("start"))
      val w3 = step(step(step(
        w0.withColumn("n0", col("start")), "n0", "n1", 1), "n1", "n2", 2), "n2", "n3", 3)
      w3.select("start", "n1", "n2", "n3").orderBy("start")
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      e2 AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      sym AS MATERIALIZED (SELECT src, dst FROM e2 UNION SELECT dst, src FROM e2),
      adj AS MATERIALIZED (SELECT src, list_slice(list_sort(list(dst)), 1, 64) AS nbrs
                           FROM sym GROUP BY src),
      w1 AS (SELECT a.src AS start,
                    a.nbrs[CAST((a.src * 31 + 1) % 1000000007 * 2654435761 % len(a.nbrs) AS INT) + 1] AS n1
             FROM adj a),
      w2 AS (SELECT w1.start, w1.n1,
                    a.nbrs[CAST((w1.n1 * 31 + 2) % 1000000007 * 2654435761 % len(a.nbrs) AS INT) + 1] AS n2
             FROM w1 JOIN adj a ON a.src = w1.n1),
      w3 AS (SELECT w2.start, w2.n1, w2.n2,
                    a.nbrs[CAST((w2.n2 * 31 + 3) % 1000000007 * 2654435761 % len(a.nbrs) AS INT) + 1] AS n3
             FROM w2 JOIN adj a ON a.src = w2.n2)
      SELECT start, n1, n2, n3 FROM w3 ORDER BY start""")),

    // G29 — community conductance (Kannan/Vempala/Vetta 2004's cluster
    // quality measure): for each g18 label-propagation community C,
    // cut(C) / min(vol(C), 2|E|−vol(C)) on the strong user graph — low
    // conductance = a real module, high = a label-prop artifact. The
    // quality check that should accompany ANY community detection before
    // acting on it. Exact integer cut/volume counts from one labeled-edge
    // join (labels single-sourced with g18 via Algorithms.labelPropagation
    // / the shared lpCtes oracle chain); one double division at the end.
    E("g29_conductance", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      val sym = Traversals.symmetrize(e2).distinct().transform(Materialize.apply)
      val lab = Algorithms.labelPropagation(e2, 3) // a projection of its last round's checkpoint
      val labeled = sym
        .join(lab.select(col("id").as("src"), col("community").as("la")), "src")
        .join(lab.select(col("id").as("dst"), col("community").as("lb")), "dst")
      val m2 = sym.agg(count(lit(1)).as("m2"))
      val per = labeled.groupBy(col("la").as("community")).agg(
        count(lit(1)).as("vol"),
        sum(when(col("la") =!= col("lb"), 1L).otherwise(0L)).as("cut"))
      val sizes = lab.groupBy(col("community")).agg(count(lit(1)).as("n_nodes"))
      per.join(sizes, "community").crossJoin(broadcast(m2))
        .select(col("community"), col("n_nodes"), col("vol"), col("cut"),
          // null when one community spans the whole graph (min volume 0)
          when(least(col("vol"), col("m2") - col("vol")) > 0,
            round(col("cut").cast("double") /
              least(col("vol"), col("m2") - col("vol")).cast("double"), 6)).as("conductance"))
        .orderBy("community")
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      $lpCtes,
      labeled AS (SELECT a.label AS la, b.label AS lb
                  FROM sym s JOIN l3 a ON a.v = s.src JOIN l3 b ON b.v = s.dst),
      m2 AS (SELECT COUNT(*) AS m2 FROM sym),
      per AS (SELECT la AS community, COUNT(*) AS vol,
                     CAST(SUM(CASE WHEN la <> lb THEN 1 ELSE 0 END) AS BIGINT) AS cut
              FROM labeled GROUP BY 1),
      sizes AS (SELECT label AS community, COUNT(*) AS n_nodes FROM l3 GROUP BY 1)
      SELECT p.community, s.n_nodes, p.vol, p.cut,
             CASE WHEN LEAST(p.vol, m2.m2 - p.vol) > 0
                  THEN ROUND(CAST(p.cut AS DOUBLE) / CAST(LEAST(p.vol, m2.m2 - p.vol) AS DOUBLE), 6)
             END AS conductance
      FROM per p JOIN sizes s ON s.community = p.community CROSS JOIN m2
      ORDER BY p.community""")),

    // G30 — degree assortativity (Newman 2002, "Assortative mixing in
    // networks"): the Pearson correlation of endpoint degrees over all
    // directed edges of the symmetrized strong user graph — do hubs link
    // to hubs (r>0, social webs) or to leaves (r<0, shell-company stars)?
    // Every Pearson sum (Σx, Σy, Σxy, Σx², Σy²) is a sum of INTEGERS here,
    // so the aggregation is exact in any order; only the single-row closed
    // form at the end runs in double (same expression both engines) —
    // bit-stable with no ordered-fold machinery needed.
    E("g30_assortativity", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      val sym = Traversals.symmetrize(e2).distinct().transform(Materialize.apply)
      val deg = sym.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
      val pairs = sym
        .join(deg.select(col("v").as("src"), col("deg").as("x")), "src")
        .join(deg.select(col("v").as("dst"), col("deg").as("y")), "dst")
      val sums = pairs.agg(
        count(lit(1)).as("m"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      // null when either endpoint-degree variance is zero (degree-regular
      // graph — correlation undefined; the sf0.001 user graph is one).
      // The closed form goes through DOUBLE before the products: m·sxx and
      // sx² overflow Long on large graphs, and the engines fail
      // differently there (Spark wraps silently, DuckDB raises) — in
      // double both compute the identical expression at any scale.
      val vx = col("m").cast("double") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val vy = col("m").cast("double") * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")
      val num = col("m").cast("double") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      sums.select(col("m"),
        when(vx > 0 && vy > 0, round(num / (sqrt(vx) * sqrt(vy)), 6))
          .as("assortativity"))
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      e2 AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      sym AS MATERIALIZED (SELECT src, dst FROM e2 UNION SELECT dst, src FROM e2),
      deg AS (SELECT src AS v, COUNT(*) AS deg FROM sym GROUP BY 1),
      pairs AS (SELECT dx.deg AS x, dy.deg AS y
                FROM sym s JOIN deg dx ON dx.v = s.src JOIN deg dy ON dy.v = s.dst),
      sums AS (SELECT COUNT(*) AS m, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                      CAST(SUM(x * y) AS BIGINT) AS sxy,
                      CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
               FROM pairs),
      d AS (SELECT m, CAST(m AS DOUBLE) AS md, CAST(sx AS DOUBLE) AS sxd,
                   CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
                   CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
            FROM sums)
      SELECT m, CASE WHEN md * sxxd - sxd * sxd > 0 AND md * syyd - syd * syd > 0
                     THEN ROUND((md * sxyd - sxd * syd) /
                          (SQRT(md * sxxd - sxd * sxd) * SQRT(md * syyd - syd * syd)), 6)
                END AS assortativity
      FROM d""")),

    // G32 — bounded SimRank (Jeh & Widom 2002, "SimRank: a measure of
    // structural-context similarity"): two entities are similar if their
    // IN-neighbors are similar — the link-analysis companion to PageRank
    // (g09) and HITS (g21), here for "entities approached by the same
    // kinds of actors". Two iterations from the identity, C = 0.8, on the
    // first-60-node drill-down of the strong user graph (the l14/l32
    // bounded-grading convention — full SimRank is O(V²·d²) pair state and
    // is exactly what you extract a subgraph for). Iteration 1 from s0 is
    // CLOSED-FORM over integer counts (C·|I(a)∩I(b)|/(|I(a)|·|I(b)|)); the
    // single double summation in iteration 2 is an ordered (u,v)-keyed
    // fold, so the oracle hash-matches bit-exactly.
    E("g32_simrank", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      val nodes = e2.select(col("src").as("v"))
        .unionByName(e2.select(col("dst").as("v"))).distinct()
        .orderBy("v").limit(60)
      val es = e2.join(nodes.select(col("v").as("src")), "src")
        .join(nodes.select(col("v").as("dst")), "dst")
        .select("src", "dst").transform(Materialize.apply)
      val ins = es.select(col("dst").as("v"), col("src").as("u"))
      val indeg = ins.groupBy("v").agg(count(lit(1)).as("n"))
      // |I(a) ∩ I(b)| for a < b via the shared in-neighbor
      val common = ins.select(col("v").as("a"), col("u"))
        .join(ins.select(col("v").as("b"), col("u")), Seq("u"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
      val withDeg = common
        .join(indeg.select(col("v").as("a"), col("n").as("na")), "a")
        .join(indeg.select(col("v").as("b"), col("n").as("nb")), "b")
      val s1 = withDeg.select(col("a"), col("b"), col("na"), col("nb"),
        col("c").as("common"),
        (lit(0.8) * col("c").cast("double") / (col("na") * col("nb")).cast("double")).as("s1"))
      // symmetric closure of s1 for the iteration-2 cross terms (u != v);
      // row membership is support-gated on common >= 1 (the g22 convention:
      // integer-gated membership is engine-stable where a >0.0 float gate
      // would not be) — mirrored in the oracle's FROM s1
      val s1sym = s1.select(col("a").as("u"), col("b").as("v"), col("s1").as("suv"))
        .unionByName(s1.select(col("b").as("u"), col("a").as("v"), col("s1").as("suv")))
      // in-neighbor pairs (ua, ub) of (a, b) joined to s1 values; fold ordered
      val ia = ins.select(col("v").as("a"), col("u").as("ua"))
      val ib = ins.select(col("v").as("b"), col("u").as("ub"))
      val terms = ia.join(ib, col("a") < col("b"))
        .join(s1sym, col("ua") === col("u") && col("ub") === col("v"))
        .select(col("a"), col("b"), col("u").as("tu"), col("v").as("tv"), col("suv"))
      val folded = terms.groupBy("a", "b").agg(
        expr("aggregate(sort_array(collect_list(struct(tu, tv, suv AS t))), CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.t)").as("cross_sum"))
      s1.join(folded, Seq("a", "b"), "left_outer")
        .select(col("a"), col("b"), round(col("s1"), 6).as("s1"),
          round(lit(0.8) * (col("common").cast("double") + coalesce(col("cross_sum"), lit(0.0))) /
            (col("na") * col("nb")).cast("double"), 6).as("s2"))
        .orderBy("a", "b")
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      e2 AS (SELECT src, dst FROM ie_pairs WHERE cnt >= 2),
      sub AS (SELECT v FROM (SELECT src AS v FROM e2 UNION SELECT dst FROM e2) ORDER BY v LIMIT 60),
      es AS MATERIALIZED (SELECT src, dst FROM e2
            WHERE src IN (SELECT v FROM sub) AND dst IN (SELECT v FROM sub)),
      ins AS MATERIALIZED (SELECT dst AS v, src AS u FROM es),
      indeg AS (SELECT v, COUNT(*) AS n FROM ins GROUP BY 1),
      common AS (SELECT x.v AS a, y.v AS b, COUNT(*) AS c
                 FROM ins x JOIN ins y ON y.u = x.u AND x.v < y.v GROUP BY 1, 2),
      s1 AS MATERIALIZED (SELECT a, b, da.n AS na, db.n AS nb, c AS common,
                   0.8 * CAST(c AS DOUBLE) / CAST(da.n * db.n AS DOUBLE) AS s1
            FROM common JOIN indeg da ON da.v = a JOIN indeg db ON db.v = b),
      s1sym AS MATERIALIZED (SELECT a AS u, b AS v, s1 AS suv FROM s1
                             UNION ALL SELECT b, a, s1 FROM s1),
      terms AS (SELECT ia.v AS a, ib.v AS b, ss.u AS tu, ss.v AS tv, ss.suv
                FROM ins ia JOIN ins ib ON ia.v < ib.v
                JOIN s1sym ss ON ss.u = ia.u AND ss.v = ib.u),
      folded AS (SELECT a, b,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(suv ORDER BY tu, tv)),
                     (acc, x) -> acc + x) AS cross_sum
                 FROM terms GROUP BY 1, 2)
      SELECT s1.a, s1.b, ROUND(s1.s1, 6) AS s1,
             ROUND(0.8 * (CAST(s1.common AS DOUBLE) + COALESCE(f.cross_sum, 0.0)) /
                   CAST(s1.na * s1.nb AS DOUBLE), 6) AS s2
      FROM s1 LEFT JOIN folded f ON f.a = s1.a AND f.b = s1.b
      ORDER BY s1.a, s1.b""")),

    // G31 — recency-decayed degree: per entity, PLACED-edge activity where
    // each edge counts 1/(1 + age_years) against the corpus's max order
    // date — recent relationships dominate, stale webs fade (the recency
    // refinement of g08's raw degree; README.md:17's evolution story as a
    // ranking signal). Decay is RATIONAL (no pow/exp — cross-engine libm
    // pow is not guaranteed correctly rounded) and summed as an ordered
    // fold over (valid_from, dst) so the double accumulation is bit-exact.
    // The reference date is one 1-scalar aggregate broadcast; per-entity
    // fold length = that entity's degree.
    E("g31_decayed_degree", (s, d) => {
      val e = GraphBuilder(Tables(s, d)).edgesOf("PLACED")
        .filter(col("valid_from").isNotNull)
      val ref = e.agg(max(col("valid_from")).as("ref"))
      e.crossJoin(broadcast(ref))
        .withColumn("age_d", datediff(col("ref"), col("valid_from")).cast("long"))
        .groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("age_d") <= 365, 1L).otherwise(0L)).as("n_last_year"),
          expr("aggregate(sort_array(collect_list(struct(age_d, dst))), CAST(0.0 AS DOUBLE), (acc, e) -> acc + 1.0 / (1.0 + CAST(e.age_d AS DOUBLE) / 365.0))").as("dd"))
        .select(col("id"), col("n_edges"), col("n_last_year"),
          round(col("dd"), 6).as("decayed_degree"))
        .orderBy("id")
    }, Some(s"""
      WITH $edgesCte,
      e AS (SELECT src, dst, valid_from FROM graph_edges
            WHERE rel_type = 'PLACED' AND valid_from IS NOT NULL),
      ref AS (SELECT MAX(valid_from) AS ref FROM e),
      aged AS (SELECT src, dst, CAST(date_diff('day', valid_from, ref.ref) AS BIGINT) AS age_d
               FROM e CROSS JOIN ref)
      SELECT src AS id, COUNT(*) AS n_edges,
             CAST(SUM(CASE WHEN age_d <= 365 THEN 1 ELSE 0 END) AS BIGINT) AS n_last_year,
             ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(1.0 / (1.0 + CAST(age_d AS DOUBLE) / 365.0) ORDER BY age_d, dst)),
               (acc, v) -> acc + v), 6) AS decayed_degree
      FROM aged GROUP BY src ORDER BY id""")),

    // G33 — Newman modularity (Newman & Girvan 2004) of the g18
    // label-propagation communities: Q = Σ_c [ in_c/2m − (vol_c/2m)² ]
    // over the symmetrized strong user graph (2m = |sym|, in_c = directed
    // intra-community edges, vol_c = degree volume). The companion to
    // g29's conductance — conductance grades each community's boundary,
    // modularity grades the PARTITION as a whole, the standard accept/
    // reject score before acting on any community structure. Communities
    // single-sourced with g18/g29 (Algorithms.labelPropagation / lpCtes),
    // so the partition cannot drift between its quality metrics. All
    // per-community terms are integer counts; the one double expression
    // per row is the same operation sequence in both engines, and the
    // global Q is an ordered fold over communities (l36/g31/g32
    // convention) emitted as a community = -1 total row — no collect, one
    // labeled-edge join + two aggs regardless of graph size.
    E("g33_modularity", (s, d) => {
      val e2 = Ubo.interactedPairs(Tables(s, d)).filter(col("cnt") >= 2)
        .select(col("src"), col("dst"))
      val sym = Traversals.symmetrize(e2).distinct().transform(Materialize.apply)
      val lab = Algorithms.labelPropagation(e2, 3) // a projection of its last round's checkpoint
      val labeled = sym
        .join(lab.select(col("id").as("src"), col("community").as("la")), "src")
        .join(lab.select(col("id").as("dst"), col("community").as("lb")), "dst")
      val m2df = sym.agg(count(lit(1)).as("m2"))
      val per = labeled.groupBy(col("la").as("community")).agg(
        count(lit(1)).as("vol"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("internal"))
      val sizes = lab.groupBy("community").agg(count(lit(1)).as("n_nodes"))
      val rows = per.join(sizes, "community").crossJoin(broadcast(m2df))
        .withColumn("dq",
          col("internal").cast("double") / col("m2").cast("double")
            - (col("vol").cast("double") / col("m2").cast("double"))
              * (col("vol").cast("double") / col("m2").cast("double")))
      val total = rows.agg(
          sum(col("n_nodes")).as("n_nodes"),
          sum(col("vol")).as("vol"),
          sum(col("internal")).as("internal"),
          expr("aggregate(sort_array(collect_list(struct(community, dq AS t))), CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.t)").as("dq"))
        .select(lit(-1L).as("community"), col("n_nodes"), col("vol"),
          col("internal"), col("dq"))
      rows.select(col("community"), col("n_nodes"), col("vol"),
          col("internal"), round(col("dq"), 6).as("dq"))
        .unionByName(total.select(col("community"), col("n_nodes"), col("vol"),
          col("internal"), round(col("dq"), 6).as("dq")))
        .orderBy("community")
    }, Some(s"""
      WITH ${UboSql.interactedPairsCte},
      $lpCtes,
      labeled AS (SELECT a.label AS la, b.label AS lb
                  FROM sym s JOIN l3 a ON a.v = s.src JOIN l3 b ON b.v = s.dst),
      m2 AS (SELECT COUNT(*) AS m2 FROM sym),
      per AS (SELECT la AS community, COUNT(*) AS vol,
                     CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS internal
              FROM labeled GROUP BY 1),
      sizes AS (SELECT label AS community, COUNT(*) AS n_nodes FROM l3 GROUP BY 1),
      rows_ AS (SELECT p.community, s.n_nodes, p.vol, p.internal,
                       CAST(p.internal AS DOUBLE) / CAST(m2.m2 AS DOUBLE)
                       - (CAST(p.vol AS DOUBLE) / CAST(m2.m2 AS DOUBLE))
                         * (CAST(p.vol AS DOUBLE) / CAST(m2.m2 AS DOUBLE)) AS dq
                FROM per p JOIN sizes s USING (community) CROSS JOIN m2),
      total AS (SELECT CAST(-1 AS BIGINT) AS community,
                       CAST(SUM(n_nodes) AS BIGINT) AS n_nodes,
                       CAST(SUM(vol) AS BIGINT) AS vol,
                       CAST(SUM(internal) AS BIGINT) AS internal,
                       -- COALESCE: DuckDB list() over zero rows is NULL,
                       -- Spark's fold over an empty collect_list is 0.0
                       COALESCE(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list(dq ORDER BY community)), (a, v) -> a + v),
                         CAST(0.0 AS DOUBLE)) AS dq
                FROM rows_)
      SELECT community, n_nodes, vol, internal, ROUND(dq, 6) AS dq FROM rows_
      UNION ALL
      SELECT community, n_nodes, vol, internal, ROUND(dq, 6) AS dq FROM total
      ORDER BY community""")),

    // G12 — temporal snapshot (time-slider, README.md:17): graph as of
    // 1997-01-01. The validity predicate pushes down to the edge scan.
    E("g12_snapshot", (s, d) => {
      val g = GraphBuilder(Tables(s, d))
      g.snapshot(lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        .edges.groupBy(col("rel_type"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("src")).as("n_src"))
        .orderBy("rel_type")
    }, Some(s"""
      WITH $edgesCte
      SELECT rel_type, COUNT(*) AS cnt, COUNT(DISTINCT src) AS n_src
      FROM graph_edges
      WHERE valid_from IS NULL OR valid_from <= TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY rel_type ORDER BY rel_type""")),

    // G13 — temporal diff ("how structures have evolved", README.md:17):
    // edge keys present at T2 but not at T1, via EXCEPT (set semantics in
    // both engines).
    E("g13_temporal_diff", (s, d) => {
      val g = GraphBuilder(Tables(s, d))
      def snap(ts: String) =
        g.snapshot(lit(ts).cast("timestamp_ntz")).edges.select(col("src"), col("dst"), col("rel_type"))
      snap("1997-01-01 00:00:00").except(snap("1996-01-01 00:00:00"))
        .orderBy("src", "dst", "rel_type")
    }, Some(s"""
      WITH $edgesCte
      SELECT src, dst, rel_type FROM graph_edges
      WHERE valid_from IS NULL OR valid_from <= TIMESTAMP '1997-01-01 00:00:00'
      EXCEPT
      SELECT src, dst, rel_type FROM graph_edges
      WHERE valid_from IS NULL OR valid_from <= TIMESTAMP '1996-01-01 00:00:00'
      ORDER BY src, dst, rel_type""")),

    // G13b — BIDIRECTIONAL temporal diff over edges with real expiry
    // ("how structures have evolved", README.md:17 — both directions).
    // INTERACTED edges get valid_to = the pair's next transition timestamp
    // (each instance valid until superseded), so snapshots see exactly one
    // instance per pair and the diff reports both the instance ADDED since T1
    // and the instance it REPLACED — exercising PropertyGraph.snapshot's
    // end-bound branch, dead under the open-ended synthetic edges.
    E("g13b_temporal_diff_bidir", (s, d) => {
      val t = Tables(s, d)
      val trans = GraphBuilder.userTransitions(t)
        .select(col("src"), col("dst"), col("ts")).distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src"), col("dst")).orderBy(col("ts"))
      val te = trans
        .select(col("src"), col("dst"), lit("INTERACTED").as("rel_type"),
                lit(1.0).as("weight"), col("ts").cast("timestamp_ntz").as("valid_from"),
                lead(col("ts"), 1).over(w).cast("timestamp_ntz").as("valid_to"))
      val g = PropertyGraph(GraphBuilder.nodes(t), te)
      def snap(at: String) =
        g.snapshot(lit(at).cast("timestamp_ntz")).edges
          .select(col("src"), col("dst"), col("valid_from"))
      val t1 = snap("2024-01-10 00:00:00")
      val t2 = snap("2024-01-20 00:00:00")
      t2.except(t1).withColumn("change", lit("added"))
        .unionByName(t1.except(t2).withColumn("change", lit("removed")))
        .orderBy("change", "src", "dst")
    }, Some("""
      WITH trans AS (
        SELECT DISTINCT 7000000000 + prev AS src, 7000000000 + user_id AS dst, ts
        FROM (SELECT user_id, ts, event_id, LAG(user_id) OVER (ORDER BY ts, event_id) AS prev FROM events)
        WHERE prev IS NOT NULL AND prev <> user_id),
      te AS (SELECT src, dst, ts AS valid_from,
                    LEAD(ts) OVER (PARTITION BY src, dst ORDER BY ts) AS valid_to
             FROM trans),
      s1 AS (SELECT src, dst, valid_from FROM te
             WHERE valid_from <= TIMESTAMP '2024-01-10 00:00:00'
               AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-10 00:00:00')),
      s2 AS (SELECT src, dst, valid_from FROM te
             WHERE valid_from <= TIMESTAMP '2024-01-20 00:00:00'
               AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-20 00:00:00'))
      SELECT 'added' AS change, src, dst, valid_from
      FROM (SELECT * FROM s2 EXCEPT SELECT * FROM s1)
      UNION ALL
      SELECT 'removed' AS change, src, dst, valid_from
      FROM (SELECT * FROM s1 EXCEPT SELECT * FROM s2)
      ORDER BY change, src, dst""")),

    // G14 — ego network: subgraph induced by the ≤2-hop undirected
    // neighborhood of customer #1 (interactive mapping, README.md:11).
    E("g14_ego_net", (s, d) => {
      val g = GraphBuilder(Tables(s, d))
      Traversals.egoNet(g.edges, GraphBuilder.CustomerBase + 1L, 2)
        .select(col("src"), col("dst"), col("rel_type"))
        .orderBy("src", "dst", "rel_type")
    }, Some(s"""
      WITH RECURSIVE $edgesCte,
      sym AS (SELECT src, dst FROM graph_edges UNION ALL SELECT dst, src FROM graph_edges),
      reach(id, depth) AS (
        SELECT CAST(3000000001 AS BIGINT), 0
        UNION ALL
        SELECT s.dst, r.depth + 1 FROM reach r JOIN sym s ON s.src = r.id WHERE r.depth < 2),
      rs AS (SELECT DISTINCT id FROM reach)
      SELECT e.src, e.dst, e.rel_type
      FROM graph_edges e JOIN rs a ON e.src = a.id JOIN rs b ON e.dst = b.id
      ORDER BY src, dst, rel_type""")),

    // G15 — neighborhood aggregation (README.md:13): per-part supplier
    // stats from the weighted SUPPLIED_BY edges + deterministic neighbor list.
    E("g15_neighborhood_agg", (s, d) => {
      GraphBuilder.edges(Tables(s, d)).filter(col("rel_type") === "SUPPLIED_BY")
        .groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("n_suppliers"),
             max(col("weight")).as("max_share"),
             min(col("weight")).as("min_share"),
             array_join(transform(sort_array(collect_list(col("dst"))), x => x.cast("string")), ",")
               .as("suppliers"))
        .orderBy("id")
    }, Some(s"""
      WITH $edgesCte
      SELECT src AS id, COUNT(*) AS n_suppliers,
             MAX(weight) AS max_share, MIN(weight) AS min_share,
             string_agg(CAST(dst AS VARCHAR), ',' ORDER BY dst) AS suppliers
      FROM graph_edges WHERE rel_type = 'SUPPLIED_BY'
      GROUP BY src ORDER BY id""")),

    // G15b — supply-concentration via the typed UDAF (Aggregator +
    // functions.udaf): HHI = Σq²/(Σq)² per part from exact integral
    // quantities (order-independent — see HhiAggregator's numeric design).
    E("g15_concentration_hhi", (s, d) => {
      val hhi = udaf(graft.functions.HhiAggregator)
      Tables(s, d).lineitem
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(graft.Tables.dec(col("l_quantity"))).cast("double").as("qty"))
        .groupBy(col("l_partkey").as("id"))
        .agg(round(hhi(col("qty")), 6).as("hhi"))
        .orderBy("id")
    }, Some("""
      WITH ps AS (SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
                  FROM lineitem GROUP BY 1, 2)
      SELECT l_partkey AS id,
             ROUND(CAST(SUM(qty * qty) AS DOUBLE) /
                   (CAST(SUM(qty) AS DOUBLE) * CAST(SUM(qty) AS DOUBLE)), 6) AS hhi
      FROM ps GROUP BY l_partkey ORDER BY id""")),

    // G16 — risk flags ("identify hidden risks in seconds", README.md:6,15):
    // union of pattern detectors -> per-entity sorted flag set.
    // Dominance ratio = max_share × n_suppliers (how many × the uniform share
    // the top supplier holds) — scale-invariant, so the flags fire at every sf.
    E("g16_risk_flags", (s, d) => {
      val agg = GraphBuilder.edges(Tables(s, d)).filter(col("rel_type") === "SUPPLIED_BY")
        .groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("n"), max(col("weight")).as("mx"))
        .withColumn("ratio", col("mx") * col("n"))
      val dominant = agg.filter(col("ratio") >= 2.5)
        .select(col("id"), lit("dominant_supplier").as("flag"))
      val concentrated = agg.filter(col("ratio") >= 3.0)
        .select(col("id"), lit("highly_concentrated").as("flag"))
      dominant.unionByName(concentrated)
        .groupBy(col("id"))
        .agg(array_join(sort_array(collect_set(col("flag"))), ",").as("flags"))
        .orderBy("id")
    }, Some(s"""
      WITH $edgesCte,
      agg AS (
        SELECT src AS id, COUNT(*) AS n, MAX(weight) AS mx,
               MAX(weight) * COUNT(*) AS ratio
        FROM graph_edges WHERE rel_type = 'SUPPLIED_BY' GROUP BY src),
      f AS (
        SELECT id, 'dominant_supplier' AS flag FROM agg WHERE ratio >= 2.5
        UNION ALL
        SELECT id, 'highly_concentrated' AS flag FROM agg WHERE ratio >= 3.0)
      SELECT id, string_agg(flag, ',' ORDER BY flag) AS flags
      FROM f GROUP BY id ORDER BY id""")),

    // G11b — FUZZY entity-resolution conflict pairs (README.md:15: real
    // registry data has misspelled names; exact-equality matching misses
    // them). Blocked symmetric-delete candidate join + levenshtein rerank
    // (FuzzyJoin scaladoc has the losslessness proof and block-size
    // bound), then customer attributes attached for the conflict signal a
    // compliance analyst reads: same_nation=true pairs are likely
    // double-registrations in one jurisdiction, cross-nation pairs
    // possible evasive re-registrations. The attribute joins broadcast
    // the (small) entity table against the pair stream — on a 100 TB run
    // the pair stream shuffles once (on the blocking key) and never
    // all-pairs; candidate volume is the monitored cost metric
    // (FuzzyJoin.candidateCount; measured 117× below all-pairs at sf0.1).
    E("g46_fuzzy_er_pairs", (s, d) => {
      val ents = Tables(s, d).customer.select(
        col("c_custkey").as("id"), col("c_name").as("name"), col("c_nationkey").as("nk"))
      fuzzyCustomerPairs(s, d)
        .withColumnRenamed("id_a", "cust_a").withColumnRenamed("id_b", "cust_b")
        .join(broadcast(ents.select(col("id").as("cust_a"), col("nk").as("nation_a"))), Seq("cust_a"))
        .join(broadcast(ents.select(col("id").as("cust_b"), col("nk").as("nation_b"))), Seq("cust_b"))
        .select(col("cust_a"), col("cust_b"), col("name_a"), col("name_b"), col("dist"),
                (col("nation_a") === col("nation_b")).as("same_nation"))
        .orderBy("cust_a", "cust_b")
    }, Some(s"""
      WITH $fuzzyPairsSql
      SELECT cust_a, cust_b, name_a, name_b, dist, na.nk = nb.nk AS same_nation
      FROM fpairs JOIN nm na ON na.ck = cust_a JOIN nm nb ON nb.ck = cust_b
      ORDER BY cust_a, cust_b""")),

    // G11c — entity-resolution MERGE MAP (the dedup ACTION on g46's
    // pairs, mirroring l16/l20's pair→component→canonical shape): the
    // SAME-NATION fuzzy pairs (g46's double-registration signal — merging
    // across jurisdictions is an analyst call, not an automatic action)
    // close into clusters via connected components (tiered Algorithms.cc
    // — union-find under Gates.ccLocalEdges, Pregel above), the min-id
    // member is the canonical survivor, and the output is the (entity →
    // canonical) map an auditor reviews before applying a merge. Only
    // actually-merged rows (id <> canonical) are emitted — that IS the
    // reviewable action list. The nation gate also keeps the transitive
    // closure honest: unrestricted lev-1 pairs on this corpus chain the
    // whole registry into one component (merge-everything is not a
    // reviewable action), while per-nation subgraphs yield real clusters
    // (284 clusters, max 17 members at sf0.01). Names attached by
    // broadcast for readability.
    E("g48_er_merge_map", (s, d) => {
      val ents = Tables(s, d).customer.select(
        col("c_custkey").as("id"), col("c_name").as("name"))
      val nk = Tables(s, d).customer.select(
        col("c_custkey").as("id"), col("c_nationkey").as("nk"))
      val pairs = fuzzyCustomerPairs(s, d)
        .join(broadcast(nk.select(col("id").as("id_a"), col("nk").as("nk_a"))), Seq("id_a"))
        .join(broadcast(nk.select(col("id").as("id_b"), col("nk").as("nk_b"))), Seq("id_b"))
        .filter(col("nk_a") === col("nk_b"))
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      Algorithms.cc(pairs)
        .filter(col("id") =!= col("component"))
        .join(broadcast(ents), Seq("id"))
        .join(broadcast(ents.select(col("id").as("component"), col("name").as("canonical_name"))),
              Seq("component"))
        .select(col("id").as("custkey"), col("name"),
                col("component").as("merged_into"), col("canonical_name"))
        .orderBy("custkey")
    }, Some(s"""
      WITH RECURSIVE $fuzzyPairsSql,
      snp AS (SELECT cust_a, cust_b FROM fpairs
              JOIN nm na ON na.ck = cust_a JOIN nm nb ON nb.ck = cust_b
              WHERE na.nk = nb.nk),
      sym AS (SELECT cust_a AS src, cust_b AS dst FROM snp
              UNION SELECT cust_b, cust_a FROM snp),
      nds AS (SELECT DISTINCT src AS id FROM sym),
      seeds AS (SELECT id FROM nds n
                WHERE NOT EXISTS (SELECT 1 FROM sym e WHERE e.src = n.id AND e.dst < n.id)),
      lab(id, l) AS (
        SELECT id, id FROM seeds
        UNION
        SELECT s.dst, lab.l FROM lab JOIN sym s ON s.src = lab.id),
      comp AS (SELECT id, MIN(l) AS cluster FROM lab GROUP BY id)
      SELECT c.id AS custkey, na.nam AS name, c.cluster AS merged_into, nb.nam AS canonical_name
      FROM comp c JOIN nm na ON na.ck = c.id JOIN nm nb ON nb.ck = c.cluster
      WHERE c.id <> c.cluster
      ORDER BY custkey""")),

    // G11d — fuzzy CATALOG name resolution: the same blocked lev<=1
    // machinery over part names — VARIABLE-length natural-word strings
    // where the matches are genuine deletion typos ("cold anvil" vs
    // "old anvil"), so the indel leg of the symmetric-delete pigeonhole
    // (shorter name IS a deletion variant of the longer) is exercised in
    // the GRADED surface, not only in the spec. Names dedup through a
    // pre-aggregation (distinct name -> min-partkey id + member count)
    // before blocking, so the pair join runs on the name vocabulary, not
    // the row count — the catalog-ER shape for a 100 TB parts ledger.
    E("g49_fuzzy_catalog_names", (s, d) => {
      val names = Tables(s, d).part
        .groupBy(col("p_name").as("name"))
        .agg(min(col("p_partkey")).as("id"), count(lit(1)).as("n_parts"))
      graft.rel.FuzzyJoin.selfJoinLev1(names.select("id", "name"))
        .join(broadcast(names.select(col("id").as("id_a"), col("n_parts").as("parts_a"))), Seq("id_a"))
        .join(broadcast(names.select(col("id").as("id_b"), col("n_parts").as("parts_b"))), Seq("id_b"))
        .select(col("name_a"), col("name_b"), col("dist"), col("parts_a"), col("parts_b"))
        .orderBy("name_a", "name_b")
    }, Some("""
      WITH nm AS (SELECT p_name AS nam, CAST(MIN(p_partkey) AS BIGINT) AS ck, COUNT(*) AS n_parts
                  FROM part GROUP BY 1),
      keys AS (
        SELECT ck, nam, nam AS key FROM nm
        UNION
        SELECT ck, nam, substr(nam, 1, CAST(i AS INT)) || substr(nam, CAST(i AS INT) + 2) AS key
        FROM nm, UNNEST(range(length(nam))) AS t(i)),
      cand AS (
        SELECT DISTINCT a.ck AS ck_a, b.ck AS ck_b, a.nam AS name_a, b.nam AS name_b
        FROM keys a JOIN keys b ON a.key = b.key AND a.ck < b.ck),
      fp AS (
        SELECT ck_a, ck_b, name_a, name_b, CAST(levenshtein(name_a, name_b) AS INT) AS dist
        FROM cand WHERE levenshtein(name_a, name_b) <= 1)
      SELECT name_a, name_b, dist, na.n_parts AS parts_a, nb.n_parts AS parts_b
      FROM fp JOIN nm na ON na.ck = ck_a JOIN nm nb ON nb.ck = ck_b
      ORDER BY name_a, name_b""")),

    // G11e — TOKEN-SET fuzzy resolution over MULTI-WORD labels
    // (README.md:15 "common registered addresses": two registrations that
    // agree on most words — reordered, one word off — are one entity, a
    // matching class the lev<=1 character blocking of g46/g49 cannot see:
    // lev("acme global", "global acme") = 8). Composite catalog labels
    // (p_name + brand + type) resolved at token-Jaccard >= 0.6 via the
    // df-ordered prefix filter (TokenSetJoin scaladoc has the Bayardo
    // WWW'07 losslessness proof): each record blocks ONLY on its rarest
    // p = |x| - ceil(0.6|x|) + 1 tokens, so the high-df tokens that would
    // form the biggest blocks never become keys. Candidate volume
    // measured 8.5x below all-pairs / 3.3x below any-shared-token at
    // sf0.01 (TokenSetJoin.candidateCount is the 100 TB cost monitor);
    // attribute joins broadcast the label table against the pair stream.
    E("g50_token_er_catalog", (s, d) => {
      val labels = Tables(s, d).part
        .groupBy(concat_ws(" ", col("p_name"), col("p_brand"), col("p_type")).as("label"))
        .agg(min(col("p_partkey")).as("id"), count(lit(1)).as("n_parts"))
      graft.rel.TokenSetJoin.selfJoinJaccard(labels.select("id", "label"), 0.6)
        .join(broadcast(labels.select(col("id").as("id_a"), col("n_parts").as("parts_a"))), Seq("id_a"))
        .join(broadcast(labels.select(col("id").as("id_b"), col("n_parts").as("parts_b"))), Seq("id_b"))
        .select(col("label_a"), col("label_b"), col("n_common"), col("jacc"),
                col("parts_a"), col("parts_b"))
        .orderBy("label_a", "label_b")
    }, Some("""
      WITH nm AS (SELECT CAST(MIN(p_partkey) AS BIGINT) AS id,
                         concat(p_name, ' ', p_brand, ' ', p_type) AS label, COUNT(*) AS n_parts
                  FROM part GROUP BY 2),
      tok AS (SELECT id, label, UNNEST(list_distinct(string_split(label, ' '))) AS tok FROM nm),
      df AS (SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok),
      ranked AS (SELECT t.id, t.label, t.tok,
                        ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY d.df, t.tok) AS rk,
                        COUNT(*) OVER (PARTITION BY t.id) AS sz
                 FROM tok t JOIN df d ON d.tok = t.tok),
      pfx AS (SELECT id, label, tok FROM ranked WHERE rk <= sz - CEIL(0.6 * sz) + 1),
      cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.label AS label_a, b.label AS label_b
               FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.id < b.id),
      rr AS (SELECT id_a, id_b, label_a, label_b,
                    CAST(len(list_intersect(list_distinct(string_split(label_a, ' ')),
                                            list_distinct(string_split(label_b, ' ')))) AS BIGINT) AS n_common,
                    len(list_distinct(string_split(label_a, ' '))) AS sa,
                    len(list_distinct(string_split(label_b, ' '))) AS sb
             FROM cand),
      fp AS (SELECT id_a, id_b, label_a, label_b, n_common,
                    ROUND(n_common * 1.0 / (sa + sb - n_common), 6) AS jacc
             FROM rr WHERE ROUND(n_common * 1.0 / (sa + sb - n_common), 6) >= 0.6)
      SELECT label_a, label_b, n_common, jacc, na.n_parts AS parts_a, nb.n_parts AS parts_b
      FROM fp JOIN nm na ON na.id = id_a JOIN nm nb ON nb.id = id_b
      ORDER BY label_a, label_b""")),

    // G11f — lev<=2 DRILL-DOWN tier over catalog names: the depth-2
    // symmetric-delete blocking (FuzzyJoin.deletionKeys2 — scaladoc
    // carries the extended pigeonhole proof and the L(L+1)/2+1 fan-out
    // bound) catches the two-edit typos the graded lev<=1 tier (g49)
    // misses: "small ring" -> "small rig" is lev 1, but "smal rig" is
    // lev 2 and invisible to single-deletion keys. Quadratic key fan-out
    // is the documented cost of this tier — it is the DRILL-DOWN over a
    // name vocabulary (here: distinct part names, pre-aggregated so the
    // pair join runs on the vocabulary, not the row count), never the
    // board-wide default; candidateCount(names, 2) is the cost monitor.
    E("g51_fuzzy_lev2_names", (s, d) => {
      val names = Tables(s, d).part
        .groupBy(col("p_name").as("name"))
        .agg(min(col("p_partkey")).as("id"), count(lit(1)).as("n_parts"))
      graft.rel.FuzzyJoin.selfJoinLev(names.select("id", "name"), 2)
        .join(broadcast(names.select(col("id").as("id_a"), col("n_parts").as("parts_a"))), Seq("id_a"))
        .join(broadcast(names.select(col("id").as("id_b"), col("n_parts").as("parts_b"))), Seq("id_b"))
        .select(col("name_a"), col("name_b"), col("dist"), col("parts_a"), col("parts_b"))
        .orderBy("name_a", "name_b")
    }, Some("""
      WITH nm AS (SELECT p_name AS nam, CAST(MIN(p_partkey) AS BIGINT) AS ck, COUNT(*) AS n_parts
                  FROM part GROUP BY 1),
      keys AS (
        SELECT ck, nam, nam AS key FROM nm
        UNION
        SELECT ck, nam, substr(nam, 1, CAST(i AS INT)) || substr(nam, CAST(i AS INT) + 2) AS key
        FROM nm, UNNEST(range(length(nam))) AS t(i)
        UNION
        SELECT ck, nam,
               substr(nam, 1, CAST(i AS INT)) || substr(nam, CAST(i AS INT) + 2, CAST(j - i - 1 AS INT))
                 || substr(nam, CAST(j AS INT) + 2) AS key
        FROM nm, UNNEST(range(length(nam))) AS t(i), UNNEST(range(length(nam))) AS u(j)
        WHERE j > i),
      cand AS (
        SELECT DISTINCT a.ck AS ck_a, b.ck AS ck_b, a.nam AS name_a, b.nam AS name_b
        FROM keys a JOIN keys b ON a.key = b.key AND a.ck < b.ck),
      fp AS (
        SELECT ck_a, ck_b, name_a, name_b, CAST(levenshtein(name_a, name_b) AS INT) AS dist
        FROM cand WHERE levenshtein(name_a, name_b) <= 2)
      SELECT name_a, name_b, dist, na.n_parts AS parts_a, nb.n_parts AS parts_b
      FROM fp JOIN nm na ON na.ck = ck_a JOIN nm nb ON nb.ck = ck_b
      ORDER BY name_a, name_b""")),

    // G11g — ABBREVIATION-NORMALIZED record linkage (README.md:15: real
    // registered-attribute variation is token REORDER — g50's class —
    // plus ABBREVIATION — "ST" for "STREET", "LTD" for "LIMITED" — which
    // NO token-equality Jaccard can see: abbreviating 2 of a 4-token
    // label leaves 2 shared raw tokens, J = 2/6 ≈ 0.33, invisible at
    // t = 0.6). Pipeline: a registry view whose noun + size tokens
    // arrive abbreviated per the domain pack below (the deterministic
    // forward map is the FIXTURE — real registries simply arrive this
    // way) is normalized back to canonical vocabulary with
    // TokenSetJoin.mapTokens (the product operator: broadcast map
    // literal, codegen-resident, case-sensitive) and linked against the
    // canonical catalog with the TWO-TABLE prefix-filter join — df over
    // the union of both collections for one global token order
    // (joinJaccard scaladoc has the losslessness argument). The output
    // keeps the RAW abbreviated registry text beside the matched
    // canonical label — the analyst's evidence view. The pack is
    // single-sourced: one Seq generates both the Spark map literal and
    // the oracle's CASE chain, so engine and oracle cannot drift.
    E("g54_abbrev_linkage", (s, d) => {
      val (registry, normalized, labels) = g54Inputs(s, d)
      graft.rel.TokenSetJoin.joinJaccard(normalized, labels, 0.6)
        .join(broadcast(registry.select(col("id").as("id_l"), col("raw"))), Seq("id_l"))
        .select(col("raw").as("registry_label"), col("label_r").as("catalog_label"),
                col("n_common"), col("jacc"))
        .orderBy("registry_label", "catalog_label")
    }, Some(s"""
      WITH nm AS (SELECT CAST(MIN(p_partkey) AS BIGINT) AS id,
                         concat(p_name, ' ', p_brand, ' ', p_type) AS label
                  FROM part GROUP BY 2),
      reg AS (SELECT id + 9000000000 AS id,
                     array_to_string(list_transform(string_split(label, ' '),
                       t -> CASE t ${g54Case(g54Abbrev)} ELSE t END), ' ') AS raw
              FROM nm),
      regn AS (SELECT id, raw,
                      array_to_string(list_transform(string_split(raw, ' '),
                        t -> CASE t ${g54Case(g54Abbrev.map(_.swap))} ELSE t END), ' ') AS label
               FROM reg),
      au AS (SELECT id, label FROM regn UNION ALL SELECT id, label FROM nm),
      tok AS (SELECT id, UNNEST(list_distinct(string_split(label, ' '))) AS tok FROM au),
      tdf AS (SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok),
      ranked AS (SELECT t.id, t.tok,
                        ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY d.df, t.tok) AS rk,
                        COUNT(*) OVER (PARTITION BY t.id) AS sz
                 FROM tok t JOIN tdf d ON d.tok = t.tok),
      pfx AS (SELECT id, sz, tok FROM ranked WHERE rk <= sz - CEIL(0.6 * sz) + 1),
      cand AS (SELECT DISTINCT a.id AS id_l, b.id AS id_r
               FROM pfx a JOIN pfx b ON a.tok = b.tok
               WHERE a.id >= 9000000000 AND b.id < 9000000000
                 AND 0.6 * greatest(a.sz, b.sz) <= least(a.sz, b.sz)),
      rr AS (SELECT rn.raw, nm.label AS label_r,
                    CAST(len(list_intersect(list_distinct(string_split(rn.label, ' ')),
                                            list_distinct(string_split(nm.label, ' ')))) AS BIGINT) AS n_common,
                    len(list_distinct(string_split(rn.label, ' '))) AS sl,
                    len(list_distinct(string_split(nm.label, ' '))) AS sr
             FROM cand JOIN regn rn ON rn.id = cand.id_l JOIN nm ON nm.id = cand.id_r),
      fp AS (SELECT raw AS registry_label, label_r AS catalog_label, n_common,
                    ROUND(n_common * 1.0 / (sl + sr - n_common), 6) AS jacc
             FROM rr WHERE ROUND(n_common * 1.0 / (sl + sr - n_common), 6) >= 0.6)
      SELECT registry_label, catalog_label, n_common, jacc
      FROM fp ORDER BY registry_label, catalog_label""")),

    // G55 — SCORED name screening (README.md:15 fuzzy matching, ranked):
    // the fuzzy-ER family so far answers set questions — "which pairs
    // match at lev<=k / Jaccard>=t" — but operational screening ranks:
    // an analyst reviewing a hit list wants the closest K roster names
    // per watched name, ordered by a similarity SCORE that weights
    // front-of-string agreement where registry names actually agree.
    // That score is Jaro-Winkler, here the native codegen'd expression
    // functions/JaroWinkler (semantics fuzz-pinned to the DuckDB oracle's
    // jaro_winkler_similarity — integer-halved transpositions, strict
    // 0.7 boost threshold, prefix cap 4; see its scaladoc). Shape: the
    // 5-row probe set BROADCASTS into a nested-loop join against the
    // name vocabulary — the 100 TB plan is "scan the roster once, score
    // in codegen, rank per probe"; candidates never shuffle pairwise
    // (the per-probe ranking window shuffles |probes|x|vocab| scored
    // rows, the l05 cosine-top-k discipline). Scores round to 6 in both
    // engines before ranking so rank ties break identically on name.
    E("g55_jw_screen_rank", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val vocab = Tables(s, d).part.select(col("p_name").as("name")).distinct()
      val probes = broadcast(
        vocab.orderBy("name").limit(5).select(col("name").as("probe")))
      val byProbe = Window.partitionBy("probe")
        .orderBy(col("jw").desc, col("name"))
      vocab.crossJoin(probes)
        .withColumn("jw", round(expr("jaro_winkler(probe, name)"), 6))
        .withColumn("rnk", row_number().over(byProbe).cast("long"))
        .filter(col("rnk") <= 10)
        .select("probe", "name", "jw", "rnk")
        .orderBy("probe", "rnk")
    }, Some("""
      WITH v AS (SELECT DISTINCT p_name AS name FROM part),
      pr AS (SELECT name AS probe FROM v ORDER BY name LIMIT 5),
      sc AS (SELECT probe, name,
                    ROUND(jaro_winkler_similarity(probe, name), 6) AS jw
             FROM pr CROSS JOIN v),
      rk AS (SELECT probe, name, jw,
                    ROW_NUMBER() OVER (PARTITION BY probe
                                       ORDER BY jw DESC, name) AS rnk
             FROM sc)
      SELECT probe, name, jw, rnk FROM rk
      WHERE rnk <= 10 ORDER BY probe, rnk""")),

    // G52 — the ENTITY DOSSIER (README.md:4-6 "untangle complex corporate
    // webs... in seconds" — the product's core workflow: pick a target
    // entity, get ONE combined answer). Composes four existing pipelines
    // into one long-format output (section, key, detail, score) for a
    // seed supplier: (a) its beneficial owners, (b) risk flags on the
    // parts it supplies, (c) fuzzy name conflicts INSIDE its owner base
    // ("shared directors" under misspelling, g46's matcher), (d) its
    // ego-network summary. Composition notes (the l37 honest-plan
    // precedent — which scans are shared vs re-read):
    //  * ownership runs BACKWARD from the single seed over the REVERSED
    //    3-layer DAG (same Ubo.propagateLayers; src/dst swapped) — the
    //    drill-down plan: state is the seed's ancestor cone (bounded by
    //    the customer count), not g03's board-wide |owners|x|entities|
    //    forward state, and the cone is EXACT (no epsilon needed — the
    //    per-step state never fans past the cone). The cone is
    //    Materialize'd once and SHARED by the owner and conflict sections
    //    (Catalyst does not dedupe identical subtrees across a union;
    //    without the checkpoint the propagation would run twice).
    //  * the risk section broadcast-SEMI-joins SUPPLIED_BY down to the
    //    seed's own parts BEFORE aggregating — g16's flag semantics,
    //    never the corpus-wide per-part aggregate.
    //  * the fuzzy pair stream is cut to pairs IMPLICATING a principal
    //    (top-25) owner — either end — by two broadcast semi-joins
    //    union'd then dedup'd; cutting merely to the full cone is not a
    //    dossier (measured: the sf0.1 cone covers ~all customers and
    //    re-emits ~120k g46 pairs — a board, not a briefing). The
    //    blocked pair join itself stays the one board-wide shuffle
    //    (candidate generation cannot be seed-local: a conflict partner
    //    is found, not known in advance).
    //  * risk + ego re-read lineitem via separate GraphBuilder.edges
    //    subtrees — a dossier SERVICE would cache the edge table across
    //    sections and seeds; per-query that tradeoff buys nothing (each
    //    section reads a different slice).
    // Owners are rank-truncated (top 25 by rounded share, owner-id tie
    // break) — absolute thresholds on out-normalized shares dilute to
    // empty as the graph grows (the g03_ubo_owners lesson); the 25%-style
    // regulatory gate is a WHERE the analyst applies to the score column.
    E("g52_entity_dossier", (s, d) => {
      val t = Tables(s, d)
      val seed = GraphBuilder.SupplierBase + 1L
      def rev(df: DataFrame) = df.select(col("dst").as("src"), col("src").as("dst"), col("weight"))
      // step 1 = identity on the reversed supplied layer at the seed
      // (Ubo.seedStep — bit-identical, one join+agg step elided; r17)
      val s1 = Ubo.seedStep(rev(Ubo.suppliedByEdges(t)), col("src") === seed)
      val cone = Ubo.propagateLayers(
          Seq(rev(Ubo.containsEdges(t)), rev(Ubo.placedEdges(t))),
          s1, epsilon = None, materializeLayers = false)
        .select(col("entity").as("owner"), round(col("share"), 6).as("share6"))
        .transform(Materialize.apply) // shared: owner top-k + conflict cut
      val custNames = t.customer.select(
        (lit(GraphBuilder.CustomerBase) + col("c_custkey")).as("owner"),
        col("c_name").as("detail"))
      val ownTop = cone.orderBy(col("share6").desc, col("owner")).limit(25)
        .transform(Materialize.apply) // shared: owner section + conflict cut
      val ownerRows = ownTop
        .join(broadcast(custNames), Seq("owner"))
        .select(lit("owner").as("section"), col("owner").as("key"), col("detail"),
                col("share6").as("score"))
      val topCk = ownTop.select((col("owner") - GraphBuilder.CustomerBase).as("ck"))
      val pairs = fuzzyCustomerPairs(s, d)
      val conflictRows = pairs
          .join(broadcast(topCk.withColumnRenamed("ck", "id_a")), Seq("id_a"), "left_semi")
        .unionByName(pairs
          .join(broadcast(topCk.withColumnRenamed("ck", "id_b")), Seq("id_b"), "left_semi"))
        .distinct() // a pair with BOTH ends principal appears in both legs
        .select(lit("name_conflict").as("section"),
                (lit(GraphBuilder.CustomerBase) + col("id_a")).as("key"),
                concat(col("name_a"), lit(" ~ "), col("name_b")).as("detail"),
                col("dist").cast("double").as("score"))
      val sb = GraphBuilder.edges(t).filter(col("rel_type") === "SUPPLIED_BY")
      val seedParts = sb.filter(col("dst") === seed).select(col("src").as("pid")).distinct()
      val agg = sb.join(broadcast(seedParts), col("src") === col("pid"), "left_semi")
        .groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("n"), max(col("weight")).as("mx"))
        .withColumn("ratio", col("mx") * col("n"))
      val flagged = agg.filter(col("ratio") >= 2.5)
          .select(col("id"), lit("dominant_supplier").as("flag"), col("ratio"))
        .unionByName(agg.filter(col("ratio") >= 3.0)
          .select(col("id"), lit("highly_concentrated").as("flag"), col("ratio")))
      val riskRows = flagged.groupBy(col("id").as("key"))
        .agg(array_join(sort_array(collect_set(col("flag"))), ",").as("detail"),
             round(max(col("ratio")), 6).as("score"))
        .select(lit("risk_part").as("section"), col("key"), col("detail"), col("score"))
      val ego = Traversals.egoNet(GraphBuilder.edges(t), seed, 2)
      val egoEdgeRows = ego.groupBy(col("rel_type").as("detail"))
        .agg(count(lit(1)).cast("double").as("score"))
        .select(lit("ego_edges").as("section"), lit(0L).as("key"), col("detail"), col("score"))
      val egoNodeRows = ego.select(col("src").as("nid"))
        .unionByName(ego.select(col("dst").as("nid")))
        .distinct().agg(count(lit(1)).cast("double").as("score"))
        .select(lit("ego_nodes").as("section"), lit(0L).as("key"),
                lit("nodes").as("detail"), col("score"))
      ownerRows.unionByName(conflictRows).unionByName(riskRows)
        .unionByName(egoEdgeRows).unionByName(egoNodeRows)
        .orderBy("section", "key", "detail")
    }, Some(s"""
      WITH RECURSIVE ${UboSql.uboEdgesCte},
      b0 AS (SELECT CAST(4000000001 AS BIGINT) AS entity, CAST(1.0 AS DOUBLE) AS share),
      b1 AS (SELECT e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b0 p JOIN ubo_edges e ON e.dst = p.entity GROUP BY 1),
      b2 AS (SELECT e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b1 p JOIN ubo_edges e ON e.dst = p.entity GROUP BY 1),
      b3 AS (SELECT e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b2 p JOIN ubo_edges e ON e.dst = p.entity GROUP BY 1),
      cone AS MATERIALIZED (SELECT entity AS owner, ROUND(share, 6) AS share6 FROM b3),
      own_top AS MATERIALIZED (SELECT owner, share6 FROM cone ORDER BY share6 DESC, owner LIMIT 25),
      $fuzzyPairsSql,
      topck AS (SELECT owner - 3000000000 AS ck FROM own_top),
      ${GraphSql.edgesCte},
      seed_parts AS (SELECT DISTINCT src AS pid FROM graph_edges
                     WHERE rel_type = 'SUPPLIED_BY' AND dst = 4000000001),
      agg AS (SELECT src AS id, COUNT(*) AS n, MAX(weight) AS mx, MAX(weight) * COUNT(*) AS ratio
              FROM graph_edges WHERE rel_type = 'SUPPLIED_BY' AND src IN (SELECT pid FROM seed_parts)
              GROUP BY src),
      f AS (SELECT id, 'dominant_supplier' AS flag, ratio FROM agg WHERE ratio >= 2.5
            UNION ALL SELECT id, 'highly_concentrated', ratio FROM agg WHERE ratio >= 3.0),
      sym AS (SELECT src, dst FROM graph_edges UNION ALL SELECT dst, src FROM graph_edges),
      reach(id, depth) AS (
        SELECT CAST(4000000001 AS BIGINT), 0
        UNION ALL
        SELECT s2.dst, r.depth + 1 FROM reach r JOIN sym s2 ON s2.src = r.id WHERE r.depth < 2),
      rs AS (SELECT DISTINCT id FROM reach),
      ego AS MATERIALIZED (SELECT e.src, e.dst, e.rel_type
            FROM graph_edges e JOIN rs a ON e.src = a.id JOIN rs b ON e.dst = b.id)
      SELECT 'owner' AS section, o.owner AS "key", c.c_name AS detail, o.share6 AS score
      FROM own_top o JOIN customer c ON 3000000000 + c.c_custkey = o.owner
      UNION ALL
      SELECT 'name_conflict', CAST(3000000000 + cust_a AS BIGINT),
             name_a || ' ~ ' || name_b, CAST(dist AS DOUBLE)
      FROM fpairs WHERE cust_a IN (SELECT ck FROM topck)
                     OR cust_b IN (SELECT ck FROM topck)
      UNION ALL
      SELECT 'risk_part', id, string_agg(flag, ',' ORDER BY flag), ROUND(MAX(ratio), 6)
      FROM f GROUP BY id
      UNION ALL
      SELECT 'ego_edges', CAST(0 AS BIGINT), rel_type, CAST(COUNT(*) AS DOUBLE)
      FROM ego GROUP BY rel_type
      UNION ALL
      SELECT 'ego_nodes', CAST(0 AS BIGINT), 'nodes', CAST(COUNT(*) AS DOUBLE)
      FROM (SELECT src AS nid FROM ego UNION SELECT dst FROM ego)
      ORDER BY section, "key", detail""")),

    // G53 — WATCHLIST dossiers: g52's backward single-seed cone, BATCHED
    // over a seed set in ONE plan. The batching lever is structural:
    // Ubo.propagateLayers' state is (owner, entity, share) and the owner
    // column is a free batch key, so a k-supplier watchlist propagates
    // with a k-row init — the same 3 joins as one seed, state bounded by
    // k × cone size, per-seed top-5 via one window partitioned on the
    // supplier column. This is the egoMembers batching argument (k
    // dossiers cost one plan's shuffles, not k plans) applied to the
    // ownership propagation — the shape a compliance team screening a
    // sanctions watchlist runs nightly at 100 TB. Rank-truncated top-5
    // per seed (the g03_ubo_owners dilution lesson: never absolute
    // thresholds on out-normalized shares).
    E("g53_watchlist_dossiers", (s, d) => {
      val t = Tables(s, d)
      def rev(df: DataFrame) = df.select(col("dst").as("src"), col("src").as("dst"), col("weight"))
      // step 1 = identity on the reversed supplied layer at the 3 seeds
      // (Ubo.seedStep — bit-identical, one join+agg step elided; r17)
      val s1 = Ubo.seedStep(rev(Ubo.suppliedByEdges(t)),
        col("src").between(GraphBuilder.SupplierBase + 1L, GraphBuilder.SupplierBase + 3L))
      val cones = Ubo.propagateLayers(
          Seq(rev(Ubo.containsEdges(t)), rev(Ubo.placedEdges(t))),
          s1, epsilon = None, materializeLayers = false)
        .select(col("owner").as("supplier"), col("entity").as("holder"),
                round(col("share"), 6).as("share6"))
      val bySupp = org.apache.spark.sql.expressions.Window.partitionBy("supplier")
        .orderBy(col("share6").desc, col("holder"))
      val custNames = t.customer.select(
        (lit(GraphBuilder.CustomerBase) + col("c_custkey")).as("holder"),
        col("c_name").as("holder_name"))
      cones.withColumn("rnk", row_number().over(bySupp).cast("long"))
        .filter(col("rnk") <= 5)
        .join(broadcast(custNames), Seq("holder"))
        .select(col("supplier"), col("rnk"), col("holder"), col("holder_name"), col("share6"))
        .orderBy("supplier", "rnk")
    }, Some(s"""
      WITH ${UboSql.uboEdgesCte},
      b0 AS (SELECT CAST(4000000000 + v.s AS BIGINT) AS supplier,
                    CAST(4000000000 + v.s AS BIGINT) AS entity,
                    CAST(1.0 AS DOUBLE) AS share
             FROM (VALUES (1), (2), (3)) AS v(s)),
      b1 AS (SELECT p.supplier, e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b0 p JOIN ubo_edges e ON e.dst = p.entity GROUP BY 1, 2),
      b2 AS (SELECT p.supplier, e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b1 p JOIN ubo_edges e ON e.dst = p.entity GROUP BY 1, 2),
      b3 AS (SELECT p.supplier, e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b2 p JOIN ubo_edges e ON e.dst = p.entity GROUP BY 1, 2),
      cone AS (SELECT supplier, entity AS holder, ROUND(share, 6) AS share6 FROM b3),
      rk AS (SELECT supplier, holder, share6,
                    ROW_NUMBER() OVER (PARTITION BY supplier ORDER BY share6 DESC, holder) AS rnk
             FROM cone)
      SELECT supplier, CAST(rnk AS BIGINT) AS rnk, r.holder, c.c_name AS holder_name, share6
      FROM rk r JOIN customer c ON 3000000000 + c.c_custkey = r.holder
      WHERE rnk <= 5
      ORDER BY supplier, rnk""")),

    // G24 — UBO AS-OF: beneficial ownership AT each Time-Slider position
    // (README.md:13 UBO × README.md:17 "evolved over years" — "who held
    // supplier S in 1996 vs 2001?" is the audit question the slider
    // renders). Semantics matter here: an as-of cone is NOT the current
    // cone filtered — ownership SHARES RENORMALIZE among what existed by
    // the date (a supplier's 1996 holder mix divides 1996's quantities by
    // 1996's totals). Scale shape, in two moves: (1) all slider dates'
    // layer weights come from ONE scan per layer — per-date conditional
    // sums (sum(when(ship <= d, qty))) on the grouped keys, unpivoted to
    // (as_of, src, dst, qty), window-normalized per (as_of, src) — dates
    // add zero scans, only pre-agg-sized rows; the placed layer (per-order
    // edges, nothing to pre-aggregate away) explodes dates per order row
    // and filters, one scan likewise. (2) the propagation batches the date
    // axis exactly the way g53 batches seeds: Ubo.propagateLayers, given a
    // dated init, carries as_of through the step join keys, so suppliers ×
    // dates cost the same three joins as one cone. Rank-truncated top-5 per
    // (date, supplier) — the g03 dilution lesson.
    E("g56_ubo_asof", (s, d) => {
      val t = Tables(s, d)
      val dates = Seq(1996, 1998, 2001).map(y => s"$y-12-31 23:59:59")
      def asOf(ds: String) = lit(ds).cast("timestamp_ntz")
      val Seq(supplied, contains, placed) = datedUboLayers(t, dates)
      def rev(df: DataFrame) = df.select(col("as_of"),
        col("dst").as("src"), col("src").as("dst"), col("weight"))
      // step 1 = identity on the reversed dated supplied layer at the 3
      // seeds (Ubo.seedStep on a dated layer — bit-identical per (owner,
      // as_of) cell, one join+agg step elided; the layers carry exactly
      // the slider dates the old seed frame crossed in; r17)
      val s1 = Ubo.seedStep(rev(supplied),
        col("src").between(GraphBuilder.SupplierBase + 1L, GraphBuilder.SupplierBase + 3L))
      val cones = Ubo.propagateLayers(Seq(rev(contains), rev(placed)), s1,
        materializeLayers = false)
        .select(year(col("as_of")).cast("long").as("as_of_year"),
                col("owner").as("supplier"), col("entity").as("holder"),
                round(col("share"), 6).as("share6"))
      val w = Window.partitionBy("as_of_year", "supplier")
        .orderBy(col("share6").desc, col("holder"))
      val custNames = t.customer.select(
        (lit(GraphBuilder.CustomerBase) + col("c_custkey")).as("holder"),
        col("c_name").as("holder_name"))
      cones.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .join(broadcast(custNames), Seq("holder"))
        .select(col("as_of_year"), col("supplier"), col("rnk"), col("holder"),
                col("holder_name"), col("share6"))
        .orderBy("as_of_year", "supplier", "rnk")
    }, Some(s"""
      WITH dates(as_of) AS (VALUES (TIMESTAMP '1996-12-31 23:59:59'),
                                   (TIMESTAMP '1998-12-31 23:59:59'),
                                   (TIMESTAMP '2001-12-31 23:59:59')),
      placed_a AS (
        SELECT d.as_of, CAST(3000000000 + o_custkey AS BIGINT) AS src,
               CAST(6000000000 + o_orderkey AS BIGINT) AS dst,
               CAST(1.0 AS DOUBLE) / COUNT(*) OVER (PARTITION BY d.as_of, o_custkey) AS weight
        FROM orders CROSS JOIN dates d WHERE o_orderdate <= d.as_of),
      contains_a AS (
        SELECT as_of, CAST(6000000000 + l_orderkey AS BIGINT) AS src,
               CAST(5000000000 + l_partkey AS BIGINT) AS dst,
               CAST(qty AS DOUBLE) / CAST(SUM(qty) OVER (PARTITION BY as_of, l_orderkey) AS DOUBLE) AS weight
        FROM (SELECT d.as_of, l_orderkey, l_partkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
              FROM lineitem CROSS JOIN dates d WHERE l_shipdate <= d.as_of GROUP BY 1, 2, 3)),
      supplied_a AS (
        SELECT as_of, CAST(5000000000 + l_partkey AS BIGINT) AS src,
               CAST(4000000000 + l_suppkey AS BIGINT) AS dst,
               CAST(qty AS DOUBLE) / CAST(SUM(qty) OVER (PARTITION BY as_of, l_partkey) AS DOUBLE) AS weight
        FROM (SELECT d.as_of, l_partkey, l_suppkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
              FROM lineitem CROSS JOIN dates d WHERE l_shipdate <= d.as_of GROUP BY 1, 2, 3)),
      b0 AS (SELECT CAST(4000000000 + v.s AS BIGINT) AS supplier, d.as_of,
                    CAST(4000000000 + v.s AS BIGINT) AS entity, CAST(1.0 AS DOUBLE) AS share
             FROM (VALUES (1), (2), (3)) AS v(s) CROSS JOIN dates d),
      b1 AS (SELECT p.supplier, p.as_of, e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b0 p JOIN supplied_a e ON e.dst = p.entity AND e.as_of = p.as_of GROUP BY 1, 2, 3),
      b2 AS (SELECT p.supplier, p.as_of, e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b1 p JOIN contains_a e ON e.dst = p.entity AND e.as_of = p.as_of GROUP BY 1, 2, 3),
      b3 AS (SELECT p.supplier, p.as_of, e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b2 p JOIN placed_a e ON e.dst = p.entity AND e.as_of = p.as_of GROUP BY 1, 2, 3),
      cone AS (SELECT supplier, as_of, entity AS holder, ROUND(share, 6) AS share6 FROM b3),
      rk AS (SELECT supplier, as_of, holder, share6,
                    ROW_NUMBER() OVER (PARTITION BY as_of, supplier
                                       ORDER BY share6 DESC, holder) AS rnk
             FROM cone)
      SELECT CAST(EXTRACT(year FROM r.as_of) AS BIGINT) AS as_of_year, supplier,
             CAST(rnk AS BIGINT) AS rnk, r.holder, c.c_name AS holder_name, share6
      FROM rk r JOIN customer c ON 3000000000 + c.c_custkey = r.holder
      WHERE rnk <= 5
      ORDER BY as_of_year, supplier, rnk""")),

    // G25 — CONNECTION FINDER: "how are entities X and Y connected?" — the
    // first question an analyst asks when two names co-occur (README.md:4-6
    // "untangle complex corporate webs", README.md:11 N-tier navigation).
    // Bidirectional meet-in-the-middle over the TRANSACTIONAL web only
    // (PLACED/CONTAINS/SUPPLIED_BY — geography edges connect everyone
    // through nation hubs at distance 2 and drown the business signal):
    // dist(s,t) = min over meeting nodes m of depth_s(m) + depth_t(m),
    // exact for dist <= 4 with radius-2 cones; pairs beyond 4 hops report
    // -1, the documented bound. Semantics, scale arithmetic (~2b^2 cone
    // rows vs ~b^4 for a single-source radius-4 BFS), the one-traversal
    // batching of ALL pair endpoints, and the n_meet width reading live in
    // Traversals.connectionDistance's scaladoc; ConnectionSpec pins
    // exactness, the -1 bound, and the meet-window semantics on a fixture.
    E("g57_connection", (s, d) => {
      import s.implicits._
      val t = Tables(s, d)
      val ebiz = GraphBuilder.edges(t)
        .filter(col("rel_type").isin("PLACED", "CONTAINS", "SUPPLIED_BY"))
        .select("src", "dst")
      val pairs = Seq(
          (GraphBuilder.CustomerBase + 1L, GraphBuilder.CustomerBase + 2L),
          (GraphBuilder.CustomerBase + 1L, GraphBuilder.SupplierBase + 1L),
          (GraphBuilder.SupplierBase + 1L, GraphBuilder.SupplierBase + 2L))
        .toDF("s_id", "t_id")
      Traversals.connectionDistance(ebiz, pairs, 2).orderBy("s_id", "t_id")
    }, Some(s"""
      WITH RECURSIVE $edgesCte,
      eb AS (SELECT src, dst FROM graph_edges
             WHERE rel_type IN ('PLACED', 'CONTAINS', 'SUPPLIED_BY')),
      sym AS (SELECT src, dst FROM eb UNION SELECT dst, src FROM eb),
      pairs(s_id, t_id) AS (VALUES
        (CAST(3000000001 AS BIGINT), CAST(3000000002 AS BIGINT)),
        (CAST(3000000001 AS BIGINT), CAST(4000000001 AS BIGINT)),
        (CAST(4000000001 AS BIGINT), CAST(4000000002 AS BIGINT))),
      seeds(seed) AS (SELECT s_id FROM pairs UNION SELECT t_id FROM pairs),
      reach(seed, id, depth) AS (
        SELECT seed, seed, 0 FROM seeds
        UNION ALL
        SELECT r.seed, s2.dst, r.depth + 1 FROM reach r JOIN sym s2 ON s2.src = r.id
        WHERE r.depth < 2),
      fm AS (SELECT seed, id, MIN(depth) AS dmin FROM reach GROUP BY 1, 2),
      meets AS (
        SELECT p.s_id, p.t_id, f.id, f.dmin + b.dmin AS tot
        FROM pairs p
        JOIN fm f ON f.seed = p.s_id
        JOIN fm b ON b.seed = p.t_id AND b.id = f.id),
      best AS (SELECT s_id, t_id, MIN(tot) AS dist FROM meets GROUP BY 1, 2),
      agg AS (
        SELECT m.s_id, m.t_id, b.dist, COUNT(*) AS n_meet, MIN(m.id) AS meet_min
        FROM meets m JOIN best b ON b.s_id = m.s_id AND b.t_id = m.t_id AND m.tot = b.dist
        GROUP BY 1, 2, 3)
      SELECT p.s_id, p.t_id,
             CAST(COALESCE(a.dist, -1) AS BIGINT) AS dist,
             CAST(COALESCE(a.n_meet, 0) AS BIGINT) AS n_meet,
             CAST(COALESCE(a.meet_min, -1) AS BIGINT) AS meet_min
      FROM pairs p LEFT JOIN agg a ON a.s_id = p.s_id AND a.t_id = p.t_id
      ORDER BY p.s_id, p.t_id""")),

    // G25b — the connection WITH its witness path: g57 answers "are they
    // connected, how closely, through how many routes"; g58 draws ONE
    // canonical route (README.md:11 "intuitive node-link diagrams" — the
    // path is what the diagram renders when the analyst clicks two
    // entities). Same one-traversal batching, now carrying a min-parent
    // pointer per (seed, node); the path is rebuilt by radius conditional
    // backtrack joins per side from the deterministic meet witness —
    // path strings exist only on the |pairs| output rows, never in the
    // frontier (the g05 path-enumeration cost is exactly what this
    // avoids). Canonicality contract (min depth, then min parent) is
    // argued in egoMembersParents' scaladoc and pinned byte-for-byte by
    // the oracle's (depth, parent)-ranked walk enumeration.
    E("g58_connection_path", (s, d) => {
      import s.implicits._
      val t = Tables(s, d)
      val ebiz = GraphBuilder.edges(t)
        .filter(col("rel_type").isin("PLACED", "CONTAINS", "SUPPLIED_BY"))
        .select("src", "dst")
      val pairs = Seq(
          (GraphBuilder.CustomerBase + 1L, GraphBuilder.CustomerBase + 2L),
          (GraphBuilder.CustomerBase + 1L, GraphBuilder.SupplierBase + 1L),
          (GraphBuilder.SupplierBase + 1L, GraphBuilder.SupplierBase + 2L))
        .toDF("s_id", "t_id")
      Traversals.connectionPaths(ebiz, pairs, 2).orderBy("s_id", "t_id")
    }, Some(s"""
      WITH RECURSIVE $edgesCte,
      eb AS (SELECT src, dst FROM graph_edges
             WHERE rel_type IN ('PLACED', 'CONTAINS', 'SUPPLIED_BY')),
      sym AS (SELECT src, dst FROM eb UNION SELECT dst, src FROM eb),
      pairs(s_id, t_id) AS (VALUES
        (CAST(3000000001 AS BIGINT), CAST(3000000002 AS BIGINT)),
        (CAST(3000000001 AS BIGINT), CAST(4000000001 AS BIGINT)),
        (CAST(4000000001 AS BIGINT), CAST(4000000002 AS BIGINT))),
      seeds(seed) AS (SELECT s_id FROM pairs UNION SELECT t_id FROM pairs),
      reachp(seed, id, depth, parent) AS (
        SELECT seed, seed, 0, CAST(-1 AS BIGINT) FROM seeds
        UNION ALL
        SELECT r.seed, s2.dst, r.depth + 1, r.id FROM reachp r JOIN sym s2 ON s2.src = r.id
        WHERE r.depth < 2),
      pm AS (SELECT seed, id, depth, parent FROM (
               SELECT seed, id, depth, parent,
                      ROW_NUMBER() OVER (PARTITION BY seed, id
                                         ORDER BY depth, parent) AS rn
               FROM reachp) WHERE rn = 1),
      meets AS (
        SELECT p.s_id, p.t_id, f.id, f.depth + b.depth AS tot
        FROM pairs p
        JOIN pm f ON f.seed = p.s_id
        JOIN pm b ON b.seed = p.t_id AND b.id = f.id),
      best AS (SELECT s_id, t_id, MIN(tot) AS dist FROM meets GROUP BY 1, 2),
      witness AS (
        SELECT m.s_id, m.t_id, b.dist, MIN(m.id) AS meet
        FROM meets m JOIN best b ON b.s_id = m.s_id AND b.t_id = m.t_id AND m.tot = b.dist
        GROUP BY 1, 2, 3),
      w0 AS (SELECT s_id, t_id, dist,
                    meet AS s_cur, CAST(meet AS VARCHAR) AS s_chain,
                    meet AS t_cur, '' AS t_chain
             FROM witness),
      w1 AS (SELECT w.s_id, w.t_id, w.dist,
                    CASE WHEN sp.parent IS NOT NULL AND sp.parent <> -1
                         THEN sp.parent ELSE w.s_cur END AS s_cur,
                    CASE WHEN sp.parent IS NOT NULL AND sp.parent <> -1
                         THEN CAST(sp.parent AS VARCHAR) || '->' || w.s_chain
                         ELSE w.s_chain END AS s_chain,
                    CASE WHEN tp.parent IS NOT NULL AND tp.parent <> -1
                         THEN tp.parent ELSE w.t_cur END AS t_cur,
                    CASE WHEN tp.parent IS NOT NULL AND tp.parent <> -1
                         THEN w.t_chain || '->' || CAST(tp.parent AS VARCHAR)
                         ELSE w.t_chain END AS t_chain
             FROM w0 w
             LEFT JOIN pm sp ON sp.seed = w.s_id AND sp.id = w.s_cur
             LEFT JOIN pm tp ON tp.seed = w.t_id AND tp.id = w.t_cur),
      w2 AS (SELECT w.s_id, w.t_id, w.dist,
                    CASE WHEN sp.parent IS NOT NULL AND sp.parent <> -1
                         THEN sp.parent ELSE w.s_cur END AS s_cur,
                    CASE WHEN sp.parent IS NOT NULL AND sp.parent <> -1
                         THEN CAST(sp.parent AS VARCHAR) || '->' || w.s_chain
                         ELSE w.s_chain END AS s_chain,
                    CASE WHEN tp.parent IS NOT NULL AND tp.parent <> -1
                         THEN tp.parent ELSE w.t_cur END AS t_cur,
                    CASE WHEN tp.parent IS NOT NULL AND tp.parent <> -1
                         THEN w.t_chain || '->' || CAST(tp.parent AS VARCHAR)
                         ELSE w.t_chain END AS t_chain
             FROM w1 w
             LEFT JOIN pm sp ON sp.seed = w.s_id AND sp.id = w.s_cur
             LEFT JOIN pm tp ON tp.seed = w.t_id AND tp.id = w.t_cur)
      SELECT p.s_id, p.t_id,
             CAST(COALESCE(w.dist, -1) AS BIGINT) AS dist,
             COALESCE(w.s_chain || w.t_chain, '-') AS path_str
      FROM pairs p LEFT JOIN w2 w ON w.s_id = p.s_id AND w.t_id = p.t_id
      ORDER BY p.s_id, p.t_id""")),

    // G26 — STRONGEST connection (VERDICT r11 #1; README.md:13 UBO
    // percentages × README.md:28 weighted pathfinding): g57 answers "how
    // FAR apart are X and Y"; the analyst's follow-up is "how STRONG is
    // the strongest ownership chain between them". Bidirectional
    // meet-in-the-middle extended to MAX-PRODUCT over the symmetrized
    // UBO-normalized web (weights ≤ 1 by construction — the walk-dominance
    // argument needs that): per-cone best product to each member is the
    // g39 Viterbi recurrence (Ubo.strongestChain) run from ALL pair
    // endpoints as one batched owner set, the meet maximizes
    // prod_s × prod_t, and the witness chain is the two per-cell argmax
    // chains spliced at the meet (reversal is product-preserving on
    // symmetric weights). Exactness and the ~2b^k-vs-b^2k scale arithmetic
    // live in Traversals.strongestConnections' scaladoc; ConnectionSpec
    // pins meet-max ≡ single-source max on a fixture whose strongest
    // chain is NOT a shortest chain.
    E("g59_strongest_connection", (s, d) => {
      import s.implicits._
      val pairs = Seq(
          (GraphBuilder.CustomerBase + 1L, GraphBuilder.CustomerBase + 2L),
          (GraphBuilder.CustomerBase + 1L, GraphBuilder.SupplierBase + 1L),
          (GraphBuilder.SupplierBase + 1L, GraphBuilder.SupplierBase + 2L))
        .toDF("s_id", "t_id")
      Traversals.strongestConnections(Ubo.uboEdges(Tables(s, d)), pairs, 2)
        .orderBy("s_id", "t_id")
    }, Some(s"""
      WITH ${UboSql.uboEdgesCte},
      symw AS (SELECT src, dst, weight FROM ubo_edges
               UNION ALL SELECT dst, src, weight FROM ubo_edges),
      pairs(s_id, t_id) AS (VALUES
        (CAST(3000000001 AS BIGINT), CAST(3000000002 AS BIGINT)),
        (CAST(3000000001 AS BIGINT), CAST(4000000001 AS BIGINT)),
        (CAST(4000000001 AS BIGINT), CAST(4000000002 AS BIGINT))),
      seeds(seed) AS (SELECT s_id FROM pairs UNION SELECT t_id FROM pairs),
      c0 AS (SELECT seed AS owner, seed AS entity, CAST(1.0 AS DOUBLE) AS share,
                    CAST(seed AS VARCHAR) AS chain FROM seeds),
      ${UboSql.chainStep("c0", "c1", "symw")},
      ${UboSql.chainStep("c1", "c2", "symw")},
      allc AS (SELECT owner, entity, share, chain, 0 AS hops FROM c0
               UNION ALL SELECT owner, entity, share, chain, 1 FROM c1
               UNION ALL SELECT owner, entity, share, chain, 2 FROM c2),
      cones AS (SELECT owner, entity, share, chain, hops FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY owner, entity
                                               ORDER BY share DESC, chain) AS rn
                  FROM allc) WHERE rn = 1),
      meets AS (SELECT p.s_id, p.t_id, f.share * b.share AS strength,
                       array_to_string(list_concat(string_split(f.chain, '->'),
                         list_reverse(string_split(b.chain, '->'))[2:]), '->') AS chain,
                       f.hops + b.hops AS hops
                FROM pairs p
                JOIN cones f ON f.owner = p.s_id
                JOIN cones b ON b.owner = p.t_id AND b.entity = f.entity),
      best AS (SELECT s_id, t_id, strength, chain, hops,
                      ROW_NUMBER() OVER (PARTITION BY s_id, t_id
                                         ORDER BY strength DESC, chain) AS rn
               FROM meets)
      SELECT p.s_id, p.t_id,
             ROUND(COALESCE(b.strength, 0), 6) AS strength6,
             COALESCE(b.chain, '-') AS chain,
             CAST(COALESCE(b.hops, -1) AS BIGINT) AS hops
      FROM pairs p LEFT JOIN best b ON b.s_id = p.s_id AND b.t_id = p.t_id AND b.rn = 1
      ORDER BY p.s_id, p.t_id""")),

    // G27 — TEMPORAL connection finder (VERDICT r11 #2; README.md:17's
    // Time-Slider × g57): "were X and Y connected as of T?" — connectivity
    // NOW is g57; an audit asks it at past slider positions, where the
    // answer legitimately DIFFERS (orders not yet placed, parts not yet
    // shipped). The batch key grows from seed to (seed, as_of) exactly as
    // s09 extends s07 (egoMembers' free-batch-key shape): one
    // traversal answers every (pair, position), the meet join carries
    // as_of in its keys so no cross-date leakage is possible (pinned by
    // ConnectionSpec on a fixture with a not-yet-valid edge). The two
    // graded positions straddle the fixture's order history, so at least
    // one pair's answer changes across them — the slider showing a
    // connection FORM over time.
    E("g60_connection_asof", (s, d) => {
      import s.implicits._
      val t = Tables(s, d)
      val ebiz = GraphBuilder.edges(t)
        .filter(col("rel_type").isin("PLACED", "CONTAINS", "SUPPLIED_BY"))
        .select("src", "dst", "valid_from")
      val base = Seq(
          (GraphBuilder.CustomerBase + 1L, GraphBuilder.CustomerBase + 2L),
          (GraphBuilder.CustomerBase + 1L, GraphBuilder.SupplierBase + 1L),
          (GraphBuilder.SupplierBase + 1L, GraphBuilder.SupplierBase + 2L))
        .toDF("s_id", "t_id")
      val dates = Seq("1992-06-30 23:59:59", "1998-12-31 23:59:59")
        .map(Tuple1(_)).toDF("ds")
      val pairs = base.crossJoin(dates.select(col("ds").cast("timestamp_ntz").as("as_of")))
      Traversals.connectionDistance(ebiz, pairs, 2)
        .select(col("s_id"), col("t_id"), year(col("as_of")).cast("long").as("as_of_year"),
                col("dist"), col("n_meet"), col("meet_min"))
        .orderBy("s_id", "t_id", "as_of_year")
    }, Some(s"""
      WITH RECURSIVE $edgesCte,
      eb AS (SELECT src, dst, valid_from FROM graph_edges
             WHERE rel_type IN ('PLACED', 'CONTAINS', 'SUPPLIED_BY')),
      symv AS (SELECT src, dst, MIN(COALESCE(valid_from, TIMESTAMP '1970-01-01')) AS active_from
               FROM (SELECT src, dst, valid_from FROM eb
                     UNION ALL SELECT dst, src, valid_from FROM eb)
               GROUP BY 1, 2),
      bp(s_id, t_id) AS (VALUES
        (CAST(3000000001 AS BIGINT), CAST(3000000002 AS BIGINT)),
        (CAST(3000000001 AS BIGINT), CAST(4000000001 AS BIGINT)),
        (CAST(4000000001 AS BIGINT), CAST(4000000002 AS BIGINT))),
      dts(as_of) AS (VALUES (TIMESTAMP '1992-06-30 23:59:59'),
                            (TIMESTAMP '1998-12-31 23:59:59')),
      pr AS (SELECT s_id, t_id, as_of FROM bp CROSS JOIN dts),
      seeds AS (SELECT s_id AS seed, as_of FROM pr UNION SELECT t_id, as_of FROM pr),
      reach(seed, as_of, id, depth) AS (
        SELECT seed, as_of, seed, 0 FROM seeds
        UNION ALL
        SELECT r.seed, r.as_of, s2.dst, r.depth + 1
        FROM reach r JOIN symv s2 ON s2.src = r.id
        WHERE r.depth < 2 AND s2.active_from <= r.as_of),
      fm AS (SELECT seed, as_of, id, MIN(depth) AS dmin FROM reach GROUP BY 1, 2, 3),
      meets AS (SELECT p.s_id, p.t_id, p.as_of, f.id, f.dmin + b2.dmin AS tot
                FROM pr p
                JOIN fm f ON f.seed = p.s_id AND f.as_of = p.as_of
                JOIN fm b2 ON b2.seed = p.t_id AND b2.as_of = p.as_of AND b2.id = f.id),
      best AS (SELECT s_id, t_id, as_of, MIN(tot) AS dist FROM meets GROUP BY 1, 2, 3),
      agg AS (SELECT m.s_id, m.t_id, m.as_of, b.dist,
                     COUNT(*) AS n_meet, MIN(m.id) AS meet_min
              FROM meets m JOIN best b ON b.s_id = m.s_id AND b.t_id = m.t_id
                AND b.as_of = m.as_of AND m.tot = b.dist
              GROUP BY 1, 2, 3, 4)
      SELECT p.s_id, p.t_id, CAST(EXTRACT(year FROM p.as_of) AS BIGINT) AS as_of_year,
             CAST(COALESCE(a.dist, -1) AS BIGINT) AS dist,
             CAST(COALESCE(a.n_meet, 0) AS BIGINT) AS n_meet,
             CAST(COALESCE(a.meet_min, -1) AS BIGINT) AS meet_min
      FROM pr p LEFT JOIN agg a ON a.s_id = p.s_id AND a.t_id = p.t_id AND a.as_of = p.as_of
      ORDER BY p.s_id, p.t_id, as_of_year""")),

    // G29b — DOSSIER DELTA between Time-Slider positions: "what CHANGED
    // in supplier S's dossier between 1996 and 2001?" — the slider
    // animates the dossier too, and unlike s11's monotone node
    // membership the dossier genuinely REMOVES rows as the slider moves
    // (a top-3 owner displaced by a later holder, a part whose
    // concentration ratio renormalizes back under the flag threshold),
    // so added/removed/changed are all load-bearing. Row identity is
    // (supplier, section, key) with detail folded in for the ego
    // sections (their key is the section constant; the rel_type IS the
    // identity); "changed" = same identity, different detail or score.
    // One full-outer self-diff over the SAME materialized rows g62
    // builds (dossierAsOfRows — the diff adds zero scans), aggregated
    // to per-(supplier, section, status) counts with a deterministic
    // min-key witness.
    E("g65_dossier_delta", (s, d) => {
      val rows = dossierAsOfRows(s, d).transform(Materialize.apply)
      dossierDelta(rows, 1996, 2001)
    }, Some(s"""
      WITH RECURSIVE dates(as_of) AS (VALUES (TIMESTAMP '1996-12-31 23:59:59'),
                                             (TIMESTAMP '2001-12-31 23:59:59')),
      placed_a AS (
        SELECT d.as_of, CAST(3000000000 + o_custkey AS BIGINT) AS src,
               CAST(6000000000 + o_orderkey AS BIGINT) AS dst,
               CAST(1.0 AS DOUBLE) / COUNT(*) OVER (PARTITION BY d.as_of, o_custkey) AS weight
        FROM orders CROSS JOIN dates d WHERE o_orderdate <= d.as_of),
      contains_a AS (
        SELECT as_of, CAST(6000000000 + l_orderkey AS BIGINT) AS src,
               CAST(5000000000 + l_partkey AS BIGINT) AS dst,
               CAST(qty AS DOUBLE) / CAST(SUM(qty) OVER (PARTITION BY as_of, l_orderkey) AS DOUBLE) AS weight
        FROM (SELECT d.as_of, l_orderkey, l_partkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
              FROM lineitem CROSS JOIN dates d WHERE l_shipdate <= d.as_of GROUP BY 1, 2, 3)),
      supplied_a AS (
        SELECT as_of, CAST(5000000000 + l_partkey AS BIGINT) AS src,
               CAST(4000000000 + l_suppkey AS BIGINT) AS dst,
               CAST(qty AS DOUBLE) / CAST(SUM(qty) OVER (PARTITION BY as_of, l_partkey) AS DOUBLE) AS weight
        FROM (SELECT d.as_of, l_partkey, l_suppkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
              FROM lineitem CROSS JOIN dates d WHERE l_shipdate <= d.as_of GROUP BY 1, 2, 3)),
      b0 AS (SELECT CAST(4000000000 + v.s AS BIGINT) AS supplier, d.as_of,
                    CAST(4000000000 + v.s AS BIGINT) AS entity, CAST(1.0 AS DOUBLE) AS share
             FROM (VALUES (1), (2)) AS v(s) CROSS JOIN dates d),
      b1 AS (SELECT p.supplier, p.as_of, e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b0 p JOIN supplied_a e ON e.dst = p.entity AND e.as_of = p.as_of GROUP BY 1, 2, 3),
      b2 AS (SELECT p.supplier, p.as_of, e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b1 p JOIN contains_a e ON e.dst = p.entity AND e.as_of = p.as_of GROUP BY 1, 2, 3),
      b3 AS (SELECT p.supplier, p.as_of, e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b2 p JOIN placed_a e ON e.dst = p.entity AND e.as_of = p.as_of GROUP BY 1, 2, 3),
      cone AS (SELECT supplier, as_of, entity AS holder, ROUND(share, 6) AS share6 FROM b3),
      rk AS (SELECT supplier, as_of, holder, share6,
                    ROW_NUMBER() OVER (PARTITION BY as_of, supplier
                                       ORDER BY share6 DESC, holder) AS rnk
             FROM cone),
      owner_rows AS (
        SELECT r.as_of, r.supplier, 'owner' AS section, r.holder AS "key",
               c.c_name AS detail, r.share6 AS score
        FROM rk r JOIN customer c ON 3000000000 + c.c_custkey = r.holder
        WHERE r.rnk <= 3),
      pagg AS (SELECT as_of, src AS pid, COUNT(*) AS n, MAX(weight) AS mx,
                      MAX(weight) * COUNT(*) AS ratio
               FROM supplied_a GROUP BY 1, 2),
      seed_parts AS (SELECT DISTINCT as_of, dst AS supplier, src AS pid FROM supplied_a
                     WHERE dst IN (4000000001, 4000000002)),
      risk_rows AS (
        SELECT sp.as_of, sp.supplier, 'risk_part' AS section, sp.pid AS "key",
               CASE WHEN p.ratio >= 3.0 THEN 'dominant_supplier,highly_concentrated'
                    ELSE 'dominant_supplier' END AS detail,
               ROUND(p.ratio, 6) AS score
        FROM seed_parts sp JOIN pagg p ON p.as_of = sp.as_of AND p.pid = sp.pid
        WHERE p.ratio >= 2.5),
      ${edgesCte},
      sy(seed, as_of) AS (SELECT CAST(4000000000 + v.s AS BIGINT), d.as_of
                          FROM (VALUES (1), (2)) v(s) CROSS JOIN dates d),
      sym AS (SELECT src, dst, MIN(COALESCE(valid_from, TIMESTAMP '1970-01-01')) AS active_from
              FROM (SELECT src, dst, valid_from FROM graph_edges
                    UNION ALL SELECT dst, src, valid_from FROM graph_edges) GROUP BY 1, 2),
      reach(seed, as_of, id, depth) AS (
        SELECT seed, as_of, seed, 0 FROM sy
        UNION ALL
        SELECT r.seed, r.as_of, s2.dst, r.depth + 1
        FROM reach r JOIN sym s2 ON s2.src = r.id
        WHERE r.depth < 2 AND s2.active_from <= r.as_of),
      rs AS MATERIALIZED (SELECT DISTINCT seed, as_of, id FROM reach),
      ego_nodes AS (SELECT as_of, seed AS supplier, 'ego_nodes' AS section,
                           CAST(0 AS BIGINT) AS "key", 'nodes' AS detail,
                           CAST(COUNT(*) AS DOUBLE) AS score
                    FROM rs GROUP BY 1, 2),
      ind_a AS MATERIALIZED (
              SELECT a.seed, a.as_of, e.dst, e.rel_type
              FROM graph_edges e
              JOIN rs a ON e.src = a.id
              WHERE e.valid_from IS NULL OR e.valid_from <= a.as_of),
      ind AS (SELECT i.seed, i.as_of, i.rel_type
              FROM ind_a i
              JOIN rs b ON b.seed = i.seed AND b.as_of = i.as_of AND i.dst = b.id),
      ego_edges AS (SELECT as_of, seed AS supplier, 'ego_edges' AS section,
                           CAST(0 AS BIGINT) AS "key", rel_type AS detail,
                           CAST(COUNT(*) AS DOUBLE) AS score
                    FROM ind GROUP BY 1, 2, 5),
      allrows AS (SELECT * FROM owner_rows UNION ALL SELECT * FROM risk_rows
                  UNION ALL SELECT * FROM ego_nodes UNION ALL SELECT * FROM ego_edges),
      sa AS (SELECT supplier, section, "key",
                    CASE WHEN section LIKE 'ego%' THEN detail ELSE '' END AS ident,
                    detail, score
             FROM allrows WHERE EXTRACT(year FROM as_of) = 1996),
      sb AS (SELECT supplier, section, "key",
                    CASE WHEN section LIKE 'ego%' THEN detail ELSE '' END AS ident,
                    detail, score
             FROM allrows WHERE EXTRACT(year FROM as_of) = 2001),
      dj AS (SELECT COALESCE(sa.supplier, sb.supplier) AS supplier,
                    COALESCE(sa.section, sb.section) AS section,
                    COALESCE(sa."key", sb."key") AS "key",
                    CASE WHEN sa.supplier IS NULL THEN 'added'
                         WHEN sb.supplier IS NULL THEN 'removed'
                         WHEN sa.detail <> sb.detail OR sa.score <> sb.score THEN 'changed'
                         ELSE 'unchanged' END AS status
             FROM sa FULL OUTER JOIN sb
               ON sa.supplier = sb.supplier AND sa.section = sb.section
              AND sa."key" = sb."key" AND sa.ident = sb.ident)
      SELECT supplier, section, status, COUNT(*) AS n, MIN("key") AS sample_key
      FROM dj GROUP BY 1, 2, 3
      ORDER BY supplier, section, status""")),

    // G33 — INCREMENTAL connected components ("how structures have
    // evolved", README.md:17, maintained "in seconds", README.md:6): the
    // t17 materialized-view discipline applied to the graph side. A
    // standing CC labeling over the strong user-interaction graph (pair
    // interacted ≥2 times — g07_cc_users' graph, here AS-OF a date) is
    // MAINTAINED under the edges that became strong in the next window
    // via [[Algorithms.ccIncrement]]: map delta endpoints to current
    // labels, CC the ≤2·|delta|-node component graph, broadcast-remap the
    // standing labels in one scan — no global CC re-run, no convergence
    // iterations over the corpus. Strong-pair arrivals are ADDITIONS-ONLY
    // (interaction counts are monotone in time), exactly ccIncrement's
    // contract. The ORACLE computes the UNSPLIT rebuild — the min-label
    // closure over the full T2 strong graph — so the hash-match IS the
    // increment≡rebuild proof (t17's grading trick). Per-node labels, the
    // strictest comparable output. Cost at 100 TB: the nightly rebuild's
    // O(rounds × |E|) shuffle cascade becomes one delta join + one
    // broadcast remap scan of the label table (SCALE.md round-13b row
    // measures the flatness).
    E("g66_cc_increment", (s, d) => {
      val t = Tables(s, d)
      val t1 = lit("2024-01-10 00:00:00").cast("timestamp_ntz")
      val t2 = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
      val trans = GraphBuilder.userTransitions(t)
        .select(col("src"), col("dst"), col("ts").cast("timestamp_ntz").as("ts"))
        .transform(Materialize.apply)
      def strong(at: org.apache.spark.sql.Column) = trans
        .filter(col("ts") <= at)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select(col("src"), col("dst"))
      val e1 = strong(t1)
      val delta = strong(t2).except(e1) // pairs that BECAME strong in (T1, T2]
      val base = Algorithms.cc(e1) // the standing labeling being maintained
      Algorithms.ccIncrement(base, delta).orderBy("id")
    }, Some(s"""
      WITH RECURSIVE tr AS (
        SELECT 7000000000 + prev AS src, 7000000000 + user_id AS dst
        FROM (SELECT user_id, ts, event_id,
                     LAG(user_id) OVER (ORDER BY ts, event_id) AS prev
              FROM events)
        WHERE prev IS NOT NULL AND prev <> user_id
          AND ts <= TIMESTAMP '2024-01-20 00:00:00'),
      e AS (SELECT src, dst FROM tr GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      lab(id, l) AS (
        SELECT DISTINCT src, src FROM sym
        UNION SELECT s.dst, lab.l FROM lab JOIN sym s ON s.src = lab.id)
      SELECT id, MIN(l) AS component FROM lab GROUP BY id ORDER BY id""")),

    // G34 — INCREMENTAL ENTITY RESOLUTION (the merge map as a maintained
    // view): g48's canonical merge map, kept current as records ARRIVE
    // instead of re-resolved from scratch — the composition the library's
    // pieces exist for: the two-table blocked fuzzy join
    // ([[graft.rel.FuzzyJoin.joinLev]] — arrival records' deletion keys
    // equi-joined against the FULL key index, never all-pairs) finds only
    // the pairs a new batch can create (arrival×existing ∪
    // arrival×arrival; pairs among existing records cannot appear later —
    // records never change), and [[Algorithms.ccIncrement]] folds them
    // into the standing map (match pairs are additions-only: ER merges
    // monotonically under arrivals). The ORACLE is g48's UNSPLIT full
    // closure over all records VERBATIM, so the hash match proves BOTH
    // increment≡rebuild AND g67≡g48 (the t17 grading trick; the same-name
    // oracle equality is the point, not an accident). Fixture split:
    // records with custkey % 10 = 0 are "today's batch", the rest the
    // standing catalog. Scale: a batch's cost is its own blocking keys ⋈
    // the key index + ccIncrement's delta work — the nightly full
    // re-resolution (every pair re-blocked, every cluster re-closed) is
    // replaced by work ∝ batch.
    E("g67_er_increment", (s, d) => {
      val cust = Tables(s, d).customer.select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_nationkey").as("nk"))
      val ents = cust.select(col("id"), col("name"))
      val existing = cust.filter(col("id") % 10 =!= 0)
      val arrivals = cust.filter(col("id") % 10 === 0)
      def sameNation(p: DataFrame, ca: String, cb: String) = p
        .join(broadcast(cust.select(col("id").as(ca), col("nk").as("nk_a"))), Seq(ca))
        .join(broadcast(cust.select(col("id").as(cb), col("nk").as("nk_b"))), Seq(cb))
        .filter(col("nk_a") === col("nk_b"))
      val basePairs = sameNation(
          graft.rel.FuzzyJoin.selfJoinLev1(existing.select("id", "name")),
          "id_a", "id_b")
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val deltaPairs = sameNation(
          graft.rel.FuzzyJoin.joinLev(
            arrivals.select("id", "name"), cust.select("id", "name"), 1)
            .filter(col("id_l") =!= col("id_r")),
          "id_l", "id_r")
        .select(col("id_l").as("src"), col("id_r").as("dst"))
      val base = Algorithms.cc(basePairs) // the standing merge map
      Algorithms.ccIncrement(base, deltaPairs)
        .filter(col("id") =!= col("component"))
        .join(broadcast(ents), Seq("id"))
        .join(broadcast(ents.select(col("id").as("component"), col("name").as("canonical_name"))),
              Seq("component"))
        .select(col("id").as("custkey"), col("name"),
                col("component").as("merged_into"), col("canonical_name"))
        .orderBy("custkey")
    }, Some(s"""
      WITH RECURSIVE $fuzzyPairsSql,
      snp AS (SELECT cust_a, cust_b FROM fpairs
              JOIN nm na ON na.ck = cust_a JOIN nm nb ON nb.ck = cust_b
              WHERE na.nk = nb.nk),
      sym AS (SELECT cust_a AS src, cust_b AS dst FROM snp
              UNION SELECT cust_b, cust_a FROM snp),
      nds AS (SELECT DISTINCT src AS id FROM sym),
      seeds AS (SELECT id FROM nds n
                WHERE NOT EXISTS (SELECT 1 FROM sym e WHERE e.src = n.id AND e.dst < n.id)),
      lab(id, l) AS (
        SELECT id, id FROM seeds
        UNION
        SELECT s.dst, lab.l FROM lab JOIN sym s ON s.src = lab.id),
      comp AS (SELECT id, MIN(l) AS cluster FROM lab GROUP BY id)
      SELECT c.id AS custkey, na.nam AS name, c.cluster AS merged_into, nb.nam AS canonical_name
      FROM comp c JOIN nm na ON na.ck = c.id JOIN nm nb ON nb.ck = c.cluster
      WHERE c.id <> c.cluster
      ORDER BY custkey""")),

    // G35 — DECREMENTAL connected components (VERDICT r13 #2: the
    // maintained-view contract's other half — "structures also SHRINK over
    // years", README.md:17). The bounded-deployment strong graph is
    // WINDOWED: a pair is strong at T iff it interacted ≥2 times within
    // the trailing 7 days — so between T1 and T2 edges genuinely EXPIRE
    // (active at T1, quiet since) as well as appear. The standing T1
    // labeling is maintained to T2 by [[Algorithms.ccDecrement]] (expired
    // edges out: re-run CC on only the touched components' induced
    // surviving subgraphs, stitch — removals never affect an untouched
    // component) THEN [[Algorithms.ccIncrement]] (new strong pairs in).
    // The ORACLE is the UNSPLIT min-label closure of the T2 window graph
    // over the full node universe (T1 ∪ T2 endpoints; a node whose every
    // edge expired stays labeled as a singleton — expiry removes edges,
    // not entities), so the hash-match IS the decrement+increment≡rebuild
    // proof (the g66/t17 grading trick on the deletion side). Cost at
    // 100 TB: the nightly rebuild's O(rounds × |E|) shuffles become one
    // removed-batch label join + CC over blast-radius subgraphs + one
    // pruning semi-join over surviving edges + one label-table scan
    // (SCALE.md round-14 row measures the split).
    E("g68_cc_decrement", (s, d) => {
      val t = Tables(s, d)
      val trans = GraphBuilder.userTransitions(t)
        .select(col("src"), col("dst"), col("ts").cast("timestamp_ntz").as("ts"))
        .transform(Materialize.apply)
      def strongWin(at: String) = {
        val hi = lit(at).cast("timestamp_ntz")
        val lo = hi - expr("INTERVAL 7 DAYS")
        trans.filter(col("ts") > lo && col("ts") <= hi)
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2).select(col("src"), col("dst"))
      }
      val e1 = strongWin("2024-01-10 00:00:00").transform(Materialize.apply)
      val e2 = strongWin("2024-01-20 00:00:00").transform(Materialize.apply)
      val removed = e1.except(e2)   // expired: strong at T1, quiet since
      val added = e2.except(e1)     // born: strong only in the T2 window
      val surviving = e1.join(e2, Seq("src", "dst"), "left_semi")
      val base = Algorithms.cc(e1)  // the standing labeling being maintained
      val afterExpiry = Algorithms.ccDecrement(base, surviving, removed)
      Algorithms.ccIncrement(afterExpiry, added).orderBy("id")
    }, Some(s"""
      WITH RECURSIVE tr AS (
        SELECT 7000000000 + prev AS src, 7000000000 + user_id AS dst, ts
        FROM (SELECT user_id, ts, event_id,
                     LAG(user_id) OVER (ORDER BY ts, event_id) AS prev
              FROM events)
        WHERE prev IS NOT NULL AND prev <> user_id),
      w1 AS (SELECT src, dst FROM tr
             WHERE ts > TIMESTAMP '2024-01-10 00:00:00' - INTERVAL 7 DAY
               AND ts <= TIMESTAMP '2024-01-10 00:00:00'
             GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      w2 AS (SELECT src, dst FROM tr
             WHERE ts > TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 7 DAY
               AND ts <= TIMESTAMP '2024-01-20 00:00:00'
             GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      sym AS (SELECT src, dst FROM w2 UNION SELECT dst, src FROM w2),
      nds AS (SELECT src AS id FROM w1 UNION SELECT dst FROM w1
              UNION SELECT src FROM w2 UNION SELECT dst FROM w2),
      lab(id, l) AS (
        SELECT id, id FROM nds
        UNION SELECT s.dst, lab.l FROM lab JOIN sym s ON s.src = lab.id)
      SELECT id, MIN(l) AS component FROM lab GROUP BY id ORDER BY id""")),

    // G36 — DECREMENTAL ENTITY RESOLUTION (record corrections/erasure —
    // the parenthetical VERDICT r13 missing #1 closed alongside g68's
    // CC half): g48's standing merge map maintained under record
    // DELETIONS (GDPR erasure, withdrawn filings, corrected duplicates).
    // Removing a record removes every match pair touching it; clusters
    // containing it may SPLIT — exactly [[Algorithms.ccDecrement]]'s
    // contract over the pair graph: touched clusters re-close over their
    // SURVIVING pairs only (work ∝ touched clusters, never a full
    // re-resolution), untouched clusters pass through, and the erased
    // records leave the map entirely (unlike graph entities, an erased
    // record must not linger as a singleton — the output is non-root rows
    // over surviving records, so isolated nodes drop out with the
    // id ≠ component filter the merge-map shape already applies). The
    // ORACLE re-blocks and re-closes over surviving records from scratch
    // (blocking keys are per-record, so pairs among survivors are
    // unchanged by the deletion — the unsplit rebuild), making the hash
    // the decrement≡re-resolution proof. Fixture: custkey % 17 = 0 is
    // "today's erasure batch".
    E("g69_er_decrement", (s, d) => {
      val cust = Tables(s, d).customer.select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_nationkey").as("nk"))
      val ents = cust.select(col("id"), col("name"))
      val deleted = cust.filter(col("id") % 17 === 0).select(col("id"))
      val basePairs = fuzzyCustomerPairs(s, d)
        .join(broadcast(cust.select(col("id").as("id_a"), col("nk").as("nk_a"))), Seq("id_a"))
        .join(broadcast(cust.select(col("id").as("id_b"), col("nk").as("nk_b"))), Seq("id_b"))
        .filter(col("nk_a") === col("nk_b"))
        .select(col("id_a").as("src"), col("id_b").as("dst"))
        .transform(Materialize.apply)
      val flagged = basePairs
        .join(broadcast(deleted.select(col("id").as("src"), lit(1).as("da"))), Seq("src"), "left")
        .join(broadcast(deleted.select(col("id").as("dst"), lit(1).as("db"))), Seq("dst"), "left")
      val removed = flagged.filter(col("da").isNotNull || col("db").isNotNull)
        .select(col("src"), col("dst"))
      val surviving = flagged.filter(col("da").isNull && col("db").isNull)
        .select(col("src"), col("dst"))
      val base = Algorithms.cc(basePairs) // the standing merge map
      Algorithms.ccDecrement(base, surviving, removed)
        .join(broadcast(deleted), Seq("id"), "left_anti") // erased records LEAVE
        .filter(col("id") =!= col("component"))
        .join(broadcast(ents), Seq("id"))
        .join(broadcast(ents.select(col("id").as("component"), col("name").as("canonical_name"))),
              Seq("component"))
        .select(col("id").as("custkey"), col("name"),
                col("component").as("merged_into"), col("canonical_name"))
        .orderBy("custkey")
    }, Some(s"""
      WITH RECURSIVE $fuzzyPairsSql,
      snp AS (SELECT cust_a, cust_b FROM fpairs
              JOIN nm na ON na.ck = cust_a JOIN nm nb ON nb.ck = cust_b
              WHERE na.nk = nb.nk
                AND cust_a % 17 <> 0 AND cust_b % 17 <> 0),
      sym AS (SELECT cust_a AS src, cust_b AS dst FROM snp
              UNION SELECT cust_b, cust_a FROM snp),
      nds AS (SELECT DISTINCT src AS id FROM sym),
      seeds AS (SELECT id FROM nds n
                WHERE NOT EXISTS (SELECT 1 FROM sym e WHERE e.src = n.id AND e.dst < n.id)),
      lab(id, l) AS (
        SELECT id, id FROM seeds
        UNION
        SELECT s.dst, lab.l FROM lab JOIN sym s ON s.src = lab.id),
      comp AS (SELECT id, MIN(l) AS cluster FROM lab GROUP BY id)
      SELECT c.id AS custkey, na.nam AS name, c.cluster AS merged_into, nb.nam AS canonical_name
      FROM comp c JOIN nm na ON na.ck = c.id JOIN nm nb ON nb.ck = c.cluster
      WHERE c.id <> c.cluster
      ORDER BY custkey""")),

    // G37 — MULTI-HORIZON maintained-view REPLAY (VERDICT r14 #8): the
    // per-step operators are each hash-proven (g66 increment, g68
    // decrement, g69 erasure), but a deployment COMPOSES them — this
    // grades the composition's associativity end to end: the T1 labeling
    // folded T1→T2 (expiries out via [[Algorithms.ccDecrement]], births
    // in via [[Algorithms.ccIncrement]]) and then T2→T3 (expiries,
    // births, AND an erasure batch: every edge touching an erased entity
    // — id ≡ 0 mod 23 — is removed, and the entity leaves the labeling,
    // the g69 leave-semantics) must equal the UNSPLIT T3 rebuild over the
    // full replay universe. The ORACLE computes exactly that rebuild —
    // min-label closure of the erased-free T3 window graph over every
    // endpoint the replay ever saw (w1 ∪ w2 ∪ erased-free-w3 endpoints,
    // erased entities excluded; a node whose edges all expired stays as a
    // singleton) — so the hash-match pins two-step fold ≡ rebuild, which
    // no per-step spec composition implies. Scale: each fold step is the
    // g68 blast-radius shape; the replay NEVER re-runs CC over the
    // corpus.
    E("g70_cc_replay", (s, d) => {
      val t = Tables(s, d)
      val trans = GraphBuilder.userTransitions(t)
        .select(col("src"), col("dst"), col("ts").cast("timestamp_ntz").as("ts"))
        .transform(Materialize.apply)
      def strongWin(at: String) = {
        val hi = lit(at).cast("timestamp_ntz")
        val lo = hi - expr("INTERVAL 7 DAYS")
        trans.filter(col("ts") > lo && col("ts") <= hi)
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2).select(col("src"), col("dst"))
      }
      val e1 = strongWin("2024-01-10 00:00:00").transform(Materialize.apply)
      val e2 = strongWin("2024-01-20 00:00:00").transform(Materialize.apply)
      // T3's edge set with the erasure batch applied: edges touching an
      // erased entity never enter the store (births) and leave it
      // (expiries) — one filter serves both legs of step 2
      val e3 = strongWin("2024-01-30 00:00:00")
        .filter(col("src") % 23 =!= 0 && col("dst") % 23 =!= 0)
        .transform(Materialize.apply)
      // step 1: T1 → T2 (expiries, then births — the g68 fold)
      val l1 = Algorithms.ccIncrement(
        Algorithms.ccDecrement(
          Algorithms.cc(e1),
          e1.join(e2, Seq("src", "dst"), "left_semi"),
          e1.except(e2)),
        e2.except(e1))
      // step 2: T2 → T3 with the erasure batch folded into the edge diff
      val l2 = Algorithms.ccIncrement(
        Algorithms.ccDecrement(
          l1,
          e2.join(e3, Seq("src", "dst"), "left_semi"),
          e2.except(e3)),
        e3.except(e2))
      // erased entities LEAVE the labeling (g69's erasure semantics)
      l2.filter(col("id") % 23 =!= 0).orderBy("id")
    }, Some(s"""
      WITH RECURSIVE tr AS (
        SELECT 7000000000 + prev AS src, 7000000000 + user_id AS dst, ts
        FROM (SELECT user_id, ts, event_id,
                     LAG(user_id) OVER (ORDER BY ts, event_id) AS prev
              FROM events)
        WHERE prev IS NOT NULL AND prev <> user_id),
      w1 AS (SELECT src, dst FROM tr
             WHERE ts > TIMESTAMP '2024-01-10 00:00:00' - INTERVAL 7 DAY
               AND ts <= TIMESTAMP '2024-01-10 00:00:00'
             GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      w2 AS (SELECT src, dst FROM tr
             WHERE ts > TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 7 DAY
               AND ts <= TIMESTAMP '2024-01-20 00:00:00'
             GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      w3 AS (SELECT src, dst FROM tr
             WHERE ts > TIMESTAMP '2024-01-30 00:00:00' - INTERVAL 7 DAY
               AND ts <= TIMESTAMP '2024-01-30 00:00:00'
             GROUP BY 1, 2 HAVING COUNT(*) >= 2
               AND src % 23 <> 0 AND dst % 23 <> 0),
      sym AS (SELECT src, dst FROM w3 UNION SELECT dst, src FROM w3),
      nds AS (SELECT id FROM (
                SELECT src AS id FROM w1 UNION SELECT dst FROM w1
                UNION SELECT src FROM w2 UNION SELECT dst FROM w2
                UNION SELECT src FROM w3 UNION SELECT dst FROM w3)
              WHERE id % 23 <> 0),
      lab(id, l) AS (
        SELECT id, id FROM nds
        UNION SELECT s.dst, lab.l FROM lab JOIN sym s ON s.src = lab.id)
      SELECT id, MIN(l) AS component FROM lab GROUP BY id ORDER BY id""")),

    // G38 — MULTI-HORIZON ER REPLAY (VERDICT r15 #3: g70 pinned the CC
    // fold's associativity; this is the merge-map twin): the T1 standing
    // merge map folded through an arrival batch at T2 ([[graft.rel
    // .FuzzyJoin.joinLev]] delta blocking + [[Algorithms.ccIncrement]] —
    // the g67 step), then at T3 through a SECOND arrival batch AND an
    // erasure batch ([[Algorithms.ccDecrement]] over the pair graph with
    // erased records leaving — the g69 step), must equal ONE unsplit
    // re-resolution over the records that survive at T3. The ORACLE
    // computes exactly that rebuild (g48's blocking + min-label closure
    // over non-erased records — g69's oracle shape with this fixture's
    // erasure key), so the hash-match pins increment∘increment∘decrement
    // ≡ re-resolution end to end, which no per-step grading implies.
    // Fixture horizons: catalog = custkey % 5 ≠ 0 standing at T1;
    // arrivals custkey % 10 = 5 land at T2, custkey % 10 = 0 at T3; the
    // T3 erasure batch is custkey % 13 = 0 (it hits catalog AND arrival
    // records — splits must cross the fold steps). Scale: each fold step
    // is work ∝ batch (delta blocking keys ⋈ key index; blast-radius
    // re-close), never a full re-resolution — that is the replaced cost.
    E("g71_er_replay", (s, d) => {
      val cust = Tables(s, d).customer.select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_nationkey").as("nk"))
      val ents = cust.select(col("id"), col("name"))
      def sameNation(p: DataFrame, ca: String, cb: String) = p
        .join(broadcast(cust.select(col("id").as(ca), col("nk").as("nk_a"))), Seq(ca))
        .join(broadcast(cust.select(col("id").as(cb), col("nk").as("nk_b"))), Seq(cb))
        .filter(col("nk_a") === col("nk_b"))
      val catalog = cust.filter(col("id") % 5 =!= 0)
      val arrivals1 = cust.filter(col("id") % 10 === 5)
      val arrivals2 = cust.filter(col("id") % 10 === 0)
      val atT2 = cust.filter(col("id") % 10 =!= 0) // catalog ∪ arrivals1
      val erased = cust.filter(col("id") % 13 === 0).select(col("id"))
      val p1 = sameNation(
          graft.rel.FuzzyJoin.selfJoinLev1(catalog.select("id", "name")),
          "id_a", "id_b")
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val delta1 = sameNation(
          graft.rel.FuzzyJoin.joinLev(
            arrivals1.select("id", "name"), atT2.select("id", "name"), 1)
            .filter(col("id_l") =!= col("id_r")),
          "id_l", "id_r")
        .select(col("id_l").as("src"), col("id_r").as("dst"))
      val delta2 = sameNation(
          graft.rel.FuzzyJoin.joinLev(
            arrivals2.select("id", "name"), cust.select("id", "name"), 1)
            .filter(col("id_l") =!= col("id_r")),
          "id_l", "id_r")
        .select(col("id_l").as("src"), col("id_r").as("dst"))
      // the full T3 pair graph (before erasure) = P1 ∪ delta1 ∪ delta2:
      // every new pair touches an arrival (records never change), so the
      // union IS the unsplit blocking's pair set — split it by erasure
      val allPairs = p1.unionByName(delta1).unionByName(delta2)
        .transform(Materialize.apply)
      val flagged = allPairs
        .join(broadcast(erased.select(col("id").as("src"), lit(1).as("da"))), Seq("src"), "left")
        .join(broadcast(erased.select(col("id").as("dst"), lit(1).as("db"))), Seq("dst"), "left")
      val removed = flagged.filter(col("da").isNotNull || col("db").isNotNull)
        .select(col("src"), col("dst"))
      val surviving = flagged.filter(col("da").isNull && col("db").isNull)
        .select(col("src"), col("dst"))
      // the fold: T1 map → +arrivals1 (T2) → +arrivals2, −erasures (T3)
      val l1 = Algorithms.ccIncrement(Algorithms.cc(p1), delta1)
      val l2 = Algorithms.ccDecrement(
        Algorithms.ccIncrement(l1, delta2), surviving, removed)
      l2.join(broadcast(erased), Seq("id"), "left_anti") // erased records LEAVE
        .filter(col("id") =!= col("component"))
        .join(broadcast(ents), Seq("id"))
        .join(broadcast(ents.select(col("id").as("component"), col("name").as("canonical_name"))),
              Seq("component"))
        .select(col("id").as("custkey"), col("name"),
                col("component").as("merged_into"), col("canonical_name"))
        .orderBy("custkey")
    }, Some(s"""
      WITH RECURSIVE $fuzzyPairsSql,
      snp AS (SELECT cust_a, cust_b FROM fpairs
              JOIN nm na ON na.ck = cust_a JOIN nm nb ON nb.ck = cust_b
              WHERE na.nk = nb.nk
                AND cust_a % 13 <> 0 AND cust_b % 13 <> 0),
      sym AS (SELECT cust_a AS src, cust_b AS dst FROM snp
              UNION SELECT cust_b, cust_a FROM snp),
      nds AS (SELECT DISTINCT src AS id FROM sym),
      seeds AS (SELECT id FROM nds n
                WHERE NOT EXISTS (SELECT 1 FROM sym e WHERE e.src = n.id AND e.dst < n.id)),
      lab(id, l) AS (
        SELECT id, id FROM seeds
        UNION
        SELECT s.dst, lab.l FROM lab JOIN sym s ON s.src = lab.id),
      comp AS (SELECT id, MIN(l) AS cluster FROM lab GROUP BY id)
      SELECT c.id AS custkey, na.nam AS name, c.cluster AS merged_into, nb.nam AS canonical_name
      FROM comp c JOIN nm na ON na.ck = c.id JOIN nm nb ON nb.ck = c.cluster
      WHERE c.id <> c.cluster
      ORDER BY custkey""")),

    // G29c — CAPPED dossier ego sections (VERDICT r12 #4: the DEPLOYMENT
    // shape). g62's graded ego sections traverse nation hubs UNCAPPED —
    // at sf6.4 each (seed, date) ego pulls ~1/25 of all suppliers/
    // customers (388→888 s swing, SCALE.md round-12 note 1). This grades
    // the bounded form: `capEgoMembers` truncates each (seed, date)
    // frame to the top-`cap` members by (depth, induced strength, id) —
    // the s09-capped convention — with the PRE-CAP total surfaced so a
    // consumer sees the truncation, then summarizes the capped frame's
    // induced edges per rel_type. Strength ranks in INTEGER micro-space
    // (edge weights pre-rounded to ppm, so strength sums are exact whole
    // doubles — the g61 cross-engine tie lesson: ranking on raw float
    // sums would hash-diverge on summation order). The oracle mirrors
    // the full rank: min-depth reach, validity-filtered induced ppm
    // strength, (depth, strength DESC NULLS LAST, id) row_number.
    E("g62b_dossier_ego_capped", (s, d) => {
      val t = Tables(s, d)
      val g = GraphBuilder.edges(t).transform(Materialize.apply)
      val gppm = g.withColumn("weight", floor(col("weight") * 1e6 + 0.5))
      val seeds = s.range(1, 3)
        .select((lit(GraphBuilder.SupplierBase) + col("id")).as("seed"))
      val dateDf = Seq("1996-12-31 23:59:59", "2001-12-31 23:59:59")
        .map(ds => s.range(1).select(lit(ds).cast("timestamp_ntz").as("as_of")))
        .reduce(_.unionByName(_))
      val sy = seeds.crossJoin(dateDf)
      val mem = Traversals.egoMembers(g, sy, 2)
      val capped = Traversals.capEgoMembers(gppm, mem, 40)
        .transform(Materialize.apply)
      val kept = capped.groupBy("seed", "as_of")
        .agg(count(lit(1)).as("n_kept"), max(col("n_total")).as("n_total"))
      val e = Traversals.inducedEdges(gppm, capped)
        .groupBy(col("seed"), col("as_of"), col("rel_type"))
        .agg(count(lit(1)).as("n_edges"), sum(col("weight")).cast("long").as("sum_w_ppm"))
      kept.join(e, Seq("seed", "as_of"), "left")
        .select(col("seed").as("supplier"),
                year(col("as_of")).cast("long").as("as_of_year"),
                col("n_total"), col("n_kept"),
                coalesce(col("rel_type"), lit("(none)")).as("rel_type"),
                coalesce(col("n_edges"), lit(0L)).as("n_edges"),
                coalesce(col("sum_w_ppm"), lit(0L)).as("sum_w_ppm"))
        .orderBy("supplier", "as_of_year", "rel_type")
    }, Some(s"""
      WITH RECURSIVE ${GraphSql.edgesCte},
      sy(seed, as_of) AS (
        SELECT CAST(4000000000 + v.s AS BIGINT), d.as_of
        FROM (VALUES (1), (2)) v(s)
        CROSS JOIN (VALUES (TIMESTAMP '1996-12-31 23:59:59'),
                           (TIMESTAMP '2001-12-31 23:59:59')) d(as_of)),
      sym AS (
        SELECT src, dst, MIN(COALESCE(valid_from, TIMESTAMP '1970-01-01')) AS active_from
        FROM (SELECT src, dst, valid_from FROM graph_edges
              UNION ALL SELECT dst, src, valid_from FROM graph_edges)
        GROUP BY 1, 2),
      reach(seed, as_of, id, depth) AS (
        SELECT seed, as_of, seed, 0 FROM sy
        UNION ALL
        SELECT r.seed, r.as_of, s.dst, r.depth + 1
        FROM reach r JOIN sym s ON s.src = r.id
        WHERE r.depth < 2 AND s.active_from <= r.as_of),
      mem AS MATERIALIZED (SELECT seed, as_of, id, MIN(depth) AS depth
              FROM reach GROUP BY 1, 2, 3),
      eppm AS MATERIALIZED (SELECT src, dst, rel_type, FLOOR(weight * 1000000 + 0.5) AS w_ppm,
                      valid_from
               FROM graph_edges),
      ind_a AS MATERIALIZED (
        SELECT a.seed, a.as_of, e.src, e.dst, e.rel_type, e.w_ppm
        FROM eppm e
        JOIN mem a ON e.src = a.id
        WHERE e.valid_from IS NULL OR e.valid_from <= a.as_of),
      ind AS (
        SELECT i.seed, i.as_of, i.src, i.dst, i.rel_type, i.w_ppm
        FROM ind_a i
        JOIN mem b ON b.seed = i.seed AND b.as_of = i.as_of AND i.dst = b.id),
      strength AS (
        SELECT seed, as_of, id, SUM(w_ppm) AS strength
        FROM (SELECT seed, as_of, src AS id, w_ppm FROM ind
              UNION ALL SELECT seed, as_of, dst AS id, w_ppm FROM ind)
        GROUP BY 1, 2, 3),
      ranked AS (
        SELECT m.seed, m.as_of, m.id, m.depth,
               ROW_NUMBER() OVER (PARTITION BY m.seed, m.as_of
                 ORDER BY m.depth ASC, s.strength DESC NULLS LAST, m.id ASC) AS rnk,
               COUNT(*) OVER (PARTITION BY m.seed, m.as_of) AS n_total
        FROM mem m LEFT JOIN strength s
          ON s.seed = m.seed AND s.as_of = m.as_of AND s.id = m.id),
      capped AS MATERIALIZED (SELECT seed, as_of, id, n_total FROM ranked WHERE rnk <= 40),
      kept AS (SELECT seed, as_of, COUNT(*) AS n_kept, MAX(n_total) AS n_total
               FROM capped GROUP BY 1, 2),
      cind_a AS MATERIALIZED (
        SELECT a.seed, a.as_of, e.src, e.dst, e.rel_type, e.w_ppm
        FROM eppm e
        JOIN capped a ON e.src = a.id
        WHERE e.valid_from IS NULL OR e.valid_from <= a.as_of),
      cind AS (
        SELECT i.seed, i.as_of, i.rel_type, i.w_ppm
        FROM cind_a i
        JOIN capped b ON b.seed = i.seed AND b.as_of = i.as_of AND i.dst = b.id),
      eagg AS (SELECT seed, as_of, rel_type, COUNT(*) AS n_edges,
                      CAST(SUM(w_ppm) AS BIGINT) AS sum_w_ppm
               FROM cind GROUP BY 1, 2, 3)
      SELECT k.seed AS supplier,
             CAST(EXTRACT(year FROM k.as_of) AS BIGINT) AS as_of_year,
             k.n_total, k.n_kept,
             COALESCE(e.rel_type, '(none)') AS rel_type,
             COALESCE(e.n_edges, CAST(0 AS BIGINT)) AS n_edges,
             COALESCE(e.sum_w_ppm, CAST(0 AS BIGINT)) AS sum_w_ppm
      FROM kept k LEFT JOIN eagg e ON e.seed = k.seed AND e.as_of = k.as_of
      ORDER BY supplier, as_of_year, rel_type""")),

    // G31 — STRONGEST connection AS-OF: "how strong was the strongest
    // ownership chain between X and Y in mid-1997?" — completes the
    // {distance, strength} × {now, as-of} matrix (g57 distance-now, g59
    // strength-now, g60 distance-as-of; README.md:13 UBO percentages ×
    // README.md:17 the slider). The web is the DATED, per-position-
    // RENORMALIZED UBO web (datedUboLayers — 1997's chain strengths
    // divide 1997's quantities by 1997's totals, the g56 semantics; a
    // validity filter over today's weights would be wrong the same way a
    // filtered cone is), and the DP batches the date axis through
    // (owner, as_of) state (Ubo.strongestChain). Spec pins the 2001
    // slice ≡ g59 (date past all data ⇒ dated web ≡ undated web) and
    // cross-date strength divergence.
    E("g64_strongest_asof", (s, d) => {
      import s.implicits._
      val t = Tables(s, d)
      val dates = Seq("1997-06-30 23:59:59", "2001-12-31 23:59:59")
      val web = datedUboLayers(t, dates).reduce(_.unionByName(_))
      val base = Seq(
          (GraphBuilder.CustomerBase + 1L, GraphBuilder.CustomerBase + 2L),
          (GraphBuilder.CustomerBase + 1L, GraphBuilder.SupplierBase + 1L),
          (GraphBuilder.SupplierBase + 1L, GraphBuilder.SupplierBase + 2L))
        .toDF("s_id", "t_id")
      val pairs = base.crossJoin(dates.map(Tuple1(_)).toDF("ds")
        .select(col("ds").cast("timestamp_ntz").as("as_of")))
      Traversals.strongestConnections(web, pairs, 2)
        .select(col("s_id"), col("t_id"), year(col("as_of")).cast("long").as("as_of_year"),
                col("strength6"), col("chain"), col("hops"))
        .orderBy("s_id", "t_id", "as_of_year")
    }, Some(s"""
      WITH dates(as_of) AS (VALUES (TIMESTAMP '1997-06-30 23:59:59'),
                                   (TIMESTAMP '2001-12-31 23:59:59')),
      placed_a AS (
        SELECT d.as_of, CAST(3000000000 + o_custkey AS BIGINT) AS src,
               CAST(6000000000 + o_orderkey AS BIGINT) AS dst,
               CAST(1.0 AS DOUBLE) / COUNT(*) OVER (PARTITION BY d.as_of, o_custkey) AS weight
        FROM orders CROSS JOIN dates d WHERE o_orderdate <= d.as_of),
      contains_a AS (
        SELECT as_of, CAST(6000000000 + l_orderkey AS BIGINT) AS src,
               CAST(5000000000 + l_partkey AS BIGINT) AS dst,
               CAST(qty AS DOUBLE) / CAST(SUM(qty) OVER (PARTITION BY as_of, l_orderkey) AS DOUBLE) AS weight
        FROM (SELECT d.as_of, l_orderkey, l_partkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
              FROM lineitem CROSS JOIN dates d WHERE l_shipdate <= d.as_of GROUP BY 1, 2, 3)),
      supplied_a AS (
        SELECT as_of, CAST(5000000000 + l_partkey AS BIGINT) AS src,
               CAST(4000000000 + l_suppkey AS BIGINT) AS dst,
               CAST(qty AS DOUBLE) / CAST(SUM(qty) OVER (PARTITION BY as_of, l_partkey) AS DOUBLE) AS weight
        FROM (SELECT d.as_of, l_partkey, l_suppkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
              FROM lineitem CROSS JOIN dates d WHERE l_shipdate <= d.as_of GROUP BY 1, 2, 3)),
      web AS (SELECT * FROM supplied_a UNION ALL SELECT * FROM contains_a
              UNION ALL SELECT * FROM placed_a),
      symw AS (SELECT as_of, src, dst, weight FROM web
               UNION ALL SELECT as_of, dst, src, weight FROM web),
      bp(s_id, t_id) AS (VALUES
        (CAST(3000000001 AS BIGINT), CAST(3000000002 AS BIGINT)),
        (CAST(3000000001 AS BIGINT), CAST(4000000001 AS BIGINT)),
        (CAST(4000000001 AS BIGINT), CAST(4000000002 AS BIGINT))),
      pr AS (SELECT s_id, t_id, as_of FROM bp CROSS JOIN dates),
      c0 AS (SELECT seed AS owner, as_of, seed AS entity, CAST(1.0 AS DOUBLE) AS share,
                    CAST(seed AS VARCHAR) AS chain
             FROM (SELECT s_id AS seed, as_of FROM pr UNION SELECT t_id, as_of FROM pr)),
      ${UboSql.chainStep("c0", "c1", "symw", Seq("as_of"))},
      ${UboSql.chainStep("c1", "c2", "symw", Seq("as_of"))},
      allc AS (SELECT owner, as_of, entity, share, chain, 0 AS hops FROM c0
               UNION ALL SELECT owner, as_of, entity, share, chain, 1 FROM c1
               UNION ALL SELECT owner, as_of, entity, share, chain, 2 FROM c2),
      cones AS (SELECT owner, as_of, entity, share, chain, hops FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY owner, as_of, entity
                                               ORDER BY share DESC, chain) AS rn
                  FROM allc) WHERE rn = 1),
      meets AS (SELECT p.s_id, p.t_id, p.as_of, f.share * b.share AS strength,
                       array_to_string(list_concat(string_split(f.chain, '->'),
                         list_reverse(string_split(b.chain, '->'))[2:]), '->') AS chain,
                       f.hops + b.hops AS hops
                FROM pr p
                JOIN cones f ON f.owner = p.s_id AND f.as_of = p.as_of
                JOIN cones b ON b.owner = p.t_id AND b.as_of = p.as_of
                  AND b.entity = f.entity),
      best AS (SELECT s_id, t_id, as_of, strength, chain, hops,
                      ROW_NUMBER() OVER (PARTITION BY s_id, t_id, as_of
                                         ORDER BY strength DESC, chain) AS rn
               FROM meets)
      SELECT p.s_id, p.t_id, CAST(EXTRACT(year FROM p.as_of) AS BIGINT) AS as_of_year,
             ROUND(COALESCE(b.strength, 0), 6) AS strength6,
             COALESCE(b.chain, '-') AS chain,
             CAST(COALESCE(b.hops, -1) AS BIGINT) AS hops
      FROM pr p LEFT JOIN best b ON b.s_id = p.s_id AND b.t_id = p.t_id
        AND b.as_of = p.as_of AND b.rn = 1
      ORDER BY p.s_id, p.t_id, as_of_year""")),

    // G28 — COMPOSITE ER screening queue (VERDICT r11 #3; README.md:15
    // lists name + director + address evidence TOGETHER): the four
    // matchers are graded separately (g49 lev, g50 token-Jaccard, g54
    // abbreviation-normalized, g55 Jaro–Winkler); a real screening queue
    // ranks ONE Fellegi–Sunter-style fused score per candidate pair.
    // ErScore.screeningQueue: candidates = prefix-filter pairs at block
    // threshold 0.5 on the NORMALIZED text ∪ deletion-key lev≤1 pairs on
    // the RAW text (each blocker lossless for its class — the union is
    // provably wider than either, ErScoreSpec plants both one-sided
    // shapes); score = 0.45·jacc + 0.35·jw + 0.20·lev_sim over ROUNDED
    // components (weights documented in ErScore's scaladoc), top-3 per
    // registry record with every component surfaced as evidence. The
    // fixture's typo leg (g61Inputs) makes fusion load-bearing: typo'd
    // rows lose Jaccard AND Jaro–Winkler mass yet still rank their true
    // catalog match first on the fused score.
    E("g61_er_screening_queue", (s, d) => {
      val (reg, labels) = g61Inputs(s, d)
      graft.rel.ErScore.screeningQueue(reg, labels, blockThreshold = 0.5)
        .orderBy("registry_id", "rnk")
    }, Some(s"""
      WITH nm AS (SELECT CAST(MIN(p_partkey) AS BIGINT) AS id,
                         concat(p_name, ' ', p_brand, ' ', p_type) AS label
                  FROM part GROUP BY 2),
      reg AS (SELECT id + 9000000000 AS id,
                     array_to_string(list_transform(string_split(label, ' '),
                       t -> CASE t ${g54Case(g54Abbrev)} ELSE t END), ' ') AS raw
              FROM nm),
      reg2 AS (SELECT id, CASE WHEN id % 5 = 0 THEN substr(raw, 1, 2) || substr(raw, 4)
                               ELSE raw END AS raw
               FROM reg),
      regn AS (SELECT id, raw,
                      array_to_string(list_transform(string_split(raw, ' '),
                        t -> CASE t ${g54Case(g54Abbrev.map(_.swap))} ELSE t END), ' ') AS norm
               FROM reg2),
      au AS (SELECT id, norm AS label FROM regn UNION ALL SELECT id, label FROM nm),
      tok AS (SELECT id, UNNEST(list_distinct(string_split(label, ' '))) AS tok FROM au),
      tdf AS (SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok),
      ranked AS (SELECT t.id, t.tok,
                        ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY d.df, t.tok) AS rk,
                        COUNT(*) OVER (PARTITION BY t.id) AS sz
                 FROM tok t JOIN tdf d ON d.tok = t.tok),
      pfx AS (SELECT id, sz, tok FROM ranked WHERE rk <= sz - CEIL(0.5 * sz) + 1),
      ca0 AS (SELECT DISTINCT a.id AS id_l, b.id AS id_r
              FROM pfx a JOIN pfx b ON a.tok = b.tok
              WHERE a.id >= 9000000000 AND b.id < 9000000000
                AND 0.5 * greatest(a.sz, b.sz) <= least(a.sz, b.sz)),
      ca AS (SELECT id_l, id_r
             FROM ca0 c JOIN regn rn ON rn.id = c.id_l JOIN nm ON nm.id = c.id_r
             WHERE ROUND(len(list_intersect(list_distinct(string_split(rn.norm, ' ')),
                                            list_distinct(string_split(nm.label, ' ')))) * 1.0 /
                   (len(list_distinct(string_split(rn.norm, ' ')))
                    + len(list_distinct(string_split(nm.label, ' ')))
                    - len(list_intersect(list_distinct(string_split(rn.norm, ' ')),
                                         list_distinct(string_split(nm.label, ' '))))), 6) >= 0.5),
      rkeys AS (SELECT id, raw, raw AS key FROM reg2
                UNION
                SELECT id, raw, substr(raw, 1, CAST(i AS INT)) || substr(raw, CAST(i AS INT) + 2)
                FROM reg2, UNNEST(range(length(raw))) AS t(i)),
      wkeys AS (SELECT id, label, label AS key FROM nm
                UNION
                SELECT id, label, substr(label, 1, CAST(i AS INT)) || substr(label, CAST(i AS INT) + 2)
                FROM nm, UNNEST(range(length(label))) AS t(i)),
      cb AS (SELECT DISTINCT r.id AS id_l, w.id AS id_r
             FROM rkeys r JOIN wkeys w ON r.key = w.key
             WHERE levenshtein(r.raw, w.label) <= 1),
      cands AS (SELECT id_l, id_r FROM ca UNION SELECT id_l, id_r FROM cb),
      sc AS (SELECT c.id_l, rn.raw AS registry_label, nm.label AS catalog_label,
                    CAST(len(list_intersect(list_distinct(string_split(rn.norm, ' ')),
                                            list_distinct(string_split(nm.label, ' ')))) AS BIGINT) AS n_common,
                    len(list_distinct(string_split(rn.norm, ' '))) AS sl,
                    len(list_distinct(string_split(nm.label, ' '))) AS sr
             FROM cands c JOIN regn rn ON rn.id = c.id_l JOIN nm ON nm.id = c.id_r),
      comp AS (SELECT id_l, registry_label, catalog_label,
                      ROUND(n_common * 1.0 / (sl + sr - n_common), 6) AS jacc6,
                      ROUND(jaro_winkler_similarity(registry_label, catalog_label), 6) AS jw6,
                      ROUND(1.0 - levenshtein(registry_label, catalog_label) * 1.0 /
                            greatest(length(registry_label), length(catalog_label)), 6) AS lev_sim6
               FROM sc),
      fz AS (SELECT *,
               FLOOR((450000 * FLOOR(jacc6 * 1000000 + 0.5)
                    + 350000 * FLOOR(jw6 * 1000000 + 0.5)
                    + 200000 * FLOOR(lev_sim6 * 1000000 + 0.5)
                    + 500000) / 1000000.0) / 1000000.0 AS score6
             FROM comp),
      rk2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_l
                                           ORDER BY score6 DESC, catalog_label) AS rnk
              FROM fz)
      SELECT id_l AS registry_id, registry_label, catalog_label,
             jacc6, jw6, lev_sim6, score6, CAST(rnk AS BIGINT) AS rnk
      FROM rk2 WHERE rnk <= 3
      ORDER BY registry_id, rnk""")),

    // G12b — snapshot TIME-SERIES (README.md:17 "evolved over years": the
    // Time-Slider as data, not one position of it): per-year graph metrics
    // by unioning per-year snapshot aggregates — edge count, active
    // src/dst entity counts, and supply-concentration stats (parts known,
    // parts with HHI >= 0.5, max HHI — the HHI recomputed from the
    // quantities shipped UP TO each snapshot, via the graded
    // HhiAggregator UDAF). Branch-per-snapshot on purpose: each branch's
    // validity predicate is a plain scan predicate, so Catalyst pushes it
    // into that branch's parquet scan (PushedFilters on l_shipdate /
    // o_orderdate — ExplainAudit asserts this per branch) and late-year
    // branches prune row groups the early years never touch. At extreme
    // scale the alternative is one scan fanned out against a years
    // dimension (row joins every year >= its ship year, single groupBy) —
    // trades 7 pruned scans for one scan plus a 7x shuffle; the union
    // form wins whenever the scan is the bottleneck, which at 100 TB
    // with row-group pruning it is. Integer metrics + round-6 extrema
    // keep the hash contract engine-exact.
    E("g47_snapshot_series", (s, d) => {
      val t = Tables(s, d)
      val g = GraphBuilder(t)
      val hhi = udaf(graft.functions.HhiAggregator)
      val perYear = sliderYears.map { y =>
        val at = lit(s"$y-12-31 23:59:59").cast("timestamp_ntz")
        val em = g.snapshot(at).edges
          .agg(count(lit(1)).as("n_edges"),
               countDistinct(col("src")).as("n_src"),
               countDistinct(col("dst")).as("n_dst"))
        val hm = t.lineitem.filter(col("l_shipdate") <= at)
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(graft.Tables.dec(col("l_quantity"))).cast("double").as("qty"))
          .groupBy(col("l_partkey"))
          .agg(hhi(col("qty")).as("hhi"))
          .agg(count(lit(1)).as("n_parts_known"),
               sum(when(round(col("hhi"), 6) >= 0.5, 1L).otherwise(0L)).as("n_concentrated"),
               round(max(col("hhi")), 6).as("max_hhi"))
        // 1-row x 1-row: the audited-correct single-row crossJoin pattern
        em.crossJoin(hm).withColumn("year", lit(y))
      }
      perYear.reduce(_.unionByName(_))
        .select("year", "n_edges", "n_src", "n_dst",
                "n_parts_known", "n_concentrated", "max_hhi")
        .orderBy("year")
    }, Some(s"""
      WITH $edgesCte
      $snapshotSeriesSql""")),

    // G29-family — FAN-IN VELOCITY (README.md:6 "identify hidden risks in
    // seconds" × README.md:17 temporal analysis): entities suddenly
    // contacted by MANY DISTINCT counterparties within a short span — the
    // structuring/funnel signal a static degree count (g08) washes out,
    // because it has no clock: 5 distinct counterparties over 5 years is
    // organic, over 6 hours is a case. Semantics: for every inbound
    // interaction event, the number of DISTINCT sources that touched the
    // target within the trailing 6 h; an entity is flagged on its PEAK
    // velocity ≥ 3, reported with the earliest time the peak was reached
    // (deterministic under ties by construction: max(struct(v, -ts))).
    // Scale shape: ONE shuffle (hash by target) + one ordered range-frame
    // window — the frame is value-bounded (6 h of that target's inbound
    // traffic), so work is linear in events with no self-join and no
    // bucket duplication; a hub target concentrates its own partition
    // (sort stays within the executor, spill-safe) — the documented skew
    // bound is per-target 6 h inbound volume, the same quantity the alert
    // itself monitors. Threshold 3 and the 6 h horizon are
    // fixture-calibrated (peak velocity tops at 3/5/6 across graded sfs).
    // The streaming sibling is t15 (tumbling dedup-then-count alert);
    // this batch form keeps the sliding precision an investigator wants
    // for the case file.
    E("g63_fanin_velocity", (s, d) => {
      val t = Tables(s, d)
      val horizon = 6L * 3600L * 1000000L
      val tr = GraphBuilder.userTransitions(t)
        .select(col("src"), col("dst"), unix_micros(col("ts")).as("ts_us"))
      val w = Window.partitionBy("dst").orderBy(col("ts_us"))
        .rangeBetween(-horizon, 0)
      tr.withColumn("v", size(array_distinct(collect_list(col("src")).over(w))).cast("long"))
        .groupBy(col("dst"))
        .agg(max(struct(col("v"), (-col("ts_us")).as("nts"))).as("pk"),
             count(lit(1)).as("n_inbound"))
        .select(col("dst").as("user"), col("pk.v").as("peak_v"),
                (-col("pk.nts")).as("peak_ts_us"), col("n_inbound"))
        .filter(col("peak_v") >= 3L)
        .orderBy("user")
    }, Some("""
      WITH tr AS (
        SELECT 7000000000 + prev AS src, 7000000000 + user_id AS dst, ts
        FROM (SELECT user_id, ts, event_id,
                     LAG(user_id) OVER (ORDER BY ts, event_id) AS prev FROM events)
        WHERE prev IS NOT NULL AND prev <> user_id),
      vel AS (
        SELECT dst, epoch_us(ts) AS ts_us,
               COUNT(DISTINCT src) OVER (PARTITION BY dst ORDER BY epoch_us(ts)
                 RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW) AS v
        FROM tr),
      pk AS (SELECT dst, MAX(v) AS peak_v, COUNT(*) AS n_inbound FROM vel GROUP BY dst)
      SELECT p.dst AS "user", p.peak_v, MIN(x.ts_us) AS peak_ts_us, p.n_inbound
      FROM pk p JOIN vel x ON x.dst = p.dst AND x.v = p.peak_v
      WHERE p.peak_v >= 3
      GROUP BY 1, 2, 4
      ORDER BY 1""")),

    // G21 × G24 — DOSSIER AS-OF: the g52 product workflow AT each
    // Time-Slider position (README.md:4-6 dossier × README.md:17 "evolved
    // over years" — "what did supplier S's dossier look like in 1996 vs
    // 2001?" is the audit-trail question). Three sections, each the as-of
    // form of its g52 sibling, each batching the date axis for free:
    // owners from Ubo.propagateLayers over datedUboLayers (shared
    // with g56 — dates add conditional sums, never scans; renormalization
    // semantics inherited), risk flags from the SAME dated supplied layer
    // (a part's concentration ratio in 1996 uses 1996's supplier mix —
    // the g56 renormalization argument applied to g52's ratio), ego
    // summaries from ONE egoMembers traversal for all (seed, date)
    // pairs (the s09 shape). Long format (as_of_year, supplier, section,
    // key, detail, score) — the g52 contract with the slider axis
    // prepended. Top-3 owners per (date, supplier), rank-truncated (the
    // g03 dilution lesson).
    E("g62_dossier_asof", (s, d) => {
      dossierAsOfRows(s, d)
        .select(year(col("as_of")).cast("long").as("as_of_year"), col("supplier"),
                col("section"), col("key"), col("detail"), col("score"))
        .orderBy("as_of_year", "supplier", "section", "key", "detail")
    }, Some(s"""
      WITH RECURSIVE dates(as_of) AS (VALUES (TIMESTAMP '1996-12-31 23:59:59'),
                                             (TIMESTAMP '2001-12-31 23:59:59')),
      placed_a AS (
        SELECT d.as_of, CAST(3000000000 + o_custkey AS BIGINT) AS src,
               CAST(6000000000 + o_orderkey AS BIGINT) AS dst,
               CAST(1.0 AS DOUBLE) / COUNT(*) OVER (PARTITION BY d.as_of, o_custkey) AS weight
        FROM orders CROSS JOIN dates d WHERE o_orderdate <= d.as_of),
      contains_a AS (
        SELECT as_of, CAST(6000000000 + l_orderkey AS BIGINT) AS src,
               CAST(5000000000 + l_partkey AS BIGINT) AS dst,
               CAST(qty AS DOUBLE) / CAST(SUM(qty) OVER (PARTITION BY as_of, l_orderkey) AS DOUBLE) AS weight
        FROM (SELECT d.as_of, l_orderkey, l_partkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
              FROM lineitem CROSS JOIN dates d WHERE l_shipdate <= d.as_of GROUP BY 1, 2, 3)),
      supplied_a AS (
        SELECT as_of, CAST(5000000000 + l_partkey AS BIGINT) AS src,
               CAST(4000000000 + l_suppkey AS BIGINT) AS dst,
               CAST(qty AS DOUBLE) / CAST(SUM(qty) OVER (PARTITION BY as_of, l_partkey) AS DOUBLE) AS weight
        FROM (SELECT d.as_of, l_partkey, l_suppkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
              FROM lineitem CROSS JOIN dates d WHERE l_shipdate <= d.as_of GROUP BY 1, 2, 3)),
      b0 AS (SELECT CAST(4000000000 + v.s AS BIGINT) AS supplier, d.as_of,
                    CAST(4000000000 + v.s AS BIGINT) AS entity, CAST(1.0 AS DOUBLE) AS share
             FROM (VALUES (1), (2)) AS v(s) CROSS JOIN dates d),
      b1 AS (SELECT p.supplier, p.as_of, e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b0 p JOIN supplied_a e ON e.dst = p.entity AND e.as_of = p.as_of GROUP BY 1, 2, 3),
      b2 AS (SELECT p.supplier, p.as_of, e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b1 p JOIN contains_a e ON e.dst = p.entity AND e.as_of = p.as_of GROUP BY 1, 2, 3),
      b3 AS (SELECT p.supplier, p.as_of, e.src AS entity, SUM(p.share * e.weight) AS share
             FROM b2 p JOIN placed_a e ON e.dst = p.entity AND e.as_of = p.as_of GROUP BY 1, 2, 3),
      cone AS (SELECT supplier, as_of, entity AS holder, ROUND(share, 6) AS share6 FROM b3),
      rk AS (SELECT supplier, as_of, holder, share6,
                    ROW_NUMBER() OVER (PARTITION BY as_of, supplier
                                       ORDER BY share6 DESC, holder) AS rnk
             FROM cone),
      owner_rows AS (
        SELECT r.as_of, r.supplier, 'owner' AS section, r.holder AS "key",
               c.c_name AS detail, r.share6 AS score
        FROM rk r JOIN customer c ON 3000000000 + c.c_custkey = r.holder
        WHERE r.rnk <= 3),
      pagg AS (SELECT as_of, src AS pid, COUNT(*) AS n, MAX(weight) AS mx,
                      MAX(weight) * COUNT(*) AS ratio
               FROM supplied_a GROUP BY 1, 2),
      seed_parts AS (SELECT DISTINCT as_of, dst AS supplier, src AS pid FROM supplied_a
                     WHERE dst IN (4000000001, 4000000002)),
      risk_rows AS (
        SELECT sp.as_of, sp.supplier, 'risk_part' AS section, sp.pid AS "key",
               CASE WHEN p.ratio >= 3.0 THEN 'dominant_supplier,highly_concentrated'
                    ELSE 'dominant_supplier' END AS detail,
               ROUND(p.ratio, 6) AS score
        FROM seed_parts sp JOIN pagg p ON p.as_of = sp.as_of AND p.pid = sp.pid
        WHERE p.ratio >= 2.5),
      ${edgesCte},
      sy(seed, as_of) AS (SELECT CAST(4000000000 + v.s AS BIGINT), d.as_of
                          FROM (VALUES (1), (2)) v(s) CROSS JOIN dates d),
      sym AS (SELECT src, dst, MIN(COALESCE(valid_from, TIMESTAMP '1970-01-01')) AS active_from
              FROM (SELECT src, dst, valid_from FROM graph_edges
                    UNION ALL SELECT dst, src, valid_from FROM graph_edges) GROUP BY 1, 2),
      reach(seed, as_of, id, depth) AS (
        SELECT seed, as_of, seed, 0 FROM sy
        UNION ALL
        SELECT r.seed, r.as_of, s2.dst, r.depth + 1
        FROM reach r JOIN sym s2 ON s2.src = r.id
        WHERE r.depth < 2 AND s2.active_from <= r.as_of),
      rs AS MATERIALIZED (SELECT DISTINCT seed, as_of, id FROM reach),
      ego_nodes AS (SELECT as_of, seed AS supplier, 'ego_nodes' AS section,
                           CAST(0 AS BIGINT) AS "key", 'nodes' AS detail,
                           CAST(COUNT(*) AS DOUBLE) AS score
                    FROM rs GROUP BY 1, 2),
      ind_a AS MATERIALIZED (
              SELECT a.seed, a.as_of, e.dst, e.rel_type
              FROM graph_edges e
              JOIN rs a ON e.src = a.id
              WHERE e.valid_from IS NULL OR e.valid_from <= a.as_of),
      ind AS (SELECT i.seed, i.as_of, i.rel_type
              FROM ind_a i
              JOIN rs b ON b.seed = i.seed AND b.as_of = i.as_of AND i.dst = b.id),
      ego_edges AS (SELECT as_of, seed AS supplier, 'ego_edges' AS section,
                           CAST(0 AS BIGINT) AS "key", rel_type AS detail,
                           CAST(COUNT(*) AS DOUBLE) AS score
                    FROM ind GROUP BY 1, 2, 5),
      allrows AS (SELECT * FROM owner_rows UNION ALL SELECT * FROM risk_rows
                  UNION ALL SELECT * FROM ego_nodes UNION ALL SELECT * FROM ego_edges)
      SELECT CAST(EXTRACT(year FROM as_of) AS BIGINT) AS as_of_year, supplier,
             section, "key", detail, score
      FROM allrows
      ORDER BY as_of_year, supplier, section, "key", detail"""))
  )

  val queries: Map[String, Q] = entries.map(e => e.name -> e.fn).toMap
  val oracleSql: Map[String, String] = entries.flatMap(e => e.sql.map(sql => e.name -> sql.trim)).toMap
}
