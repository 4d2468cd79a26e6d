package graft.sources

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S-series graded queries: multi-format source/sink round-trips
  * (SURVEY.md §2.1 S1/S5 — "Export … underlying relational data",
  * /root/reference/README.md:19). Each query WRITES a driver table to a
  * non-parquet format under the JVM temp dir, READS it back with an
  * explicit schema (schema-on-read contract: no inference in the engine
  * path), and aggregates — the oracle computes the same aggregate from the
  * original parquet, so the round-trip is value-exact or the hash fails.
  *
  * Scale note: both sinks partition like any DataFrame write (one file per
  * task); CSV/JSON are interchange formats here, not storage — the engine's
  * native layout stays columnar parquet (SCALE.md "Storage layout").
  */
object SourceQueries {
  type Q = (SparkSession, String) => DataFrame
  private final case class E(name: String, fn: Q, sql: Option[String])

  // private[graft]: ScaleSpec reads s06's feed back for the corrupt-row
  // assertions — sharing the path/schema keeps test and query in lockstep.
  // One directory per application id, so two sessions on one host never
  // write over each other's round-trip files; it is deleted at JVM exit.
  private[graft] def tmpDir(leaf: String): String = {
    val sc = SparkSession.active.sparkContext
    val base = new org.apache.hadoop.fs.Path(
      new java.io.File(new java.io.File(sys.props("java.io.tmpdir"), "graft_fmt"),
        sc.applicationId).toURI)
    val fs = base.getFileSystem(sc.hadoopConfiguration)
    if (fs.mkdirs(base)) fs.deleteOnExit(base)
    new org.apache.hadoop.fs.Path(base, leaf).toUri.getPath
  }

  /** s06's read schema incl. the corrupt-record column (shared with
    * ScaleSpec so the recovery-path test cannot drift from the query). */
  private[graft] val malformedCsvSchema: StructType = StructType(Seq(
    StructField("n_nationkey", LongType), StructField("n_name", StringType),
    StructField("n_regionkey", LongType),
    StructField("_corrupt_record", StringType)))

  /** Cytoscape node-link documents for a seed set (the s07 body, shared
    * with the capped form): batched multi-seed ego extraction → per-seed
    * byte-stable nodes/edges JSON → actual .json sink round-trip.
    *
    * `maxNodesPerSeed` is the supernode guard (VERDICT r10 s07 caveat):
    * when set, membership is truncated per seed via
    * [[graft.graph.Traversals.capEgoMembers]] (min depth, then induced
    * incident weight, then id — seed always kept) BEFORE the induced-edge
    * and collect_list steps, so no per-document allocation exceeds the
    * cap; the output then carries `n_nodes_total` (pre-cap membership)
    * and `node_cap` columns so a consumer can SEE truncation. When None
    * (the graded s07 path — its 3 customer seeds are vetted), schema and
    * bytes are the round-10 originals.
    */
  private[graft] def cytoscapeDocs(s: SparkSession, d: String, seeds: DataFrame,
      radius: Int, maxNodesPerSeed: Option[Int] = None,
      leaf: String = "cytoscape_json"): DataFrame = {
    val t = Tables(s, d)
    val g = graft.graph.GraphBuilder.edges(t)
    val raw = graft.graph.Traversals.egoMembers(g, seeds, radius)
    val members = maxNodesPerSeed match {
      case Some(cap) => graft.graph.Traversals.capEgoMembers(g, raw, cap)
        .transform(graft.graph.Materialize.apply) // reused: nodes agg + induced edges
      case None => raw
    }
    val nd = graft.graph.GraphBuilder.nodes(t)
      .join(broadcast(members.select("seed", "id")), Seq("id"))
      .groupBy("seed")
      .agg(count(lit(1)).as("n_nodes"),
           to_json(sort_array(collect_list(
             struct(col("id"), col("label"), col("name"))))).as("nodes_json"))
    val ed = graft.graph.Traversals.inducedEdges(g, members)
      .select(col("seed"), col("src"), col("dst"), col("rel_type"),
              floor(col("weight") * 1e6 + 0.5).cast("long").as("w_ppm"))
      .groupBy("seed")
      .agg(count(lit(1)).as("n_edges"),
           to_json(sort_array(collect_list(
             struct(col("src"), col("dst"), col("rel_type"), col("w_ppm"))))).as("edges_json"))
    val docs = nd.join(ed, Seq("seed"))
    val (out, cols) = maxNodesPerSeed match {
      case Some(cap) =>
        val totals = members.select("seed", "n_total").distinct()
          .withColumnRenamed("n_total", "n_nodes_total")
        (docs.join(broadcast(totals), Seq("seed")).withColumn("node_cap", lit(cap)),
         Seq("seed", "n_nodes", "n_nodes_total", "node_cap", "n_edges", "nodes_json", "edges_json"))
      case None => (docs, Seq("seed", "n_nodes", "n_edges", "nodes_json", "edges_json"))
    }
    // leaf keeps each caller's sink directory distinct (ADVICE r12: s12
    // re-exporting into s07's leaf made the two JSON round-trips
    // order-coupled), mirroring graphmlDocs' leaf parameter.
    val path = tmpDir(if (maxNodesPerSeed.isDefined) s"${leaf}_capped" else leaf)
    out.select(cols.head, cols.tail: _*).write.mode("overwrite").json(path)
    val schema = StructType(cols.map {
      case c @ ("nodes_json" | "edges_json") => StructField(c, StringType)
      case c => StructField(c, LongType)
    })
    s.read.schema(schema).json(path)
      .select(cols.head, cols.tail: _*)
      .orderBy("seed")
  }

  /** GraphML documents for a seed set (the s08 body, extracted so s10's
    * IMPORT round-trip reads the exact graded export): batched ego
    * extraction → per-seed well-formed GraphML (sorted nodes/edges,
    * XML-escaped text, integer-ppm weights — byte-stable, see the s08
    * entry comment) → actual .json sink round-trip. `leaf` keeps each
    * caller's sink directory distinct.
    */
  private[graft] def graphmlDocs(s: SparkSession, d: String, seeds: DataFrame,
                                 radius: Int, leaf: String): DataFrame = {
    val t = Tables(s, d)
    val g = graft.graph.GraphBuilder.edges(t)
    val members = graft.graph.Traversals.egoMembers(g, seeds, radius)
    def esc(c: Column): Column =
      regexp_replace(regexp_replace(regexp_replace(
        c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val nd = graft.graph.GraphBuilder.nodes(t)
      .join(broadcast(members.select("seed", "id")), Seq("id"))
      .groupBy("seed")
      .agg(count(lit(1)).as("n_nodes"),
        array_join(transform(
          sort_array(collect_list(struct(col("id"), col("label"), col("name")))),
          x => concat(lit("    <node id=\"n"), x.getField("id").cast("string"),
            lit("\"><data key=\"label\">"), esc(x.getField("label")),
            lit("</data><data key=\"name\">"), esc(x.getField("name")),
            lit("</data></node>"))), "\n").as("nodes_xml"))
    val ed = graft.graph.Traversals.inducedEdges(g, members)
      .select(col("seed"), col("src"), col("dst"), col("rel_type"),
              floor(col("weight") * 1e6 + 0.5).cast("long").as("w_ppm"))
      .groupBy("seed")
      .agg(count(lit(1)).as("n_edges"),
        array_join(transform(
          sort_array(collect_list(struct(col("src"), col("dst"), col("rel_type"), col("w_ppm")))),
          x => concat(lit("    <edge source=\"n"), x.getField("src").cast("string"),
            lit("\" target=\"n"), x.getField("dst").cast("string"),
            lit("\"><data key=\"rel\">"), esc(x.getField("rel_type")),
            lit("</data><data key=\"w\">"), x.getField("w_ppm").cast("string"),
            lit("</data></edge>"))), "\n").as("edges_xml"))
    val header = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
      "<graphml xmlns=\"http://graphml.graphdrawing.org/xmlns\">\n" +
      "  <key id=\"label\" for=\"node\" attr.name=\"label\" attr.type=\"string\"/>\n" +
      "  <key id=\"name\" for=\"node\" attr.name=\"name\" attr.type=\"string\"/>\n" +
      "  <key id=\"rel\" for=\"edge\" attr.name=\"rel_type\" attr.type=\"string\"/>\n" +
      "  <key id=\"w\" for=\"edge\" attr.name=\"w_ppm\" attr.type=\"long\"/>\n"
    val docs = nd.join(ed, Seq("seed"))
      .select(col("seed"), col("n_nodes"), col("n_edges"),
        concat(lit(header),
          lit("  <graph id=\"ego_"), col("seed").cast("string"),
          lit("\" edgedefault=\"directed\">\n"),
          col("nodes_xml"), lit("\n"), col("edges_xml"),
          lit("\n  </graph>\n</graphml>")).as("graphml"))
    val path = tmpDir(leaf)
    docs.write.mode("overwrite").json(path)
    s.read.schema(StructType(Seq(
        StructField("seed", LongType), StructField("n_nodes", LongType),
        StructField("n_edges", LongType), StructField("graphml", StringType))))
      .json(path)
      .select("seed", "n_nodes", "n_edges", "graphml")
      .orderBy("seed")
  }

  /** Time-Slider documents for a (seed, year, as_of) set (the s09 body,
    * extracted for the capped form): batched (seed, as_of) ego extraction
    * → per-position byte-stable nodes/edges JSON → .json sink round-trip.
    *
    * `maxNodesPerPosition` is the as-of-aware supernode guard (VERDICT
    * r11 #5 — SCALE.md records LOCATED_IN hubs growing s09 documents
    * linearly with the board): when set, each (seed, as_of) membership is
    * truncated via [[graft.graph.Traversals.capEgoMembers]] (min
    * depth, then induced incident weight WITHIN that position's validity
    * snapshot, then id — seed always kept) BEFORE the induced-edge and
    * collect_list steps, and the output carries `n_nodes_total` (pre-cap)
    * and `node_cap` so a consumer can SEE truncation. When None (the
    * graded s09 path — its oracle hashes full frames), schema and bytes
    * are the round-11 originals.
    */
  private[graft] def timesliderDocs(s: SparkSession, d: String, sy: DataFrame,
      radius: Int, maxNodesPerPosition: Option[Int] = None): DataFrame = {
    val t = Tables(s, d)
    val g = graft.graph.GraphBuilder.edges(t)
    val raw = graft.graph.Traversals.egoMembers(g, sy.select("seed", "as_of"), radius)
    val members = maxNodesPerPosition match {
      case Some(cap) => graft.graph.Traversals.capEgoMembers(g, raw, cap)
        .transform(graft.graph.Materialize.apply) // reused: nodes agg + induced edges
      case None => raw
    }
    val nd = graft.graph.GraphBuilder.nodes(t)
      .join(broadcast(members.select("seed", "as_of", "id")), Seq("id"))
      .groupBy("seed", "as_of")
      .agg(count(lit(1)).as("n_nodes"),
           to_json(sort_array(collect_list(
             struct(col("id"), col("label"), col("name"))))).as("nodes_json"))
    val ed = graft.graph.Traversals.inducedEdges(g, members)
      .select(col("seed"), col("as_of"), col("src"), col("dst"), col("rel_type"),
              floor(col("weight") * 1e6 + 0.5).cast("long").as("w_ppm"))
      .groupBy("seed", "as_of")
      .agg(count(lit(1)).as("n_edges"),
           to_json(sort_array(collect_list(
             struct(col("src"), col("dst"), col("rel_type"), col("w_ppm"))))).as("edges_json"))
    val docs0 = nd.join(ed, Seq("seed", "as_of"), "left")
      .join(broadcast(sy.select("seed", "year", "as_of")), Seq("seed", "as_of"))
    val (docs, cols) = maxNodesPerPosition match {
      case Some(cap) =>
        val totals = members.select("seed", "as_of", "n_total").distinct()
          .withColumnRenamed("n_total", "n_nodes_total")
        (docs0.join(broadcast(totals), Seq("seed", "as_of")).withColumn("node_cap", lit(cap)),
         Seq("seed", "year", "n_nodes", "n_nodes_total", "node_cap",
             "n_edges", "nodes_json", "edges_json"))
      case None => (docs0, Seq("seed", "year", "n_nodes", "n_edges", "nodes_json", "edges_json"))
    }
    val out = docs.select(col(cols.head) +: cols.tail.map {
      case "n_edges" => coalesce(col("n_edges"), lit(0L)).as("n_edges")
      case "edges_json" => coalesce(col("edges_json"), lit("[]")).as("edges_json")
      case c => col(c)
    }: _*)
    val path = tmpDir(if (maxNodesPerPosition.isDefined) "timeslider_json_capped"
                      else "timeslider_json")
    out.write.mode("overwrite").json(path)
    val schema = StructType(cols.map {
      case c @ ("nodes_json" | "edges_json") => StructField(c, StringType)
      case c => StructField(c, LongType)
    })
    s.read.schema(schema).json(path)
      .select(cols.head, cols.tail: _*)
      .orderBy("seed", "year")
  }

  private val entries: Seq[E] = Seq(

    // S1/S5 — CSV sink + schema'd CSV source round-trip (quoted fields
    // exercise the escaping path; values must survive exactly).
    E("s01_csv_roundtrip", (s, d) => {
      val path = tmpDir("nation_csv")
      Tables(s, d).nation
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
                col("n_regionkey").cast("long").as("n_regionkey"))
        .write.mode("overwrite").option("header", "true").csv(path)
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType), StructField("n_name", StringType),
        StructField("n_regionkey", LongType)))
      s.read.schema(schema).option("header", "true").csv(path)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
             sum(col("n_nationkey")).as("key_sum"),
             sum(length(col("n_name"))).as("name_chars"),
             array_join(sort_array(collect_list(col("n_name"))), ",").as("names"))
        .orderBy("n_regionkey")
    }, Some("""
      SELECT n_regionkey, COUNT(*) AS n_nations,
             CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
             CAST(SUM(LENGTH(n_name)) AS BIGINT) AS name_chars,
             string_agg(n_name, ',' ORDER BY n_name) AS names
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // S1/S5 — JSON lines sink + schema'd JSON source round-trip (doubles
    // and strings must survive serialization exactly).
    E("s02_json_roundtrip", (s, d) => {
      val path = tmpDir("supplier_json")
      Tables(s, d).supplier
        .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
                col("s_nationkey").cast("long").as("s_nationkey"),
                col("s_acctbal").cast("double").as("s_acctbal"))
        .write.mode("overwrite").json(path)
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", LongType), StructField("s_acctbal", DoubleType)))
      s.read.schema(schema).json(path)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
             round(sum(graft.Tables.dec(col("s_acctbal"))).cast("double"), 2).as("acctbal_sum"),
             min(col("s_name")).as("first_name"))
        .orderBy("s_nationkey")
    }, Some("""
      SELECT s_nationkey, COUNT(*) AS n_suppliers,
             ROUND(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS acctbal_sum,
             MIN(s_name) AS first_name
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // S1/S5 — ORC sink + source round-trip (the second columnar format on
    // the classpath; column pruning and predicate pushdown apply to ORC
    // scans the same way they do to parquet).
    E("s03_orc_roundtrip", (s, d) => {
      val path = tmpDir("part_orc")
      Tables(s, d).part
        .select(col("p_partkey").cast("long").as("p_partkey"), col("p_brand"),
                col("p_size").cast("long").as("p_size"),
                col("p_retailprice").cast("double").as("p_retailprice"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .filter(col("p_size") >= 10)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
             sum(col("p_size")).as("size_sum"),
             round(sum(graft.Tables.dec(col("p_retailprice"))).cast("double"), 2).as("price_sum"))
        .orderBy("p_brand")
    }, Some("""
      SELECT p_brand, COUNT(*) AS n_parts, CAST(SUM(p_size) AS BIGINT) AS size_sum,
             ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS price_sum
      FROM part WHERE p_size >= 10
      GROUP BY p_brand ORDER BY p_brand""")),

    // S5b — hive-partitioned layout round-trip: write supplier partitioned
    // by nation (one directory per key — the at-scale layout), read back
    // with a partition-key predicate. The filter prunes DIRECTORIES before
    // any file is opened (PartitionFilters in the scan, not a data filter)
    // — at 100 TB this is the difference between reading 5/25ths of the
    // table and reading it all. Explicit schema per this object's
    // schema-on-read contract — it also pins the PARTITION column's type,
    // which inference would otherwise guess (int, or string when a
    // deployment disables partitionColumnTypeInference).
    E("s04_partitioned_roundtrip", (s, d) => {
      val path = tmpDir("supplier_part")
      Tables(s, d).supplier
        .select(col("s_suppkey").cast("long").as("s_suppkey"),
                col("s_acctbal").cast("double").as("s_acctbal"),
                col("s_nationkey").cast("long").as("s_nationkey"))
        .write.mode("overwrite").partitionBy("s_nationkey").parquet(path)
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType), StructField("s_acctbal", DoubleType),
        StructField("s_nationkey", LongType)))
      s.read.schema(schema).parquet(path)
        .filter(col("s_nationkey") < 5)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
             round(sum(graft.Tables.dec(col("s_acctbal"))).cast("double"), 2).as("acctbal_sum"))
        .orderBy("s_nationkey")
    }, Some("""
      SELECT s_nationkey, COUNT(*) AS n_suppliers,
             ROUND(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS acctbal_sum
      FROM supplier WHERE s_nationkey < 5
      GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // S5b — schema-evolution roundtrip: an incremental pipeline's old
    // batches lack columns newer batches carry. Batch 1 writes (n_nationkey,
    // n_name); batch 2 adds n_regionkey; a mergeSchema read must union the
    // schemas and null-fill the missing column in old rows — graded by
    // aggregating with explicit null handling so both the widened schema
    // and the null-fill are value-checked. At scale mergeSchema footer
    // reconciliation is a bounded driver-side step (one footer per file),
    // the data path stays columnar.
    E("s05_schema_evolution", (s, d) => {
      val path = tmpDir("nation_evo")
      val n = Tables(s, d).nation
      n.filter(col("n_nationkey") < 12)
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
        .write.mode("overwrite").parquet(path + "/b1")
      n.filter(col("n_nationkey") >= 12)
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
                col("n_regionkey").cast("long").as("n_regionkey"))
        .write.mode("overwrite").parquet(path + "/b2")
      s.read.option("mergeSchema", "true").parquet(path + "/b1", path + "/b2")
        .groupBy(coalesce(col("n_regionkey"), lit(-1L)).as("region"))
        .agg(count(lit(1)).as("n_nations"),
             sum(col("n_nationkey")).as("key_sum"),
             min(col("n_name")).as("first_name"))
        .orderBy("region")
    }, Some("""
      SELECT COALESCE(CASE WHEN n_nationkey >= 12 THEN n_regionkey END, -1) AS region,
             COUNT(*) AS n_nations,
             CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
             MIN(n_name) AS first_name
      FROM nation GROUP BY 1 ORDER BY region""")),

    // S6b — malformed-row ingest hygiene: a CSV feed with planted corrupt
    // rows (wrong arity, non-numeric keys) read under an explicit schema;
    // clean rows are selected by PERMISSIVE parsing + an explicit
    // `_corrupt_record IS NULL` filter and the graded aggregate must equal
    // the clean-source oracle exactly — proving the bad rows (and ONLY
    // the bad rows) were excluded. Deliberately NOT mode=DROPMALFORMED:
    // its malformed detection only sees the columns that survive pruning
    // (Spark documents CSV count/pruning changing its semantics — we
    // reproduced `count()` keeping rows the full projection drops), so a
    // downstream projection silently changes WHICH rows it keeps.
    // Referencing the corrupt-record column forces full-row parse
    // regardless of pruning. ScaleSpec asserts the recovered corrupt rows
    // themselves. At scale both paths are per-task streaming parses.
    E("s06_malformed_csv", (s, d) => {
      val spark = s
      import spark.implicits._
      val path = tmpDir("nation_malformed")
      Tables(s, d).nation
        .select(col("n_nationkey").cast("long"), col("n_name"),
                col("n_regionkey").cast("long"))
        .write.mode("overwrite").option("header", "false").csv(path + "/good")
      Seq("not_a_number,BADLAND,0", "1,TOO,0,EXTRA,COLS", "999")
        .toDF("value").coalesce(1)
        .write.mode("overwrite").text(path + "/bad")
      s.read.schema(malformedCsvSchema).option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path + "/good", path + "/bad")
        .filter(col("_corrupt_record").isNull)
        .drop("_corrupt_record")
        // materialization barrier: corruptness is judged on the fields the
        // scan actually parses, so a downstream projection that prunes
        // columns changes WHICH rows count as corrupt (reproduced: a
        // select of 2 columns kept rows the full projection rejects).
        // Materializing the full clean row here pins the semantics for
        // every consumer.
        .transform(graft.graph.Materialize.apply)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"), sum(col("n_nationkey")).as("key_sum"),
             min(col("n_name")).as("first_name"))
        .orderBy("n_regionkey")
    }, Some("""
      SELECT n_regionkey, COUNT(*) AS n_nations,
             CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
             MIN(n_name) AS first_name
      FROM nation GROUP BY 1 ORDER BY n_regionkey""")),

    // S5b — graph-shaped export for the visualization layer (README.md:19
    // "export high-resolution graph visualizations"; the reference's
    // frontend renders Cytoscape.js node-link documents, README.md:27).
    // One JSON document per ego subgraph: a nodes array (id, label, name)
    // and an edges array (src, dst, rel_type, w_ppm), both
    // deterministically sorted so the document is byte-stable across
    // engines and runs. The ego extraction is the BATCHED multi-seed form
    // (Traversals.egoMembers/inducedEdges — k seeds, one plan, the edge
    // table never shuffles under the measured broadcast gate); weights
    // ship as integer ppm because raw doubles render differently across
    // JSON writers. The document set round-trips through an actual
    // .json sink (write → schema'd read-back), so the graded hash covers
    // the sink encoding too, not just the in-memory strings.
    E("s07_cytoscape_export", (s, d) => {
      val seeds = s.range(1, 4)
        .select((lit(graft.graph.GraphBuilder.CustomerBase) + col("id")).as("seed"))
      cytoscapeDocs(s, d, seeds, radius = 2) // uncapped: the 3 seeds are vetted
    }, Some(s"""
      WITH RECURSIVE ${graft.graph.GraphSql.edgesCte}, ${graft.graph.GraphSql.nodesCte},
      seeds(seed) AS (VALUES (CAST(3000000001 AS BIGINT)), (CAST(3000000002 AS BIGINT)), (CAST(3000000003 AS BIGINT))),
      sym AS (SELECT src, dst FROM graph_edges UNION SELECT dst, src FROM graph_edges),
      reach(seed, id, depth) AS (
        SELECT seed, seed, 0 FROM seeds
        UNION ALL
        SELECT r.seed, s.dst, r.depth + 1 FROM reach r JOIN sym s ON s.src = r.id WHERE r.depth < 2),
      rs AS (SELECT DISTINCT seed, id FROM reach),
      ind AS (
        SELECT a.seed, e.src, e.dst, e.rel_type,
               CAST(FLOOR(e.weight * 1000000 + 0.5) AS BIGINT) AS w_ppm
        FROM graph_edges e
        JOIN rs a ON e.src = a.id
        JOIN rs b ON b.seed = a.seed AND e.dst = b.id),
      nd AS (
        SELECT r.seed, COUNT(*) AS n_nodes,
               to_json(list(struct_pack(id := n.id, label := n.label, name := n.name)
                            ORDER BY n.id)) AS nodes_json
        FROM rs r JOIN graph_nodes n ON n.id = r.id GROUP BY r.seed),
      ed AS (
        SELECT seed, COUNT(*) AS n_edges,
               to_json(list(struct_pack(src := src, dst := dst, rel_type := rel_type, w_ppm := w_ppm)
                            ORDER BY src, dst, rel_type, w_ppm)) AS edges_json
        FROM ind GROUP BY seed)
      SELECT nd.seed, n_nodes, n_edges, nodes_json, edges_json
      FROM nd JOIN ed ON ed.seed = nd.seed
      ORDER BY nd.seed""")),

    // S5c — GraphML export (the standard graph-interchange XML the
    // reference's ecosystem reads: Neo4j's APOC export, Gephi, yEd all
    // speak GraphML — README.md:19 "audit documentation" as a portable
    // graph artifact, complementing s07's Cytoscape-specific node-link
    // form). One complete, WELL-FORMED GraphML document per ego subgraph:
    // <key> declarations, sorted <node> elements carrying label/name data,
    // sorted <edge> elements carrying rel_type/w_ppm — text content
    // XML-escaped (&, <, > — the three that matter in element text),
    // weights as integer ppm, every ordering explicit, so the document is
    // byte-stable across engines (the oracle builds the SAME bytes in
    // DuckDB and the hash compares them). Same batched ego extraction and
    // .json sink round-trip as s07; GraphmlExportSpec additionally parses
    // every document with the JDK's namespace-aware XML parser — a
    // well-formedness check no byte hash expresses.
    E("s08_graphml_export", (s, d) => {
      graphmlDocs(s, d,
        s.range(1, 4).select((lit(graft.graph.GraphBuilder.CustomerBase) + col("id")).as("seed")),
        radius = 2, leaf = "graphml_json")
    }, Some(s"""
      WITH RECURSIVE ${graft.graph.GraphSql.edgesCte}, ${graft.graph.GraphSql.nodesCte},
      seeds(seed) AS (VALUES (CAST(3000000001 AS BIGINT)), (CAST(3000000002 AS BIGINT)), (CAST(3000000003 AS BIGINT))),
      sym AS (SELECT src, dst FROM graph_edges UNION SELECT dst, src FROM graph_edges),
      reach(seed, id, depth) AS (
        SELECT seed, seed, 0 FROM seeds
        UNION ALL
        SELECT r.seed, s.dst, r.depth + 1 FROM reach r JOIN sym s ON s.src = r.id WHERE r.depth < 2),
      rs AS (SELECT DISTINCT seed, id FROM reach),
      ind AS (
        SELECT a.seed, e.src, e.dst, e.rel_type,
               CAST(FLOOR(e.weight * 1000000 + 0.5) AS BIGINT) AS w_ppm
        FROM graph_edges e
        JOIN rs a ON e.src = a.id
        JOIN rs b ON b.seed = a.seed AND e.dst = b.id),
      nd AS (
        SELECT r.seed, COUNT(*) AS n_nodes,
               string_agg('    <node id="n' || CAST(n.id AS VARCHAR) || '"><data key="label">'
                 || replace(replace(replace(n.label, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                 || '</data><data key="name">'
                 || replace(replace(replace(n.name, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                 || '</data></node>', chr(10) ORDER BY n.id) AS nodes_xml
        FROM rs r JOIN graph_nodes n ON n.id = r.id GROUP BY r.seed),
      ed AS (
        SELECT seed, COUNT(*) AS n_edges,
               string_agg('    <edge source="n' || CAST(src AS VARCHAR) || '" target="n'
                 || CAST(dst AS VARCHAR) || '"><data key="rel">'
                 || replace(replace(replace(rel_type, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                 || '</data><data key="w">' || CAST(w_ppm AS VARCHAR) || '</data></edge>',
                 chr(10) ORDER BY src, dst, rel_type, w_ppm) AS edges_xml
        FROM ind GROUP BY seed)
      SELECT nd.seed, n_nodes, n_edges,
             '<?xml version="1.0" encoding="UTF-8"?>' || chr(10)
             || '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">' || chr(10)
             || '  <key id="label" for="node" attr.name="label" attr.type="string"/>' || chr(10)
             || '  <key id="name" for="node" attr.name="name" attr.type="string"/>' || chr(10)
             || '  <key id="rel" for="edge" attr.name="rel_type" attr.type="string"/>' || chr(10)
             || '  <key id="w" for="edge" attr.name="w_ppm" attr.type="long"/>' || chr(10)
             || '  <graph id="ego_' || CAST(nd.seed AS VARCHAR) || '" edgedefault="directed">' || chr(10)
             || nodes_xml || chr(10) || edges_xml || chr(10)
             || '  </graph>' || chr(10) || '</graphml>' AS graphml
      FROM nd JOIN ed ON ed.seed = nd.seed
      ORDER BY nd.seed""")),

    // S9 — Time-Slider export (README.md:17 "visualize how corporate
    // structures have evolved over years" — the slider's actual data feed,
    // not one position of it): one Cytoscape node-link document per
    // (seed, slider year), nodes/edges as byte-stable sorted JSON, the
    // graph at each position being the validity snapshot (valid_from <=
    // Dec-31 of that year). ONE batched traversal answers every position
    // of every seed — the batch key is the (seed, as_of) PAIR carried
    // through the per-level join (Traversals.egoMembers; the g53
    // free-batch-key shape), with snapshot validity a residual predicate
    // on that join, so the edge union is scanned radius times TOTAL
    // instead of radius x positions (on cumulative validity windows the
    // branch-per-year alternative's late branches re-read nearly the full
    // edge set — see the egoMembers scaladoc for the scan arithmetic).
    // Early-position documents can legitimately have zero temporal edges
    // in range; the left join + '[]' coalesce keeps every slider position
    // present (a slider with missing frames is a rendering bug). Same
    // .json sink round-trip contract as s07.
    E("s09_timeslider_export", (s, d) => {
      import s.implicits._
      val sy = (for { c <- 1 to 2; y <- Seq(1995, 1997, 1999, 2001) } yield
          (graft.graph.GraphBuilder.CustomerBase + c, y.toLong, s"$y-12-31 23:59:59"))
        .toDF("seed", "year", "ts")
        .select(col("seed"), col("year"), col("ts").cast("timestamp_ntz").as("as_of"))
      timesliderDocs(s, d, sy, radius = 2) // uncapped: the 2 seeds are vetted
    }, Some(s"""
      WITH RECURSIVE ${graft.graph.GraphSql.edgesCte}, ${graft.graph.GraphSql.nodesCte},
      sy(seed, year, as_of) AS (
        SELECT CAST(3000000000 + c.c AS BIGINT), CAST(y.y AS BIGINT),
               CAST(CAST(y.y AS VARCHAR) || '-12-31 23:59:59' AS TIMESTAMP)
        FROM (VALUES (1), (2)) c(c)
        CROSS JOIN (VALUES (1995), (1997), (1999), (2001)) y(y)),
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
      rs AS (SELECT DISTINCT seed, as_of, id FROM reach),
      ind AS (
        SELECT a.seed, a.as_of, e.src, e.dst, e.rel_type,
               CAST(FLOOR(e.weight * 1000000 + 0.5) AS BIGINT) AS w_ppm
        FROM graph_edges e
        JOIN rs a ON e.src = a.id
        JOIN rs b ON b.seed = a.seed AND b.as_of = a.as_of AND e.dst = b.id
        WHERE e.valid_from IS NULL OR e.valid_from <= a.as_of),
      nd AS (
        SELECT r.seed, r.as_of, COUNT(*) AS n_nodes,
               to_json(list(struct_pack(id := n.id, label := n.label, name := n.name)
                            ORDER BY n.id)) AS nodes_json
        FROM rs r JOIN graph_nodes n ON n.id = r.id GROUP BY r.seed, r.as_of),
      ed AS (
        SELECT seed, as_of, COUNT(*) AS n_edges,
               to_json(list(struct_pack(src := src, dst := dst, rel_type := rel_type, w_ppm := w_ppm)
                            ORDER BY src, dst, rel_type, w_ppm)) AS edges_json
        FROM ind GROUP BY seed, as_of)
      SELECT sy.seed, sy.year, n_nodes,
             COALESCE(n_edges, CAST(0 AS BIGINT)) AS n_edges, nodes_json,
             COALESCE(edges_json, '[]') AS edges_json
      FROM sy
      JOIN nd ON nd.seed = sy.seed AND nd.as_of = sy.as_of
      LEFT JOIN ed ON ed.seed = sy.seed AND ed.as_of = sy.as_of
      ORDER BY sy.seed, sy.year""")),

    // S10 — GraphML IMPORT (VERDICT r11 #7; README.md:25 ecosystem): the
    // round-trip's missing half. The query re-exports the s08 documents
    // (through the real .json sink), parses them BACK into node/edge
    // DataFrames with GraphImport's xpath plumbing — ids un-prefixed,
    // entities unescaped by the XML parser, weights re-integered — and
    // re-aggregates the imported graph; the ORACLE computes the same
    // aggregate from the BASE TABLES, so the hash proves export → XML →
    // sink → parse loses nothing: node membership, per-type edge counts,
    // weight mass, and label vocabulary all survive byte-exactly.
    // GraphImportSpec additionally proves row-level identity (parsed
    // nodes/edges == the pre-export member/induced sets) and the
    // entity-unescape path on adversarial names.
    E("s10_graphml_import", (s, d) => {
      val docs = graphmlDocs(s, d,
        s.range(1, 4).select((lit(graft.graph.GraphBuilder.CustomerBase) + col("id")).as("seed")),
        radius = 2, leaf = "graphml_json_s10")
      val nodes = GraphImport.graphmlNodes(docs)
      val edges = GraphImport.graphmlEdges(docs)
      val nAgg = nodes.groupBy("seed")
        .agg(count(lit(1)).as("n_nodes"), countDistinct(col("label")).as("n_labels"))
      val eAgg = edges.groupBy("seed", "rel_type")
        .agg(count(lit(1)).as("n_edges"), sum(col("w_ppm")).as("sum_w_ppm"),
             countDistinct(col("src")).as("n_src"))
      eAgg.join(broadcast(nAgg), Seq("seed"))
        .select("seed", "rel_type", "n_edges", "sum_w_ppm", "n_src", "n_nodes", "n_labels")
        .orderBy("seed", "rel_type")
    }, Some(s"""
      WITH RECURSIVE ${graft.graph.GraphSql.edgesCte}, ${graft.graph.GraphSql.nodesCte},
      seeds(seed) AS (VALUES (CAST(3000000001 AS BIGINT)), (CAST(3000000002 AS BIGINT)), (CAST(3000000003 AS BIGINT))),
      sym AS (SELECT src, dst FROM graph_edges UNION SELECT dst, src FROM graph_edges),
      reach(seed, id, depth) AS (
        SELECT seed, seed, 0 FROM seeds
        UNION ALL
        SELECT r.seed, s.dst, r.depth + 1 FROM reach r JOIN sym s ON s.src = r.id WHERE r.depth < 2),
      rs AS (SELECT DISTINCT seed, id FROM reach),
      ind AS (
        SELECT a.seed, e.src, e.dst, e.rel_type,
               CAST(FLOOR(e.weight * 1000000 + 0.5) AS BIGINT) AS w_ppm
        FROM graph_edges e
        JOIN rs a ON e.src = a.id
        JOIN rs b ON b.seed = a.seed AND e.dst = b.id),
      na AS (SELECT r.seed, COUNT(*) AS n_nodes, COUNT(DISTINCT n.label) AS n_labels
             FROM rs r JOIN graph_nodes n ON n.id = r.id GROUP BY 1),
      ea AS (SELECT seed, rel_type, COUNT(*) AS n_edges,
                    CAST(SUM(w_ppm) AS BIGINT) AS sum_w_ppm,
                    COUNT(DISTINCT src) AS n_src
             FROM ind GROUP BY 1, 2)
      SELECT ea.seed, rel_type, n_edges, sum_w_ppm, n_src, n_nodes, n_labels
      FROM ea JOIN na ON na.seed = ea.seed
      ORDER BY ea.seed, rel_type""")),

    // S11 — Time-Slider DELTA export (README.md:17): what the slider
    // ANIMATES when it advances one position — per (seed, position), the
    // nodes and edge instances that appear relative to the previous
    // position, with totals for reconciliation. This is the incremental
    // feed a slider UI actually fetches (s09 ships full frames; re-sending
    // a 95%-unchanged frame per tick is the waste). Membership under this
    // data model is MONOTONE along the slider (validity is cumulative —
    // edges activate and never expire, so a radius-k reach can only grow;
    // TimesliderExportSpec pins it), which makes the delta exactly the
    // additions; the first position's delta is its full frame (documented
    // convention — the slider's initial render). Edge instances are keyed
    // (src, dst, rel_type, valid_from): an instance is "added" at the
    // first position where both endpoints are members AND the instance
    // has activated. Scale shape: ONE batched traversal for every (seed,
    // position) (egoMembers — positions ride the batch key, the s09
    // argument verbatim), then the delta is a self-anti-join on the
    // position axis SHIFTED BY ONE — the shift is a when-chain over the
    // literal position list, not a join, so the whole delta costs two
    // anti-joins over already-materialized member/instance tables: slider
    // positions add zero edge scans, and the delta tables are strictly
    // smaller than s09's frames (deltas, not documents).
    E("s11_timeslider_delta", (s, d) => {
      import s.implicits._
      val years = Seq(1995L, 1997L, 1999L, 2001L)
      val sy = (for { c <- 1 to 2; y <- years } yield
          (graft.graph.GraphBuilder.CustomerBase + c, y, s"$y-12-31 23:59:59"))
        .toDF("seed", "year", "ts")
        .select(col("seed"), col("year"), col("ts").cast("timestamp_ntz").as("as_of"))
      val t = Tables(s, d)
      val g = graft.graph.GraphBuilder.edges(t)
      val members = graft.graph.Traversals.egoMembers(g, sy.select("seed", "as_of"), 2)
        .join(broadcast(sy.select("seed", "as_of", "year")), Seq("seed", "as_of"))
        .select("seed", "year", "as_of", "id")
        .transform(graft.graph.Materialize.apply)
      // shift each position's sets one slider step forward: at position p
      // they become "the previous frame" for p+1 (literal list ⇒ when-chain)
      val nextYear = years.zip(years.tail).foldLeft(lit(null).cast("long")) {
        case (acc, (y, ny)) => when(col("year") === y, lit(ny)).otherwise(acc) }
      val prevM = members.select(col("seed"), nextYear.as("year"), col("id"))
        .filter(col("year").isNotNull)
      val nodeAgg = members.groupBy("seed", "year").agg(count(lit(1)).as("n_nodes"))
      val addAgg = members.join(prevM, Seq("seed", "year", "id"), "left_anti")
        .groupBy("seed", "year")
        .agg(count(lit(1)).as("n_nodes_added"), min(col("id")).as("first_new_node"))
      val ind = graft.graph.Traversals.inducedEdges(g, members)
        .join(broadcast(sy.select("seed", "as_of", "year")), Seq("seed", "as_of"))
        .select(col("seed"), col("year"), col("src"), col("dst"), col("rel_type"),
                // ntz → ltz in the UTC session, so epoch micros match the
                // oracle's epoch_us over the same instants
                coalesce(unix_micros(col("valid_from").cast("timestamp")), lit(0L)).as("vf_us"))
        .transform(graft.graph.Materialize.apply)
      val prevE = ind.select(col("seed"), nextYear.as("year"), col("src"), col("dst"),
                             col("rel_type"), col("vf_us"))
        .filter(col("year").isNotNull)
      val eAgg = ind.groupBy("seed", "year").agg(count(lit(1)).as("n_edges"))
      val eAddAgg = ind
        .join(prevE, Seq("seed", "year", "src", "dst", "rel_type", "vf_us"), "left_anti")
        .groupBy("seed", "year").agg(count(lit(1)).as("n_edges_added"))
      nodeAgg
        .join(addAgg, Seq("seed", "year"), "left")
        .join(eAgg, Seq("seed", "year"), "left")
        .join(eAddAgg, Seq("seed", "year"), "left")
        .select(col("seed"), col("year"), col("n_nodes"),
                coalesce(col("n_nodes_added"), lit(0L)).as("n_nodes_added"),
                coalesce(col("n_edges"), lit(0L)).as("n_edges"),
                coalesce(col("n_edges_added"), lit(0L)).as("n_edges_added"),
                coalesce(col("first_new_node"), lit(-1L)).as("first_new_node"))
        .orderBy("seed", "year")
    }, Some(s"""
      WITH RECURSIVE ${graft.graph.GraphSql.edgesCte},
      sy(seed, year, as_of) AS (
        SELECT CAST(3000000000 + c.c AS BIGINT), CAST(y.y AS BIGINT),
               CAST(CAST(y.y AS VARCHAR) || '-12-31 23:59:59' AS TIMESTAMP)
        FROM (VALUES (1), (2)) c(c)
        CROSS JOIN (VALUES (1995), (1997), (1999), (2001)) y(y)),
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
      rs AS (SELECT DISTINCT r.seed, sy.year, sy.as_of, r.id
             FROM reach r JOIN sy ON sy.seed = r.seed AND sy.as_of = r.as_of),
      prevy(year, prev_year) AS (VALUES (1995, NULL), (1997, 1995), (1999, 1997), (2001, 1999)),
      na AS (SELECT seed, year, COUNT(*) AS n_nodes FROM rs GROUP BY 1, 2),
      adds AS (
        SELECT m.seed, m.year, COUNT(*) AS n_nodes_added, MIN(m.id) AS first_new_node
        FROM rs m JOIN prevy py ON py.year = m.year
        WHERE NOT EXISTS (SELECT 1 FROM rs p
                          WHERE p.seed = m.seed AND p.year = py.prev_year AND p.id = m.id)
        GROUP BY 1, 2),
      ind AS (
        SELECT a.seed, a.year, e.src, e.dst, e.rel_type,
               COALESCE(epoch_us(e.valid_from), 0) AS vf_us
        FROM graph_edges e
        JOIN rs a ON e.src = a.id
        JOIN rs b ON b.seed = a.seed AND b.year = a.year AND e.dst = b.id
        WHERE e.valid_from IS NULL OR e.valid_from <= a.as_of),
      ea AS (SELECT seed, year, COUNT(*) AS n_edges FROM ind GROUP BY 1, 2),
      eadds AS (
        SELECT m.seed, m.year, COUNT(*) AS n_edges_added
        FROM ind m JOIN prevy py ON py.year = m.year
        WHERE NOT EXISTS (SELECT 1 FROM ind p
                          WHERE p.seed = m.seed AND p.year = py.prev_year
                            AND p.src = m.src AND p.dst = m.dst
                            AND p.rel_type = m.rel_type AND p.vf_us = m.vf_us)
        GROUP BY 1, 2)
      SELECT na.seed, na.year, n_nodes,
             COALESCE(n_nodes_added, CAST(0 AS BIGINT)) AS n_nodes_added,
             COALESCE(n_edges, CAST(0 AS BIGINT)) AS n_edges,
             COALESCE(n_edges_added, CAST(0 AS BIGINT)) AS n_edges_added,
             COALESCE(first_new_node, CAST(-1 AS BIGINT)) AS first_new_node
      FROM na
      LEFT JOIN adds ON adds.seed = na.seed AND adds.year = na.year
      LEFT JOIN ea ON ea.seed = na.seed AND ea.year = na.year
      LEFT JOIN eadds ON eadds.seed = na.seed AND eadds.year = na.year
      ORDER BY na.seed, na.year""")),

    // S12 — Cytoscape NODE-LINK import: the JSON sibling of s10 (the
    // visualization layer's own format, README.md:27 Cytoscape.js —
    // round-tripping the s07 artifact proves a document the frontend
    // renders can be re-ingested for analysis). Same shape as s10:
    // re-export through the real .json sink, parse back with
    // GraphImport.nodeLinkNodes/Edges (from_json with explicit schema +
    // explode — the JSON parser owns escapes the way the XML parser does
    // for GraphML), re-aggregate; the oracle computes the identical
    // aggregate from the BASE tables, so the hash proves export → JSON →
    // sink → parse loses nothing. Same 3 customer egos as s10, so the
    // two round-trips are value-identical by construction — one detects
    // what the other's format would silently drop.
    E("s12_nodelink_import", (s, d) => {
      val docs = cytoscapeDocs(s, d,
        s.range(1, 4).select((lit(graft.graph.GraphBuilder.CustomerBase) + col("id")).as("seed")),
        radius = 2, leaf = "cytoscape_json_s12")
      val nodes = GraphImport.nodeLinkNodes(docs)
      val edges = GraphImport.nodeLinkEdges(docs)
      val nAgg = nodes.groupBy("seed")
        .agg(count(lit(1)).as("n_nodes"), countDistinct(col("label")).as("n_labels"))
      val eAgg = edges.groupBy("seed", "rel_type")
        .agg(count(lit(1)).as("n_edges"), sum(col("w_ppm")).as("sum_w_ppm"),
             countDistinct(col("src")).as("n_src"))
      eAgg.join(broadcast(nAgg), Seq("seed"))
        .select("seed", "rel_type", "n_edges", "sum_w_ppm", "n_src", "n_nodes", "n_labels")
        .orderBy("seed", "rel_type")
    }, Some(s"""
      WITH RECURSIVE ${graft.graph.GraphSql.edgesCte}, ${graft.graph.GraphSql.nodesCte},
      seeds(seed) AS (VALUES (CAST(3000000001 AS BIGINT)), (CAST(3000000002 AS BIGINT)), (CAST(3000000003 AS BIGINT))),
      sym AS (SELECT src, dst FROM graph_edges UNION SELECT dst, src FROM graph_edges),
      reach(seed, id, depth) AS (
        SELECT seed, seed, 0 FROM seeds
        UNION ALL
        SELECT r.seed, s.dst, r.depth + 1 FROM reach r JOIN sym s ON s.src = r.id WHERE r.depth < 2),
      rs AS (SELECT DISTINCT seed, id FROM reach),
      ind AS (
        SELECT a.seed, e.src, e.dst, e.rel_type,
               CAST(FLOOR(e.weight * 1000000 + 0.5) AS BIGINT) AS w_ppm
        FROM graph_edges e
        JOIN rs a ON e.src = a.id
        JOIN rs b ON b.seed = a.seed AND e.dst = b.id),
      na AS (SELECT r.seed, COUNT(*) AS n_nodes, COUNT(DISTINCT n.label) AS n_labels
             FROM rs r JOIN graph_nodes n ON n.id = r.id GROUP BY 1),
      ea AS (SELECT seed, rel_type, COUNT(*) AS n_edges,
                    CAST(SUM(w_ppm) AS BIGINT) AS sum_w_ppm,
                    COUNT(DISTINCT src) AS n_src
             FROM ind GROUP BY 1, 2)
      SELECT ea.seed, rel_type, n_edges, sum_w_ppm, n_src, n_nodes, n_labels
      FROM ea JOIN na ON na.seed = ea.seed
      ORDER BY ea.seed, rel_type"""))
  )

  val queries: Map[String, Q] = entries.map(e => e.name -> e.fn).toMap
  val oracleSql: Map[String, String] = entries.flatMap(e => e.sql.map(sql => e.name -> sql.trim)).toMap
}
