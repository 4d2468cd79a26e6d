package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph-document IMPORT source — reads GraphML interchange documents back
  * into (nodes, edges) DataFrames, closing the Neo4j-ecosystem round-trip
  * (reference README.md:25: APOC/Gephi/yEd both write AND read GraphML;
  * s07/s08 covered export only — the VERDICT r11 #7 gap).
  *
  * Declarative by design (SURVEY.md §2.5 ladder, rung (a)): the document
  * is split into per-element fragments with `regexp_extract_all` (element
  * boundaries — `<node …/>` or `<node …>…</node>` — are regular because
  * GraphML forbids a `<node>` inside a `<node>`), then Spark's `xpath_*`
  * builtins — Hive's non-namespace-aware XPath — read each attribute and
  * `<data>` key from its OWN fragment. No custom parser, no UDF; the XML
  * parser handles entity unescaping (&amp; → &), and the default GraphML
  * xmlns is transparent because the parse is namespace-unaware (probed:
  * element names match by local name).
  *
  * Per-fragment extraction is POSITIONAL BY CONSTRUCTION, which retires
  * the round-11 alignment contract (every element carries every declared
  * key) and its failure mode — ADVICE r12: an EMPTY `<data>` value yields
  * no text node, so whole-document `text()` arrays came back shorter than
  * the id array and misattributed every subsequent value. Now each
  * element reads only its own keys:
  *   - key present with empty value → "" (what the exporter wrote);
  *   - key MISSING on the element   → the `<default>` declared on the
  *     document's `<key>` (Gephi/yEd convention, VERDICT r12 #6), else
  *     null;
  *   - self-closing elements parse as zero-key elements.
  * Remaining contract (documented, spec-pinned): flat documents only — a
  * hierarchical GraphML `<graph>` nested inside `<node>` is out of scope
  * (the fragment regex would swallow the inner subgraph). Node ids follow
  * the exporter's `n<id>` convention.
  *
  * Scale posture: fragment split is one linear regex pass per document;
  * each xpath call parses only its ego-sized fragment, so total parse
  * work stays linear in document bytes. Rows explode partition-locally
  * and everything downstream is ordinary columnar work — no shuffle is
  * introduced by the import itself.
  */
object GraphImport {

  /** `<elem …/>` or `<elem …>…</elem>` fragments, in document order. */
  private def fragments(doc: Column, elem: String): Column =
    regexp_extract_all(doc, lit(s"(?s)<$elem\\b(?:[^>]*/>|.*?</$elem>)"), lit(0))

  /** The `<default>` declared for `key` on the document's `<key id=…>`
    * element, or null when none is declared (count() distinguishes a
    * declared-empty default from no default). */
  private def keyDefault(doc: Column, key: String): Column =
    when(xpath_number(doc, lit(s"count(graphml/key[@id='$key']/default)")) > 0,
         xpath_string(doc, lit(s"graphml/key[@id='$key']/default")))
      .otherwise(lit(null).cast("string"))

  /** The element's own `<data key=…>` value; "" when present-but-empty,
    * the document default when the element omits the key. */
  private def dataOrDefault(frag: Column, elem: String, key: String,
                            deflt: Column): Column =
    when(xpath_number(frag, lit(s"count($elem/data[@key='$key'])")) > 0,
         xpath_string(frag, lit(s"$elem/data[@key='$key']")))
      .otherwise(deflt)

  /** (seed, id LONG, label, name) — the nodes of each GraphML doc in the
    * `graphml` column, one row per `<node>` (including self-closing ones). */
  def graphmlNodes(docs: DataFrame): DataFrame = {
    val d = col("graphml")
    docs
      .withColumn("_def_label", keyDefault(d, "label"))
      .withColumn("_def_name", keyDefault(d, "name"))
      .select(col("seed"), col("_def_label"), col("_def_name"),
        explode(fragments(d, "node")).as("_frag"))
      .select(col("seed"),
        expr("substring(xpath_string(_frag, 'node/@id'), 2)").cast("long").as("id"),
        dataOrDefault(col("_frag"), "node", "label", col("_def_label")).as("label"),
        dataOrDefault(col("_frag"), "node", "name", col("_def_name")).as("name"))
  }

  private val nodeLinkNodeSchema = org.apache.spark.sql.types.DataType.fromDDL(
    "array<struct<id:bigint,label:string,name:string>>")
  private val nodeLinkEdgeSchema = org.apache.spark.sql.types.DataType.fromDDL(
    "array<struct<src:bigint,dst:bigint,rel_type:string,w_ppm:bigint>>")

  /** (seed, id, label, name) — the nodes of each Cytoscape NODE-LINK
    * document (s07's format: a `nodes_json` array column), one row per
    * node. `from_json` with an explicit schema + `explode` — the JSON
    * sibling of [[graphmlNodes]]; the JSON parser owns escape handling
    * the way the XML parser does for GraphML. Documents with an empty
    * array contribute zero rows (explode semantics — the edgeless-doc
    * contract shared with the GraphML path). */
  def nodeLinkNodes(docs: DataFrame): DataFrame =
    docs.select(col("seed"), explode(from_json(col("nodes_json"), nodeLinkNodeSchema)).as("n"))
      .select(col("seed"), col("n.id").as("id"),
        col("n.label").as("label"), col("n.name").as("name"))

  /** (seed, src, dst, rel_type, w_ppm) — the edges of each Cytoscape
    * node-link document (`edges_json`), one row per edge instance. */
  def nodeLinkEdges(docs: DataFrame): DataFrame =
    docs.select(col("seed"), explode(from_json(col("edges_json"), nodeLinkEdgeSchema)).as("e"))
      .select(col("seed"), col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.rel_type").as("rel_type"), col("e.w_ppm").as("w_ppm"))

  /** (seed, src LONG, dst LONG, rel_type, w_ppm LONG) — the edges of each
    * GraphML doc in the `graphml` column, one row per `<edge>`. Same
    * tolerant semantics as [[graphmlNodes]]: per-fragment reads,
    * `<default>` fill for omitted keys, null when neither is present. */
  def graphmlEdges(docs: DataFrame): DataFrame = {
    val d = col("graphml")
    docs
      .withColumn("_def_rel", keyDefault(d, "rel"))
      .withColumn("_def_w", keyDefault(d, "w"))
      .select(col("seed"), col("_def_rel"), col("_def_w"),
        explode(fragments(d, "edge")).as("_frag"))
      .select(col("seed"),
        expr("substring(xpath_string(_frag, 'edge/@source'), 2)").cast("long").as("src"),
        expr("substring(xpath_string(_frag, 'edge/@target'), 2)").cast("long").as("dst"),
        dataOrDefault(col("_frag"), "edge", "rel", col("_def_rel")).as("rel_type"),
        dataOrDefault(col("_frag"), "edge", "w", col("_def_w")).cast("long").as("w_ppm"))
  }
}
