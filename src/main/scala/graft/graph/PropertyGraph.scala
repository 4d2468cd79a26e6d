package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Property graph encoded as two DataFrames — the relational encoding of the
  * reference's Neo4j/Memgraph property-graph model
  * (/root/reference/README.md:25) per SURVEY.md §1.2.
  *
  *  - nodes: id LONG, label STRING, name STRING
  *  - edges: src LONG, dst LONG, rel_type STRING, weight DOUBLE,
  *           valid_from TIMESTAMP_NTZ (nullable; null = "always valid") — NTZ is the
  *           source columns' native parquet type; keeping it end-to-end means the
  *           snapshot predicate is cast-free and pushes into the parquet scans
  *           (PlanSpec asserts this)
  *
  * Keeping the graph in DataFrames (rather than RDDs) means every
  * non-iterative graph operator stays inside Catalyst: temporal snapshot
  * filters push down to the parquet scan, label filters prune, joins get
  * broadcast/AQE treatment. Iterative algorithms stay there too, as rounds of
  * DataFrame steps (Algorithms, SURVEY.md §4.3).
  */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame) {

  /** Temporal snapshot (reference time-slider, README.md:17): edges valid at
    * time `at` — interval semantics `valid_from <= at < valid_to`, each bound
    * null-lenient (null = unbounded on that side). The driver's synthetic
    * graph has open-ended edges (no valid_to column), so the end-bound branch
    * engages only when the edge table carries one — SURVEY §1.2's full
    * interval model without forcing a column on sources that lack it.
    * The filter is a plain predicate, so Catalyst pushes it into the edge
    * scan before any downstream join — at 100 TB this is partition/row-group
    * pruning, not a post-shuffle filter (PlanSpec asserts it).
    */
  def snapshot(at: Column): PropertyGraph = {
    val startsBy = col("valid_from").isNull || col("valid_from") <= at
    val cond =
      if (edges.columns.contains("valid_to"))
        startsBy && (col("valid_to").isNull || col("valid_to") > at)
      else startsBy
    PropertyGraph(nodes, edges.filter(cond))
  }

  def edgesOf(relType: String): DataFrame = edges.filter(col("rel_type") === relType)
}
