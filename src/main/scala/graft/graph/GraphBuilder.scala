package graft.graph

import graft.{Gates, SessionCache, Tables}
import graft.Tables.dec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Builds the corporate-style property graph from the star-schema FKs
  * (derivation spec: /root/repo/FIXTURES.md §3; reference data model:
  * /root/reference/README.md:25 — entities + typed, dated, weighted
  * relationships).
  *
  * Node id space: `label base + natural key`, bases 1e9 apart so LONG ids are
  * disjoint across labels without hashing (deterministic, oracle-mirrorable).
  *
  * The `SUPPLIED_BY` edge carries a per-part normalized weight (share of the
  * part's total supplied quantity) — the ownership-percentage analogue used by
  * UBO-style propagation (SURVEY.md §2 G3; README.md:13).
  *
  * Every expression here is mirrored EXACTLY by [[GraphSql.edgesCte]] /
  * [[GraphSql.nodesCte]] so recursive-CTE oracles in DuckDB see the same graph.
  * Numeric discipline: quantities go through decimal(18,2) so sums are
  * order-independent; the normalized weight divides two exact doubles, which
  * is bit-deterministic in both engines.
  */
object GraphBuilder {
  val RegionBase   = 1000000000L
  val NationBase   = 2000000000L
  val CustomerBase = 3000000000L
  val SupplierBase = 4000000000L
  val PartBase     = 5000000000L
  val OrderBase    = 6000000000L
  val UserBase     = 7000000000L
  val DocumentBase = 8000000000L

  def apply(t: Tables): PropertyGraph = PropertyGraph(nodes(t), edges(t))

  /** Consecutive-event user transitions (prev_user → user) in global feed
    * order — the SINGLE Spark-side source of truth for every
    * INTERACTED-derived structure: multigraph edges below, collapsed /
    * weighted forms in [[Ubo]]. The SQL mirrors (GraphSql.edgesCte INTERACTED
    * branch, UboSql.interactedPairsCte) must track this definition.
    *
    * Tier auto-selection (same measured-decision pattern as
    * [[Algorithms.scc]]): event order is a total order over the feed, so the
    * unpartitioned window moves the whole feed through ONE task — fine while
    * the feed fits a single sort buffer, a scale-killer beyond it. The feed
    * count picks the tier: window form up to [[Gates.windowRows]],
    * [[userTransitionsAtScale]] (range-partitioned [[graft.rel.OrderedLag]],
    * fully partition-parallel) above it. Both tiers are proven row-identical
    * in OrderedLagSpec, so the choice never changes results — only the
    * physical plan. The count is taken once per session for an unchanged
    * events file (keyed on its length and modification time, as
    * [[Tables.t]] keys schemas), so a rewritten feed is counted again.
    */
  def userTransitions(t: Tables): DataFrame = {
    val feed = t.events.select(col("user_id"), col("ts"), col("event_id"))
    val path = new org.apache.hadoop.fs.Path(s"${t.dir}/events.parquet")
    val st = path.getFileSystem(t.spark.sparkContext.hadoopConfiguration).getFileStatus(path)
    val feedRows = SessionCache(t.spark, s"$path#rows", (st.getLen, st.getModificationTime))(
      Long.box(feed.count()))
    if (!Gates.fits(t.spark, feedRows, Gates.windowRows)) return userTransitionsAtScale(t)
    val w = Window.orderBy(col("ts"), col("event_id"))
    feed
      .withColumn("prev", lag(col("user_id"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") =!= col("user_id"))
      .select((lit(UserBase) + col("prev")).as("src"),
              (lit(UserBase) + col("user_id")).as("dst"), col("ts"))
  }

  /** The 100 TB form of [[userTransitions]]: same pairs via
    * [[graft.rel.OrderedLag]] (range-partitioned sort + boundary handoff —
    * two partition-parallel jobs, no single-partition window). Proven
    * row-identical to the window form in OrderedLagSpec;
    * [[userTransitions]] selects it automatically above its feed-size
    * threshold.
    */
  def userTransitionsAtScale(t: Tables): DataFrame = {
    graft.rel.OrderedLag.withLag1(
        t.events.select(col("user_id"), col("ts"), col("event_id")),
        sortCols = Seq("ts", "event_id"), lagCols = Seq("user_id"))
      .filter(col("prev_user_id").isNotNull && col("prev_user_id") =!= col("user_id"))
      .select((lit(UserBase) + col("prev_user_id")).as("src"),
              (lit(UserBase) + col("user_id")).as("dst"), col("ts"))
  }

  def nodes(t: Tables): DataFrame = {
    def n(df: DataFrame, base: Long, key: String, label: String, name: org.apache.spark.sql.Column) =
      df.select((lit(base) + col(key).cast("long")).as("id"), lit(label).as("label"), name.as("name"))
    n(t.region, RegionBase, "r_regionkey", "region", col("r_name"))
      .unionByName(n(t.nation, NationBase, "n_nationkey", "nation", col("n_name")))
      .unionByName(n(t.customer, CustomerBase, "c_custkey", "customer", col("c_name")))
      .unionByName(n(t.supplier, SupplierBase, "s_suppkey", "supplier", col("s_name")))
      .unionByName(n(t.part, PartBase, "p_partkey", "part", col("p_name")))
      .unionByName(n(t.orders, OrderBase, "o_orderkey", "order", col("o_orderkey").cast("string")))
      .unionByName(n(t.events.select(col("user_id")).distinct(), UserBase, "user_id", "user",
        concat(lit("user_"), col("user_id").cast("string"))))
      .unionByName(n(t.documents, DocumentBase, "doc_id", "document",
        concat(lit("doc_"), col("doc_id").cast("string"))))
  }

  def edges(t: Tables): DataFrame = {
    val one = lit(1.0).cast("double")
    val noTs = lit(null).cast("timestamp_ntz")

    val custNation = t.customer.select(
      (lit(CustomerBase) + col("c_custkey")).as("src"),
      (lit(NationBase) + col("c_nationkey").cast("long")).as("dst"),
      lit("LOCATED_IN").as("rel_type"), one.as("weight"), noTs.as("valid_from"))

    val suppNation = t.supplier.select(
      (lit(SupplierBase) + col("s_suppkey")).as("src"),
      (lit(NationBase) + col("s_nationkey").cast("long")).as("dst"),
      lit("LOCATED_IN").as("rel_type"), one.as("weight"), noTs.as("valid_from"))

    val nationRegion = t.nation.select(
      (lit(NationBase) + col("n_nationkey").cast("long")).as("src"),
      (lit(RegionBase) + col("n_regionkey").cast("long")).as("dst"),
      lit("PART_OF").as("rel_type"), one.as("weight"), noTs.as("valid_from"))

    val placed = t.orders.select(
      (lit(CustomerBase) + col("o_custkey")).as("src"),
      (lit(OrderBase) + col("o_orderkey")).as("dst"),
      lit("PLACED").as("rel_type"), one.as("weight"), col("o_orderdate").as("valid_from"))

    val contains = t.lineitem
      .groupBy(col("l_orderkey"), col("l_partkey"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("weight"),
           min(col("l_shipdate")).as("valid_from"))
      .select((lit(OrderBase) + col("l_orderkey")).as("src"),
              (lit(PartBase) + col("l_partkey")).as("dst"),
              lit("CONTAINS").as("rel_type"), col("weight"), col("valid_from"))

    // Ownership-% analogue: share of part's total supplied quantity, per supplier.
    val ps = t.lineitem
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(dec(col("l_quantity"))).as("qty"), min(col("l_shipdate")).as("vf"))
    val suppliedBy = ps
      .withColumn("total", sum(col("qty")).over(Window.partitionBy(col("l_partkey"))))
      .select((lit(PartBase) + col("l_partkey")).as("src"),
              (lit(SupplierBase) + col("l_suppkey")).as("dst"),
              lit("SUPPLIED_BY").as("rel_type"),
              (col("qty").cast("double") / col("total").cast("double")).as("weight"),
              col("vf").as("valid_from"))

    val interacted = userTransitions(t)
      .select(col("src"), col("dst"),
              lit("INTERACTED").as("rel_type"), one.as("weight"), col("ts").cast("timestamp_ntz").as("valid_from"))

    custNation.unionByName(suppNation).unionByName(nationRegion).unionByName(placed)
      .unionByName(contains).unionByName(suppliedBy).unionByName(interacted)
  }
}

/** DuckDB-side mirror of [[GraphBuilder]] for recursive-CTE oracles.
  * MUST stay in lockstep with the Spark expressions above.
  */
object GraphSql {
  val edgesCte: String =
    """graph_edges AS (
      |  SELECT 3000000000 + c_custkey AS src, 2000000000 + c_nationkey AS dst, 'LOCATED_IN' AS rel_type, CAST(1.0 AS DOUBLE) AS weight, CAST(NULL AS TIMESTAMP) AS valid_from FROM customer
      |  UNION ALL SELECT 4000000000 + s_suppkey, 2000000000 + s_nationkey, 'LOCATED_IN', CAST(1.0 AS DOUBLE), CAST(NULL AS TIMESTAMP) FROM supplier
      |  UNION ALL SELECT 2000000000 + n_nationkey, 1000000000 + n_regionkey, 'PART_OF', CAST(1.0 AS DOUBLE), CAST(NULL AS TIMESTAMP) FROM nation
      |  UNION ALL SELECT 3000000000 + o_custkey, 6000000000 + o_orderkey, 'PLACED', CAST(1.0 AS DOUBLE), o_orderdate FROM orders
      |  UNION ALL SELECT 6000000000 + l_orderkey, 5000000000 + l_partkey, 'CONTAINS', CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), MIN(l_shipdate) FROM lineitem GROUP BY 1, 2
      |  UNION ALL SELECT 5000000000 + l_partkey, 4000000000 + l_suppkey, 'SUPPLIED_BY', CAST(qty AS DOUBLE) / CAST(SUM(qty) OVER (PARTITION BY l_partkey) AS DOUBLE), vf FROM (SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty, MIN(l_shipdate) AS vf FROM lineitem GROUP BY 1, 2)
      |  UNION ALL SELECT 7000000000 + prev, 7000000000 + user_id, 'INTERACTED', CAST(1.0 AS DOUBLE), ts FROM (SELECT user_id, ts, event_id, LAG(user_id) OVER (ORDER BY ts, event_id) AS prev FROM events) WHERE prev IS NOT NULL AND prev <> user_id
      |)""".stripMargin

  val nodesCte: String =
    """graph_nodes AS (
      |  SELECT 1000000000 + r_regionkey AS id, 'region' AS label, r_name AS name FROM region
      |  UNION ALL SELECT 2000000000 + n_nationkey, 'nation', n_name FROM nation
      |  UNION ALL SELECT 3000000000 + c_custkey, 'customer', c_name FROM customer
      |  UNION ALL SELECT 4000000000 + s_suppkey, 'supplier', s_name FROM supplier
      |  UNION ALL SELECT 5000000000 + p_partkey, 'part', p_name FROM part
      |  UNION ALL SELECT 6000000000 + o_orderkey, 'order', CAST(o_orderkey AS VARCHAR) FROM orders
      |  UNION ALL SELECT DISTINCT 7000000000 + user_id, 'user', 'user_' || CAST(user_id AS VARCHAR) FROM events
      |  UNION ALL SELECT 8000000000 + doc_id, 'document', 'doc_' || CAST(doc_id AS VARCHAR) FROM documents
      |)""".stripMargin
}
