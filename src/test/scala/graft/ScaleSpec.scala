package graft

import graft.sources.Export
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Scale-posture demonstrations: bucketed co-located joins (no shuffle),
  * partition-pruned exports, and sink round-trips (SURVEY.md §2 S5, §4.2).
  */
class ScaleSpec extends SparkSpec {

  // the bucketed co-located-join contract moved to BucketingSpec (round 11:
  // richer assertions — zero Exchange of ANY kind, Bucketed:true scans,
  // result-equality vs the plain layout — against the reusable
  // sources/Bucketing writer; SCALE.md round 11 records its measured win)

  test("csv and json sinks round-trip with explicit schemas") {
    val dir = Files.createTempDirectory("graft-export").toString
    val df = Tables(spark, sfDir).region
    Export.csv(df, s"$dir/csv")
    Export.json(df, s"$dir/json")
    Export.parquet(df, s"$dir/pq")
    val expected = df.orderBy("r_regionkey").collect().toSeq
    assert(Export.readCsv(spark, s"$dir/csv", df.schema).orderBy("r_regionkey").collect().toSeq === expected)
    assert(Export.readJson(spark, s"$dir/json", df.schema).orderBy("r_regionkey").collect().toSeq === expected)
    assert(Export.readParquet(spark, s"$dir/pq").orderBy("r_regionkey").collect().toSeq === expected)
  }

  test("compaction collapses a many-file table and preserves every row") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/orders"
    val t = Tables(spark, sfDir)
    // simulate an incremental writer: 24 small files
    t.orders.repartition(24).write.parquet(dir)
    val before = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before === 24)
    val expected = t.orders.orderBy("o_orderkey").collect().toSeq
    Export.compactParquet(spark, dir) // tiny table -> 1 target file
    val after = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after === 1, s"expected 1 compacted file, found $after")
    assert(Export.readParquet(spark, dir).orderBy("o_orderkey").collect().toSeq === expected)
  }

  test("partitioned export enables partition pruning on read") {
    val dir = Files.createTempDirectory("graft-part").toString
    val t = Tables(spark, sfDir)
    Export.parquetPartitioned(t.orders, s"$dir/orders", Seq("o_orderstatus"))
    val pruned = Export.readParquet(spark, s"$dir/orders").filter(col("o_orderstatus") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() === t.orders.filter(col("o_orderstatus") === "F").count())
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"expected partition filter in scan:\n$plan")
  }

  test("malformed CSV: PERMISSIVE recovers exactly the planted corrupt rows; clean rows all kept") {
    import org.apache.spark.sql.types._
    // s06 writes its feed under the JVM temp dir on first run; run it first.
    // collect the full graded output BEFORE aggregating (an aggregate of
    // the query would invite the same pruning trap s06's comment documents)
    val perRegion = graft.sources.SourceQueries.queries("s06_malformed_csv")(spark, sfDir)
      .select("n_regionkey", "n_nations").collect()
    val clean = perRegion.map(_.getLong(1)).sum
    val nNation = Tables(spark, sfDir).nation.count()
    assert(clean === nNation, "corrupt-filtered read must keep exactly the clean rows")
    val base = graft.sources.SourceQueries.tmpDir("nation_malformed")
    val permissive = spark.read.schema(graft.sources.SourceQueries.malformedCsvSchema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(s"$base/good", s"$base/bad").cache()
    try {
      assert(permissive.filter(col("_corrupt_record").isNotNull).count() === 3L,
        "exactly the 3 planted corrupt rows must be captured")
      assert(permissive.filter(col("_corrupt_record").isNull).count() === nNation)
    } finally permissive.unpersist()
  }

  test("ScaleUp embedding isometry: within-copy geometry exact, cross-copy similarity destroyed") {
    // The rehearsal fixture's per-copy signed permutation must be an
    // isometry (all pairwise dots/norms preserved up to float summation
    // order) while v vs σ_k(v) — the cross-copy "clone" pair — decorrelates
    // to |cos| ~ 1/√d, far below every graded near-dup threshold.
    val emb = Tables(spark, sfDir).embeddings
      .filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val rot = emb.select(col("vec_id"),
      tools.ScaleUp.isometry(col("embedding"), 3, 64).as("embedding"))
    def dots(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] = {
      val a = df.select(col("vec_id").as("va"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("ea"))
      val b = df.select(col("vec_id").as("vb"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("eb"))
      a.crossJoin(b).filter(col("va") <= col("vb"))
        .select(col("va"), col("vb"),
          expr("aggregate(zip_with(ea, eb, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (s, v) -> s + v)").as("d"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    }
    val orig = dots(emb)
    val mapped = dots(rot)
    assert(orig.nonEmpty && orig.keySet === mapped.keySet)
    orig.foreach { case (k, d) =>
      assert(math.abs(d - mapped(k)) <= 1e-4 * (1.0 + math.abs(d)),
        s"pair $k dot changed: $d vs ${mapped(k)}") }
    // cross-copy: cos(v, σ(v)) must sit near 0, nowhere near the 0.99/0.8 thresholds
    val cross = emb.join(rot.withColumnRenamed("embedding", "erot"), "vec_id")
      .select(
        (expr("aggregate(zip_with(embedding, erot, (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (s, v) -> s + v)") /
         expr("aggregate(transform(embedding, v -> CAST(v AS DOUBLE) * v), CAST(0.0 AS DOUBLE), (s, v) -> s + v)")).as("cos"))
      .agg(max(abs(col("cos")))).first.getDouble(0)
    assert(cross < 0.6, s"cross-copy |cos| too high: $cross")
  }
}
