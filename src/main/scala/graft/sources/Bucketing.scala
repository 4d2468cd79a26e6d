package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine-native BUCKETED storage layout — the co-located-join lever the
  * 100 TB deployment pulls for its hottest repeated equi-joins (orders ⋈
  * lineitem on the order key is the fixture's archetype). Spark's
  * bucketing (Hive-compatible hash bucketing: `bucketBy(n, key)` +
  * `sortBy(key)` at write time) records the hash distribution IN THE
  * TABLE LAYOUT, so a join of two tables bucketed by the same key into
  * the same bucket count — or an aggregation keyed on the bucket key —
  * plans with ZERO Exchange operators: the per-query shuffle the plain
  * parquet layout pays on every run is paid once at write time instead.
  * `sortBy` additionally lets the sort-merge join reuse the on-disk
  * order (no per-query Sort when `spark.sql.legacy.bucketedTableScan
  * .outputOrdering` is honored, and a cheap in-bucket sort otherwise).
  *
  * The graded queries read the driver's plain parquet (their input
  * contract), so bucketing ships as the documented OPT-IN layout for a
  * deployment's own warehouse: BucketingSpec pins the zero-exchange plan
  * and result-equality against the plain layout; the per-query win at
  * rehearsal scale is recorded in SCALE.md round 11 (its probe is in git
  * history, readable at commit 1ff956e).
  *
  * Scale notes: pick the bucket count for the TARGET cluster's
  * parallelism (buckets are the join's max partition-level parallelism
  * when the exchange is elided — 32 here to match local[32]; a 1000-
  * executor deployment buckets in the thousands). Bucket-count MISMATCH
  * between the two sides degrades gracefully: Spark shuffles the smaller
  * side only (or, with `spark.sql.bucketing.coalesceBucketsInJoin
  * .enabled`, coalesces the larger), still better than two exchanges.
  */
object Bucketing {

  /** Write `df` as an EXTERNAL bucketed+sorted table (`name` in the
    * session catalog, files under `path`), bucketed by `key` into
    * `buckets`. Overwrites both the catalog entry and the files —
    * idempotent for probe/spec reruns.
    */
  def writeBucketed(spark: SparkSession, df: DataFrame, name: String,
                    path: String, key: String, buckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", path)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(name)
  }
}
