package graft.text

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** An index directory's manifest: geometry (`meta`: band_rows,
  * rows_per_shard, n_term_shards, m, …), each table's declared schema
  * (partition column last), and a version every commit bumps; `commit`
  * is fresh per write, so a directory saved again never matches a value
  * cached under its earlier version. */
final case class Manifest(version: Long, commit: String,
                          meta: Map[String, Long], schemas: Map[String, StructType]) {
  def int(key: String): Int = meta(key).toInt
}

/** What [[ShardStore.rewriteTouched]] did: erased keys (distinct per shard,
  * summed — the erased id count wherever an id lives in one shard) and
  * the shards rewritten. */
final case class Rewrite(keys: Long, touched: Seq[Long])

/** The persisted layout of every standing index (Bm25Index, LshIndex,
  * IvfIndex, Pq, stream.CurationMaintain): one parquet directory per
  * table, sharded by a LONG partition column (`shard=`, `tshard=`,
  * `cluster=`) or not at all, and a [[ManifestFile]] the driver reads and
  * writes through the Hadoop FileSystem API, written last on save and
  * refresh. Reads declare the manifest's schema, so no schema-inference
  * job runs; driver-side tables (IVF centroids, the PQ codebook) are read
  * once per session per commit (graft.SessionCache); erasure is [[rewriteTouched]].
  */
object ShardStore {

  private val ManifestFile = "_manifest.json"

  private val json = new ObjectMapper()

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The manifest, read on the driver (no Spark job). */
  def manifest(spark: SparkSession, dir: String): Manifest = {
    val p = new Path(dir, ManifestFile)
    val in = fs(spark, p).open(p)
    val root = try json.readTree(in) finally in.close()
    def obj[T](field: String)(f: JsonNode => T): Map[String, T] =
      root.get(field).properties().asScala.map(e => e.getKey -> f(e.getValue)).toMap
    Manifest(root.get("version").asLong, root.get("commit").asText, obj("meta")(_.asLong),
      obj("schemas")(n => DataType.fromJson(n.toString).asInstanceOf[StructType]))
  }

  /** Write the manifest at the next version: a temporary file, renamed
    * over the previous one. */
  def commit(spark: SparkSession, dir: String, meta: Map[String, Long],
             schemas: Map[String, StructType]): Manifest = {
    val p = new Path(dir, ManifestFile)
    val hfs = fs(spark, p)
    val m = Manifest(if (hfs.exists(p)) manifest(spark, dir).version + 1 else 1L,
      java.util.UUID.randomUUID.toString, meta, schemas)
    val root = json.createObjectNode().put("version", m.version).put("commit", m.commit)
    val mn = root.putObject("meta")
    meta.toSeq.sorted.foreach { case (k, v) => mn.put(k, v) }
    val sn = root.putObject("schemas")
    schemas.toSeq.sortBy(_._1).foreach { case (k, s) => sn.set[JsonNode](k, json.readTree(s.json)) }
    val tmp = new Path(dir, s".$ManifestFile.${m.commit}")
    val out = hfs.create(tmp, false)
    try out.write(json.writeValueAsBytes(root)) finally out.close()
    // a store whose rename keeps an existing target (HDFS) deletes it first
    if (!hfs.rename(tmp, p) && !(hfs.delete(p, false) && hfs.rename(tmp, p)))
      throw new java.io.IOException(s"could not commit $p")
    m
  }

  /** Overwrite `table` with `df`, partitioned by `shardCol` unless empty;
    * returns the declared schema to [[commit]]. */
  def overwrite(df: DataFrame, dir: String, table: String,
                shardCol: String = ""): (String, StructType) = {
    write(df, dir, table, shardCol, "overwrite")
    val (shard, data) = df.schema.fields.partition(_.name == shardCol)
    table -> StructType(data ++ shard)
  }

  /** Append `df` to `table`: new files inside their shard directories.
    * The rows are first conformed, by column name, to the table's declared
    * schema in `m` (the manifest the caller read): every file of a table
    * must agree on each column's type, or the next read of the table fails
    * (a `Seq[Double]` embedding appended to a float index). A declared
    * column `df` lacks fails here, before anything is written; columns the
    * schema does not declare are not written, as no read would see them. */
  def append(df: DataFrame, dir: String, m: Manifest, table: String,
             shardCol: String = ""): Unit = {
    val declared = m.schemas(table)
    val missing = declared.fieldNames.filterNot(df.columns.contains)
    require(missing.isEmpty, s"append to $dir/$table: the rows lack the declared " +
      s"${missing.mkString(", ")} (got ${df.columns.mkString(", ")})")
    write(df.select(declared.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*),
      dir, table, shardCol, "append")
  }

  private def write(df: DataFrame, dir: String, table: String, shardCol: String,
                    mode: String): Unit = {
    val w = df.write.mode(mode)
    (if (shardCol.isEmpty) w else w.partitionBy(shardCol)).parquet(s"$dir/$table")
  }

  /** `df` with its id-range `shard` column: contiguous ids share a shard,
    * so a clustered erasure batch touches few. */
  def withIdShard(df: DataFrame, key: String, rowsPerShard: Long): DataFrame =
    df.withColumn("shard", (col(key) / lit(rowsPerShard)).cast("long"))

  def read(spark: SparkSession, dir: String, m: Manifest, table: String): DataFrame =
    spark.read.schema(m.schemas(table)).parquet(s"$dir/$table")

  /** Erase the rows of `table` whose `key` is in `ids`, rewriting ONLY the
    * shards that hold them. One aggregate of the table marked against the
    * ids gives, per shard, the distinct erased keys and the surviving
    * rows; [[overwriteShards]] then rewrites the touched shards with their
    * survivors and drops those left empty. Every other shard is
    * byte-untouched; unknown ids touch nothing, so a replay is a no-op.
    *
    * Crash window: a failure between the overwrite and the delete leaves
    * erased rows in the emptied shards until the batch is replayed; replay
    * converges (the surviving shards rewrite to the same rows). */
  def rewriteTouched(spark: SparkSession, dir: String, table: String,
                     shardCol: String, key: String, ids: DataFrame): Rewrite = {
    val stored = read(spark, dir, manifest(spark, dir), table)
    val erase = ids.select(col(key)).distinct()
      .transform(graft.graph.Materialize.apply)
    val hit = col("_erase").isNotNull
    val shards = stored
      .join(erase.withColumn("_erase", lit(true)), Seq(key), "left_outer")
      .groupBy(col(shardCol))
      .agg(count_distinct(when(hit, col(key))).as("keys"), count(when(!hit, lit(1))).as("kept"))
      .filter(col("keys") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    if (shards.isEmpty) return Rewrite(0L, Nil)
    val touched = shards.map(_._1).toSeq
    overwriteShards(spark, dir, table, shardCol,
      stored.filter(col(shardCol).isin(touched.map(java.lang.Long.valueOf): _*))
        .join(erase, Seq(key), "left_anti"),
      shards.collect { case (s, _, 0L) => s }.toSeq)
    Rewrite(shards.map(_._2).sum, touched)
  }

  /** Replace the shards `rows` populates (dynamic partition overwrite,
    * scoped to this write: a session-conf toggle would leak into
    * concurrent writes) and delete the `emptied` shard directories, which
    * dynamic overwrite leaves alone. */
  def overwriteShards(spark: SparkSession, dir: String, table: String, shardCol: String,
                      rows: DataFrame, emptied: Seq[Long]): Unit = {
    rows.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(shardCol).parquet(s"$dir/$table")
    emptied.foreach { s =>
      val p = new Path(s"$dir/$table/$shardCol=$s")
      if (fs(spark, p).exists(p)) fs(spark, p).delete(p, true)
    }
  }
}
