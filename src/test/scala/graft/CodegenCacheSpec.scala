package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Multiply, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.text.{Bm25Index, IvfIndex, LshIndex}

/** Generated code compiles once per session ([[GraftSession]]'s codegen
  * settings): a probe of each persisted index, run again with other query
  * data, compiles no class. The check is the compile counter, not the
  * conf: the class cache is JVM-global and sized by the session active at
  * the first compile. A new `topK` value does compile two classes, once
  * per value: it is a literal in the generated filter, and as a literal
  * it is what lets the optimizer cut each query's candidates to `topK`
  * before the rank shuffle (WindowGroupLimit).
  * In local mode a class compiles once per JVM, not once per class loader:
  * driver threads and task threads share the executor's loader.
  */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sfDir).documents.select("doc_id", "text")
  private lazy val emb = Tables(spark, sfDir).embeddings.select("vec_id", "embedding")

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  /** `f`'s result and the number of classes compiled while it ran. */
  private def compiled[T](f: => T): (T, Long) = {
    spark // the session first: it sizes the class cache
    val c0 = GraftSession.compiles()
    val out = f
    (out, (GraftSession.compiles() - c0).n)
  }

  /** Spark's generated-class cache as (code, class loader) pairs. The cache
    * is private; its keys are (weak reference to the loader, code). */
  private def cacheKeys(): Seq[(CodeAndComment, ClassLoader)] = {
    val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val wrapper = cacheOf.invoke(CodeGenerator)
    val guava = wrapper.getClass.getMethod("cache").invoke(wrapper)
    val asMap = Class.forName("org.sparkproject.guava.cache.Cache").getMethod("asMap")
    asMap.invoke(guava).asInstanceOf[java.util.Map[(java.lang.ref.WeakReference[ClassLoader], CodeAndComment), _]]
      .keySet.asScala.toSeq.map { case (loader, code) => (code, loader.get) }
  }

  test("a plan with a shuffle and a broadcast join compiles each class under one loader") {
    spark
    val before = cacheKeys().map(_._1).toSet
    // a fresh literal makes every class of the plan new to the cache; the
    // aggregate's stages run from AQE's pool and the build side from the
    // broadcast pool, which must carry the task threads' loader too
    val k = System.nanoTime()
    val sums = spark.range(0, 1000, 1, 4)
      .select((col("id") % 17).as("g"), (col("id") * lit(k)).as("v"))
      .groupBy("g").agg(sum("v").as("s"))
    val small = spark.range(17).select(col("id").as("g"), (col("id") + lit(k)).as("w"))
    assert(sums.join(broadcast(small), "g").collect().length === 17)
    val keys = cacheKeys()
    val fresh = keys.map(_._1).toSet -- before
    assert(fresh.nonEmpty)
    val twice = keys.filter(kv => fresh(kv._1)).groupBy(_._1)
      .collect { case (code, ls) if ls.map(_._2).distinct.size > 1 => code }
    assert(twice.isEmpty, s"${twice.size} of ${fresh.size} new classes compiled under two loaders")
  }

  test("the counter sees a class no earlier plan generated") {
    // a literal is written into the generated code, so a fresh value is a
    // fresh class; the first probe of each test below may find its classes
    // cached by an earlier suite, so this is what keeps their zero honest
    val (_, n) = compiled(spark.range(3).select(col("id") * lit(System.nanoTime())).collect())
    assert(n > 0)
  }

  test("the class cache holds more classes than Spark's default 100") {
    // 200 fresh projections, then the first 20 again: with a 100-entry
    // cache the early ones are evicted and compile a second time
    val base = System.nanoTime()
    def project(k: Long) = UnsafeProjection.create(
      Seq(Multiply(BoundReference(0, LongType, nullable = false), Literal(base + k))))
    val (_, fresh) = compiled((0L until 200L).foreach(project))
    assert(fresh === 200L)
    val (_, again) = compiled((0L until 20L).foreach(project))
    assert(again === 0L)
  }

  test("a repeated Bm25Index.probeFrom with other terms compiles nothing") {
    val dir = tmp("bm25codegen")
    Bm25Index.save(Bm25Index.build(docs), dir, nTermShards = 8)
    def probe(terms: Seq[String]) =
      Bm25Index.probeFrom(spark, dir,
        terms.zipWithIndex.map { case (t, p) => (1L, t, p) }.toDF("query_id", "token", "pos"),
        topK = 5).collect()
    assert(probe(Seq("spark", "join")).nonEmpty)
    val (second, n2) = compiled(probe(Seq("window", "row", "dup")))
    assert(second.nonEmpty)
    assert(n2 === 0L)
  }

  test("a repeated LshIndex.probe with another batch compiles nothing") {
    graft.functions.GraftFunctions.register(spark)
    val dir = tmp("lshcodegen")
    LshIndex.save(LshIndex.build(docs), dir)
    val texts = docs.orderBy("doc_id").as[(Long, String)].collect().map(_._2)
    // one near-duplicate a batch: a batch whose docs share a band, or hit
    // the same indexed doc, broadcasts non-unique join keys, and a join on
    // non-unique keys is another generated class, compiled once too
    def probe(i: Int) = LshIndex.load(spark, dir)
      .probe(Seq((-1L - i, texts(i) + " probe")).toDF("doc_id", "text"), docs).collect()
    assert(probe(10).nonEmpty)
    val (second, n2) = compiled(probe(20))
    assert(second.nonEmpty)
    assert(n2 === 0L)
  }

  test("a repeated IvfIndex.candidates with another vector and nprobe compiles nothing") {
    val dir = tmp("ivfcodegen")
    IvfIndex.save(IvfIndex.build(emb, k = 4), dir)
    val vs = emb.orderBy("vec_id").limit(2).as[(Long, Seq[Float])].collect()
      .map(_._2.map(_.toDouble).toArray)
    def probe(q: Array[Double], nprobe: Int) =
      IvfIndex.load(spark, dir).candidates(q, nprobe).select("vec_id").collect()
    probe(vs(0), 1)
    val (second, n2) = compiled(probe(vs(1), 3))
    assert(second.nonEmpty)
    assert(n2 === 0L)
  }
}
