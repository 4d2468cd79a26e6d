package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Small driver-side values resolved once per session (fixture schemas,
  * IVF centroids, PQ codebooks), each under a location key and a stamp
  * (file length and mtime, or a manifest commit): a different stamp
  * reloads the entry. Sessions are held weakly and values must not
  * reference theirs, so nothing here outlives the session. */
object SessionCache {
  private val bySession =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (Any, AnyRef)]]()

  def apply[T <: AnyRef](spark: SparkSession, key: String, stamp: Any)(load: => T): T = {
    val entries = bySession.synchronized(
      bySession.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, (Any, AnyRef)]()))
    entries.get(key) match {
      case (s, v) if s == stamp => v.asInstanceOf[T]
      case _ => val v = load; entries.put(key, (stamp, v)); v
    }
  }
}
