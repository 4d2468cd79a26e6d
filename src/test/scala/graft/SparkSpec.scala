package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session: Spark startup
  * dominates test wall-clock otherwise): [[GraftSession]]'s contract at 4
  * cores and 4 shuffle partitions, with a throwaway warehouse directory.
  */
object TestSession {
  lazy val spark: SparkSession = GraftSession.start(GraftSession.builder("4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.sql.shuffle.partitions", "4"))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** `f` run with every measured gate forced to its scale branch
    * ([[Gates.ForceKey]]); evaluate what is compared inside `f`. */
  def gatesForced[T](f: => T): T = {
    spark.conf.set(Gates.ForceKey, "true")
    try f finally spark.conf.unset(Gates.ForceKey)
  }

  /** `f` run with `spark.sql.shuffle.partitions` = `n`, the partition
    * count of the range-partitioned operators; the session's value is
    * restored afterwards. The OrderedLag operators read the count and
    * materialize their result when called, so the frame `f` returns
    * keeps it. */
  def withShufflePartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, n.toLong)
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `f`'s result and the number of Spark jobs it launched. */
  def jobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    GraftSparkInternals.drainListenerBus(sc, 10000L)
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      assert(GraftSparkInternals.drainListenerBus(sc, 10000L), "listener bus did not drain")
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
