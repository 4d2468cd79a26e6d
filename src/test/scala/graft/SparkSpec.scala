package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session: Spark startup
  * dominates test wall-clock otherwise). Mirrors the Verify/Bench config.
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
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
