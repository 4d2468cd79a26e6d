package graft

import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
import org.apache.spark.sql.functions._

import graft.graph.Algorithms

/** [[Gates]]: forcing every gate to its scale branch changes plans, never
  * rows. The fixtures sit far below every threshold, so only the forced
  * runs reach the shuffle joins and distributed tiers these operators keep
  * for scale. A gate's measurement is one job ([[graph.Materialize.counted]]).
  */
class GatesSpec extends SparkSpec {
  import spark.implicits._

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  Seq(
    "TokenSetJoin.selfJoinJaccard" -> "g50_token_er_catalog",
    "TokenSetJoin.joinJaccard" -> "g54_abbrev_linkage",
    "ErScore.screeningQueue" -> "g61_er_screening_queue",
    "Traversals.capEgoMembers" -> "g62b_dossier_ego_capped",
    "Traversals.connectionDistance" -> "g57_connection",
    "Algorithms.ccIncrement" -> "g66_cc_increment"
  ).foreach { case (op, q) =>
    test(s"$op ($q) returns the same rows with every gate forced") {
      def run = sorted(SparkEntry.queries(q)(spark, sfDir))
      val default = run
      assert(default.nonEmpty, s"$q is empty at $sfDir: the comparison would show nothing")
      assert(gatesForced(run) === default)
    }
  }

  test("the force switch drops the measured broadcast hints") {
    val labels = Tables(spark, sfDir).part
      .select(col("p_partkey").as("id"),
        concat_ws(" ", col("p_name"), col("p_brand"), col("p_type")).as("label"))
    def hints(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
    }.size
    assert(hints(graft.rel.TokenSetJoin.selfJoinJaccard(labels, 0.6)) > 0)
    assert(gatesForced(hints(graft.rel.TokenSetJoin.selfJoinJaccard(labels, 0.6))) === 0)
  }

  test("Algorithms.cc measures its gate in one job") {
    val e = (1L to 40L).map(i => (i, 100L + i % 7)).toDF("src", "dst")
    val (labels, n) = jobs(Algorithms.cc(e).as[(Long, Long)].collect())
    assert(labels.map(_._2).distinct.sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // the union-find tier streams the measured edges with one job per partition
    val streamed = e.rdd.getNumPartitions
    assert(n - streamed === 1, s"$n jobs, $streamed of them streaming the edges into union-find")
  }

  test("connectedComponentsStar (cc with every gate forced) counts each round in its checkpoint job") {
    // two paths, 1-2-…-6 and 10-11-12: the star rounds need more than one pass
    val e = ((1L to 5L).map(i => (i, i + 1)) ++ Seq((10L, 11L), (11L, 12L))).toDF("src", "dst")
    val (labels, n) = jobs(gatesForced(Algorithms.cc(e).as[(Long, Long)].collect()))
    assert(labels.toMap === ((1L to 6L).map(_ -> 1L) ++ (10L to 12L).map(_ -> 10L)).toMap)
    // a Dataset count after each round's checkpoint would add two jobs a round
    assert(n === 47, s"$n jobs")
  }

  test("userTransitions counts an unchanged feed once per session and a rewritten feed again") {
    val dir = java.nio.file.Files.createTempDirectory("feed").toString
    def writeEvents(n: Int): Unit = {
      val out = s"$dir/out"
      spark.range(n).select(col("id").as("event_id"), (col("id") % 3).as("user_id"),
          (lit(1700000000L) + col("id")).cast("timestamp").as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, "events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def countJobs(): Int = {
      Tables(spark, dir).events // the file's schema, resolved outside the measured call
      jobs(graft.graph.GraphBuilder.userTransitions(Tables(spark, dir)))._2
    }
    writeEvents(6)
    assert(countJobs() > 0, "the first build must count the feed")
    assert(countJobs() === 0, "an unchanged feed is counted once per session")
    writeEvents(60)
    assert(countJobs() > 0, "a rewritten feed must be counted again")
  }
}
