package graft

import graft.graph.GraphBuilder
import graft.rel.OrderedLag
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed ordered lag (rel/OrderedLag): exact equality with the
  * single-partition window form — including across partition boundaries and
  * with empty partitions — and the userTransitions scale path built on it.
  */
class OrderedLagSpec extends SparkSpec {
  import spark.implicits._

  test("withLag1 equals the global-window lag on random multi-partition data") {
    val rnd = new scala.util.Random(11)
    // duplicate sort keys are broken by the second column, mirroring
    // (ts, event_id); values deliberately collide across partitions
    val df = (1 to 2000).map(i => (rnd.nextInt(200).toLong, i.toLong, rnd.nextInt(50).toLong))
      .toDF("k", "seq", "v").repartition(13)
    val viaOp = OrderedLag.withLag1(df, Seq("k", "seq"), Seq("v"), numPartitions = 7)
      .select(col("k"), col("seq"), col("v"), col("prev_v"))
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    val viaWindow = df
      .withColumn("prev_v", lag(col("v"), 1).over(Window.orderBy(col("k"), col("seq"))))
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    assert(viaOp === viaWindow)
  }

  test("withLag at offset 3 equals the global-window lag(c, 3), boundaries included") {
    val rnd = new scala.util.Random(23)
    val df = (1 to 500).map(i => (rnd.nextInt(40).toLong, i.toLong, rnd.nextInt(9).toLong))
      .toDF("k", "seq", "v").repartition(9)
    val viaOp = OrderedLag.withLag(df, Seq("k", "seq"), Seq("v"), k = 3, numPartitions = 6)
      .select(col("k"), col("seq"), col("prev3_v"))
      .as[(Long, Long, Option[Long])].collect().toSet
    val viaWindow = df
      .withColumn("prev3_v", lag(col("v"), 3).over(Window.orderBy(col("k"), col("seq"))))
      .select(col("k"), col("seq"), col("prev3_v"))
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(viaOp === viaWindow)
  }

  test("withLead1 equals the global-window lead on random multi-partition data") {
    val rnd = new scala.util.Random(31)
    val df = (1 to 2000).map(i => (rnd.nextInt(200).toLong, i.toLong, rnd.nextInt(50).toLong))
      .toDF("k", "seq", "v").repartition(11)
    val viaOp = OrderedLag.withLead1(df, Seq("k", "seq"), Seq("v"), numPartitions = 6)
      .select(col("k"), col("seq"), col("next_v"))
      .as[(Long, Long, Option[Long])].collect().toSet
    val viaWindow = df
      .withColumn("next_v", lead(col("v"), 1).over(Window.orderBy(col("k"), col("seq"))))
      .select(col("k"), col("seq"), col("next_v"))
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(viaOp === viaWindow)
  }

  test("withLead at offset 2 equals the global-window lead(c, 2)") {
    val rnd = new scala.util.Random(37)
    val df = (1 to 400).map(i => (rnd.nextInt(30).toLong, i.toLong, rnd.nextInt(9).toLong))
      .toDF("k", "seq", "v").repartition(7)
    val viaOp = OrderedLag.withLead(df, Seq("k", "seq"), Seq("v"), k = 2, numPartitions = 5)
      .select(col("k"), col("seq"), col("next2_v"))
      .as[(Long, Long, Option[Long])].collect().toSet
    val viaWindow = df
      .withColumn("next2_v", lead(col("v"), 2).over(Window.orderBy(col("k"), col("seq"))))
      .select(col("k"), col("seq"), col("next2_v"))
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(viaOp === viaWindow)
  }

  test("withRunningMax equals the global-window strictly-prior max") {
    val rnd = new scala.util.Random(23)
    // values collide and DECREASE across long stretches so the seeded
    // prefix max genuinely crosses partition boundaries
    val df = (1 to 2000).map(i => (rnd.nextInt(200).toLong, i.toLong, rnd.nextInt(500).toLong))
      .toDF("k", "seq", "v").repartition(13)
    val viaOp = OrderedLag.withRunningMax(df, Seq("k", "seq"), "v", "pm", numPartitions = 7)
      .select(col("k"), col("seq"), col("v"), col("pm"))
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    val viaWindow = df
      .withColumn("pm", max(col("v")).over(Window.orderBy(col("k"), col("seq"))
        .rowsBetween(Window.unboundedPreceding, -1)))
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    assert(viaOp === viaWindow)
  }

  test("withRunningMax skips nulls like the window max it replaces") {
    // nulls never become the running max, and a null-valued row still SEES
    // the prior non-null max — exactly max OVER (... 1 PRECEDING) semantics
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(3L)), (4L, None), (5L, Some(9L)))
      .toDF("seq", "v")
    val viaOp = OrderedLag.withRunningMax(df, Seq("seq"), "v", "pm", numPartitions = 3)
      .select(col("seq"), col("pm")).as[(Long, Option[Long])].collect().toMap
    val viaWindow = df
      .withColumn("pm", max(col("v")).over(Window.orderBy(col("seq"))
        .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("seq"), col("pm")).as[(Long, Option[Long])].collect().toMap
    assert(viaOp === viaWindow)
    assert(viaOp === Map(1L -> None, 2L -> Some(5L), 3L -> Some(5L),
                         4L -> Some(5L), 5L -> Some(5L)))
  }

  test("withRunningMax handles a partition count exceeding the row count") {
    val df = Seq((1L, 5L), (2L, 3L), (3L, 9L)).toDF("seq", "v")
    val got = OrderedLag.withRunningMax(df, Seq("seq"), "v", "pm", numPartitions = 16)
      .select(col("seq"), col("pm")).as[(Long, Option[Long])].collect().toMap
    assert(got === Map(1L -> None, 2L -> Some(5L), 3L -> Some(5L)))
  }

  test("withLag1 handles a partition count exceeding the row count") {
    val df = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("k", "v")
    val got = OrderedLag.withLag1(df, Seq("k"), Seq("v"), numPartitions = 16)
      .select(col("k"), col("prev_v")).as[(Long, Option[Long])].collect().toSet
    assert(got === Set((1L, None), (2L, Some(1L)), (3L, Some(2L))))
  }

  test("userTransitionsAtScale emits exactly the window-form transition multiset") {
    val t = Tables(spark, sfDir)
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("src", "dst").count().as[(Long, Long, Long)].collect().toSet
    assert(multiset(GraphBuilder.userTransitionsAtScale(t)) ===
           multiset(GraphBuilder.userTransitions(t)))
  }

  test("userTransitions auto-selects the OrderedLag tier above the feed threshold") {
    val t = Tables(spark, sfDir)
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("src", "dst").count().as[(Long, Long, Long)].collect().toSet
    // Force the threshold below the test feed: the scale tier must kick in
    // and the plan must contain NO WindowExec (the single-task sort the
    // tiering exists to avoid), while the result multiset is unchanged.
    val forced = gatesForced(GraphBuilder.userTransitions(t))
    val plan = forced.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"scale tier must not plan a global window:\n$plan")
    assert(multiset(forced) === multiset(GraphBuilder.userTransitions(t)))
  }
}
