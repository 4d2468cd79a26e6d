package graft

import graft.graph.Algorithms

/** The stop rules of the one round loop under every graph iteration
  * (`Traversals.levels`): a loop runs no job past the round where its rule
  * stops it, and a loop asked for a fixpoint throws instead of returning a
  * short answer.
  */
class RoundLoopSpec extends SparkSpec {
  import spark.implicits._

  test("a peel stops at its first unchanged count and runs no job after it") {
    // K4 {1,2,3,4} with a pendant 4-5: round 1 peels 5, round 2 keeps all
    // four, so the 3-core is fixed after round 2
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    def run(rounds: Int) = jobs(Algorithms.kCoreBounded(e, 3, rounds)
      .as[(Long, Long)].collect().toMap)
    val (r1, n1) = run(1)
    val (r2, n2) = run(2)
    val (r9, n9) = run(9)
    assert(r2 === (1L to 4L).map(_ -> 3L).toMap)
    assert(r1 === r2 && r9 === r2)
    assert(n2 > n1, s"round 2 ran no job ($n1 vs $n2): the count below would show nothing")
    assert(n9 === n2, s"$n9 jobs with 9 rounds allowed, $n2 with 2")
  }

  test("a fixed-round loop over an empty state runs no job past round 1") {
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    def run(rounds: Int) = jobs(Algorithms.labelPropagation(none, rounds).count())
    val (c1, n1) = run(1)
    val (c5, n5) = run(5)
    assert(c1 === 0L && c5 === 0L)
    assert(n5 === n1, s"$n5 jobs with 5 rounds, $n1 with 1")
  }

  test("a Bellman-Ford run to a fixpoint past its bound throws") {
    // the path 1→2→3→4→5 improves one node a round, and round 5 improves none
    val e = (1L to 4L).map(i => (i, i + 1, 0.5)).toDF("src", "dst", "cost")
    val err = intercept[IllegalStateException](Algorithms.sssp(e, 1L, 4).collect())
    assert(err.getMessage.contains("no fixpoint in 4 rounds"))
    val fixed = Algorithms.sssp(e, 1L, 5).as[(Long, Double)].collect().toMap
    assert(fixed === (1L to 5L).map(i => i -> 0.5 * (i - 1)).toMap)
    assert(Algorithms.boundedSssp(e, 1L, 4).as[(Long, Double)].collect().toMap === fixed)
  }
}
