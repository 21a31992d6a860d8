package graft

import graft.operators.ConnectedComponents

/** Min-label propagation on known graphs: chains, separate components,
  * cycles, and star shapes must all converge to min-id labels. */
class ConnectedComponentsSpec extends SparkSpec {

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val df = ConnectedComponents.minLabel(edges.toDF("src", "dst"))
    val out = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    df.unpersist()
    out
  }

  test("two components, a chain and a pair") {
    val got = run(Seq((5L, 3L), (3L, 8L), (8L, 9L), (20L, 21L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 8L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L))
  }

  test("cycle converges") {
    val got = run(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("long chain (diameter > 1 round) still reaches the global min") {
    val chain = (0L until 12L).map(i => (i + 100L, i + 101L))
    val got = run(chain)
    assert(got.values.toSet == Set(100L))
    assert(got.keySet == (100L to 112L).toSet)
  }

  test("star with hub not the min") {
    val got = run(Seq((50L, 7L), (50L, 8L), (50L, 9L)))
    assert(got.values.toSet == Set(7L))
  }

  test("deep chain (300 nodes) converges in far fewer rounds than its diameter") {
    // min-label propagation would need 299 rounds (> maxRounds = 50);
    // large-star/small-star collapses it within the default budget
    val chain = (0L until 299L).map(i => (i + 1000L, i + 1001L))
    val got = run(chain)
    assert(got.values.toSet == Set(1000L))
    assert(got.keySet == (1000L to 1299L).toSet)
  }

  test("deep chain with a round budget too small for the star loop throws") {
    // 3 propagation rounds leave a ~75-node quotient chain that three
    // star rounds cannot collapse: the exit must fail loudly instead of
    // returning unmerged components
    val s = spark
    import s.implicits._
    val chain = (0L until 299L).map(i => (i + 1000L, i + 1001L))
    intercept[IllegalStateException] {
      ConnectedComponents.minLabel(chain.toDF("src", "dst"), maxRounds = 3)
    }
  }

  test("self-loops and isolated pairs keep their own components") {
    val got = run(Seq((4L, 4L), (1L, 2L)))
    assert(got == Map(4L -> 4L, 1L -> 1L, 2L -> 1L))
  }
}
