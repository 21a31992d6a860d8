package graft

import graft.operators.LabelPropagation

/** Synchronous min-tie label propagation: hand-traced rounds on small
  * graphs plus the determinism properties the gate relies on.
  */
class LabelPropagationSpec extends SparkSpec {

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    LabelPropagation.run(edges.toDF("u", "v"), "u", "v", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path 1-2-3: round 1 pulls min neighbor, round 2 floods label 1") {
    // round 1 (labels = ids): 1<-{2}=2, 2<-{1,3} tie -> 1, 3<-{2}=2
    assert(run(Seq((1L, 2L), (2L, 3L)), 1) ==
      Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    // round 2: 1<-{l(2)=1}=1, 2<-{l(1)=2, l(3)=2}=2, 3<-{l(2)=1}=1
    assert(run(Seq((1L, 2L), (2L, 3L)), 2) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("two disjoint triangles each flood their own min label") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    // triangle round 1: 1<-min(2,3)=2, 2<-min(1,3)=1, 3<-min(1,2)=1
    assert(run(e, 1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      10L -> 11L, 11L -> 10L, 12L -> 10L))
    // round 2: 1<-{l2=1,l3=1}=1, 2<-{l1=2,l3=1} tie on count -> 1,
    // 3<-{l1=2,l2=1} tie -> 1: community = min id
    assert(run(e, 2) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("frequency beats label value: majority label wins over smaller rare one") {
    // round 1 (labels = ids, all neighbor multisets distinct so every
    // pull is a count-tie -> min): 1<-{2,4}=2, 2<-{1,3,4}=1,
    // 3<-{2,4}=2, 4<-{1,2,3}=1
    // round 2 for node 2: neighbor labels l(1)=2, l(3)=2, l(4)=1 ->
    // {2:x2, 1:x1}; the count-desc key must pick 2 even though a pure
    // label-min would pick 1 — this is the case that distinguishes
    // counted propagation from min-flooding
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L))
    val r2 = run(e, 2)
    assert(r2(2L) == 2L)
  }

  private def runConv(edges: Seq[(Long, Long)], maxRounds: Int)
      : (Map[Long, Long], Int) = {
    val s = spark
    import s.implicits._
    val rows = LabelPropagation
      .runConverged(edges.toDF("u", "v"), "u", "v", maxRounds)
      .collect()
    (rows.map(r => r.getLong(0) -> r.getLong(1)).toMap,
      rows.map(_.getInt(2)).distinct match { case Array(i) => i })
  }

  test("runConverged: path 1-2-3 stabilizes to label 1 in 3 rounds") {
    // self-vote trace (labels = ids): r1: 1<-{2,self 1} tie->1,
    // 2<-{1,3,self 2}->1, 3<-{2,self 3}->2  => (1,1,2) changed=2
    // r2: 3<-{l2=1,self 2} tie->1 => (1,1,1) changed=1
    // r3: all see only 1s => changed=0, iters=3
    val (labels, iters) = runConv(Seq((1L, 2L), (2L, 3L)), 10)
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(iters == 3)
  }

  test("runConverged: disjoint triangles flood min ids, iters=2") {
    // r1: every triangle node sees 3 distinct labels (two neighbors +
    // self), count-tie -> component min; r2 proves stability
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val (labels, iters) = runConv(e, 10)
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    assert(iters == 2)
  }

  test("runConverged: throws on an unconverged maxRounds exit") {
    // the path needs 3 rounds (above); a 2-round budget must throw,
    // not gate the round-2 labels as if they were a fixed point
    intercept[IllegalStateException] {
      runConv(Seq((1L, 2L), (2L, 3L)), 2)
    }
  }

  test("runConverged: throws on a period-2 oscillation") {
    // found by exhaustive search: even with the self-vote this 6-node
    // graph flips between two labelings from round 2 on, so the cycle
    // check (not the 40-round budget) must fire
    val e = Seq((1L, 2L), (1L, 5L), (2L, 3L), (2L, 4L), (2L, 6L),
      (3L, 5L), (4L, 5L), (5L, 6L))
    val err = intercept[IllegalStateException](runConv(e, 40))
    assert(err.getMessage.contains("period-2 oscillation"), err.getMessage)
  }

  test("result is identical across shuffle-partition settings") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L),
      (10L, 11L), (11L, 12L))
    val a = run(e, 3)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(run(e, 3) == a)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
