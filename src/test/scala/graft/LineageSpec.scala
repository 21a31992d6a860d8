package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{ConnectedComponents, LabelPropagation, Lineage, PageRank}

/** Pins the ADVICE-r11 storage-hygiene fix: Dataset.unpersist() does
  * NOT free an eager local checkpoint's blocks, Lineage.free does. */
class LineageSpec extends SparkSpec {

  private def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("Dataset.unpersist is a no-op for a local checkpoint; Lineage.free drops it") {
    val s = spark
    import s.implicits._
    val before = persistedIds()
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v").localCheckpoint(true)
    val mine = persistedIds() -- before
    assert(mine.nonEmpty, "eager localCheckpoint should persist its RDD")
    df.unpersist(blocking = true)
    assert((persistedIds() -- before) == mine,
      "the documented no-op: Dataset.unpersist left the blocks alone")
    Lineage.free(df)
    // unpersist(blocking=false) is async on the block side but the
    // persistentRDDs registry drops synchronously
    assert((persistedIds() -- before).isEmpty,
      "Lineage.free must unregister the checkpoint's backing RDD")
  }

  // Every iterative kernel frees each frame it cut except the ones
  // backing its result: only the returned frame's checkpoint may stay
  // registered. Each input runs enough rounds (a 21-node path graph
  // needs many) that a per-round leak would show.
  private val path = (1L to 20L).map(i => (i, i + 1))
  private val leakInputs: Seq[(String, Seq[(Long, Long)], DataFrame => DataFrame)] = Seq(
    ("label propagation", path,
      LabelPropagation.runConverged(_, "src", "dst", maxRounds = 40)),
    ("bounded label propagation", path,
      LabelPropagation.run(_, "src", "dst", iters = 10)),
    ("PageRank.run", path, PageRank.run(_, "src", "dst", iters = 10)),
    ("PageRank.runExactMicro", path,
      PageRank.runExactMicro(_, "src", "dst", iters = 11)),
    // the path's L-inf deltas fall below 40000 micro-units at round 11
    ("PageRank.runConvergedMicro", path, { e =>
      val out = PageRank.runConvergedMicro(e, "src", "dst", tolMicro = 40000L, maxIters = 60)
      val iters = out.select("iters").distinct().collect().map(_.getInt(0)).toSeq
      assert(iters == Seq(11), s"converged in $iters rounds")
      out
    }),
    // diameter 39 > the 8 propagation rounds: reaches the star branch
    ("connected components", (1L to 39L).map(i => (i, i + 1)),
      ConnectedComponents.minLabel(_))
  )

  leakInputs.foreach { case (name, edgeList, kernel) =>
    test(s"iterating $name leaves no per-round blocks behind") {
      val s = spark
      import s.implicits._
      val before = persistedIds()
      val out = kernel(edgeList.toDF("src", "dst"))
      out.count()
      val leaked = persistedIds() -- before
      assert(leaked.size <= 1, s"leaked checkpoint RDDs: $leaked")
    }
  }

  test("iterating kernels keep their size estimates bounded") {
    // a round that joins the previous checkpoint k times raises Spark's
    // size estimate to the k-th power; unchecked, planning one round
    // takes minutes after ~20 rounds
    val s = spark
    import s.implicits._
    leakInputs.foreach { case (name, edgeList, kernel) =>
      val est = kernel(edgeList.toDF("src", "dst")).queryExecution.optimizedPlan.stats.sizeInBytes
      // digits, not the value: a runaway estimate has thousands of them
      assert(est.isValidLong, s"$name: size estimate has ${est.toString.length} digits")
    }
  }
}
