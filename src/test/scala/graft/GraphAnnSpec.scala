package graft

import org.apache.spark.sql.functions._

import graft.queries.Walk

/** v17 graph-navigation serving: determinism, output contract, and the
  * hub-edge escape property that motivates the graph shape (a purely
  * cell-local graph caps recall at the entry cells' contents —
  * measured 4/60 at degree 3 vs 35/60 with hubs at the gate SF). */
class GraphAnnSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Top-3 of `walk` served off the stored hub graph. */
  private def hubServe(walk: Walk, degree: Int, kCells: Int = 8,
      entries: Int = 2): org.apache.spark.sql.DataFrame = {
    val (edges, f0) = Walk.hubGraphAndEntry(spark, sf, degree, kCells, entries)
    walk.serve(spark, sf, edges, f0).top3
  }

  /** Top-3 of `walk` served off the stored k=8 Vamana graph. */
  private def vamanaServe(walk: Walk): org.apache.spark.sql.DataFrame = {
    val (edges, f0) = Walk.vamanaGraphAndEntry(spark, sf, degree = 16)
    walk.serve(spark, sf, edges, f0).top3
  }

  private val exact16 = Walk(Walk.Exact, beam = 16, maxHops = 3)

  test("beam walk is deterministic: two runs serve identical sets") {
    val a = hubServe(exact16, degree = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = hubServe(exact16, degree = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("output contract: <=3 neighbors per query, never self, all " +
      "queries served") {
    val rows = hubServe(exact16, degree = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.forall { case (q, c) => q != c })
    val perQ = rows.groupBy(_._1).map { case (_, v) => v.length }
    assert(perQ.forall(_ <= 3))
    assert(rows.map(_._1).toSet == (0L until 20L).toSet,
      "every query in vec_id < 20 must be served")
  }

  test("final per-query cut is the TopKPerKey heap, not a window") {
    val p = hubServe(exact16, degree = 16)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("TopKPerKey"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("ADC walk (v19): deterministic, contract-clean, and the final " +
      "answer comes from the exact re-rank of the last beam") {
    val a = hubServe(Walk(Walk.Adc(graft.queries.TrainedIndex.codes(spark, sf)),
        beam = 16, maxHops = 3), degree = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = hubServe(Walk(Walk.Adc(graft.queries.TrainedIndex.codes(spark, sf)),
        beam = 16, maxHops = 3), degree = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    assert(a.nonEmpty)
    assert(a.forall { case (q, c) => q != c })
    assert(a.groupBy(_._1).forall { case (_, v) => v.size <= 3 })
    // the exact-cosine walk and the ADC walk agree on SOME neighbors
    // (same graph, same entries) but the ADC compass is lossy — they
    // need not be identical; both must serve every query
    assert(a.map(_._1) == (0L until 20L).toSet)
  }

  test("the served graph is a stored artifact: the edge/medoid frames " +
      "TrainedIndex.graph returns are pure parquet scans — no join, " +
      "no aggregate, no exchange (the build never runs at serve time)") {
    val (edges, medoids) = graft.queries.TrainedIndex
      .graph(spark, sf, degree = 16, kCells = 8)
    Seq("edges" -> edges, "medoids" -> medoids).foreach { case (n, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("FileScan parquet"), s"$n: ${p.take(500)}")
      Seq("Join", "HashAggregate", "Exchange", "TopKPerKey").foreach { op =>
        assert(!p.contains(op), s"$n plan contains $op — the serving " +
          s"path is rebuilding: ${p.take(800)}")
      }
    }
    // and the loaded graph is non-trivial (hub edges included:
    // out-degree can exceed the kNN degree by 1)
    assert(edges.count() > 0 && medoids.count() > 0)
  }

  test("a hop is a point lookup: the frontier's src ids reach the " +
      "stored edge scan as PushedFilters, and the expansion equals " +
      "the unpruned join") {
    val s = spark
    import s.implicits._
    val (edges, _) = graft.queries.TrainedIndex
      .graph(spark, sf, degree = 16, kCells = 8)
    val frontier = Walk.materialize(spark,
      edges.select(col("src").as("cid")).distinct()
        .orderBy(col("cid")).limit(3)
        .withColumn("qid", lit(0L)).select(col("qid"), col("cid")))
    val hop = Walk.hopEdgesOf(edges, frontier)
    val p = hop.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      Seq("In(src", "in(src").exists(p.contains), p.take(1200))
    // pruning is a semantic no-op: same rows as the plain join
    val plain = edges
      .join(frontier.df.select(col("qid"), col("cid").as("src")), Seq("src"))
      .select(col("qid"), col("dst").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = hop.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == plain && pruned.nonEmpty)
  }

  test("a serving-sized hop (>10 ids — past parquet's " +
      "inFilterThreshold) still pushes the In filter and equals the " +
      "plain join") {
    val (edges, _) = graft.queries.TrainedIndex
      .graph(spark, sf, degree = 16, kCells = 8)
    // 16 distinct src ids: above the parquet reader's 10-value OR
    // expansion threshold, so the row-group filter is the ids' min/max
    // RANGE — the pushed data-source filter is still In(src, ...)
    // (GraphAnnSpec's 3-id case never exercised this regime; the
    // src-sorted edge artifact is what keeps the range tight)
    val frontier = Walk.materialize(spark,
      edges.select(col("src").as("cid")).distinct()
        .orderBy(col("cid")).limit(16)
        .withColumn("qid", lit(0L)).select(col("qid"), col("cid")))
    assert(frontier.df.count() == 16)
    val hop = Walk.hopEdgesOf(edges, frontier)
    val p = hop.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      Seq("In(src", "in(src").exists(p.contains), p.take(1200))
    val plain = edges
      .join(frontier.df.select(col("qid"), col("cid").as("src")), Seq("src"))
      .select(col("qid"), col("dst").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = hop.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == plain && pruned.nonEmpty)
  }

  test("above the pushdown cap the hop flips to the plain broadcast " +
      "join — no id literals in the scan, same rows (VERDICT r13 #2: " +
      "a fleet-sized frontier must not inline 10^5 literals)") {
    val (edges, _) = graft.queries.TrainedIndex
      .graph(spark, sf, degree = 16, kCells = 8)
    val frontier = Walk.materialize(spark,
      edges.select(col("src").as("cid")).distinct()
        .orderBy(col("cid")).limit(16)
        .withColumn("qid", lit(0L)).select(col("qid"), col("cid")))
    val hop = Walk
      .hopEdgesOf(edges, frontier, maxPushIds = 8) // 16 ids > cap of 8
    val p = hop.queryExecution.executedPlan.toString
    assert(!Seq("In(src", "in(src").exists(p.contains),
      "above-cap arm must not inline frontier ids: " + p.take(1200))
    val plain = edges
      .join(frontier.df.select(col("qid"), col("cid").as("src")), Seq("src"))
      .select(col("qid"), col("dst").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val flipped = hop.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flipped == plain && flipped.nonEmpty)
  }

  test("a hop expanding past frontier rows x MaxOutDegree edges throws " +
      "HopOverflow instead of collecting it") {
    val s = spark
    import s.implicits._
    val frontier = Walk.materialize(spark, Seq((0L, 1L)).toDF("qid", "cid"))
    def edgesOf(outDegree: Int) =
      (2L until 2L + outDegree).map(d => (1L, d)).toDF("src", "dst")
    // at the bound the expansion is collected whole
    val atBound = Walk.hopCands(spark, edgesOf(Walk.MaxOutDegree), frontier)
    assert(atBound.count() == Walk.MaxOutDegree + 1)
    val e = intercept[Walk.HopOverflow] {
      Walk.hopCands(spark, edgesOf(Walk.MaxOutDegree + 1), frontier)
    }
    assert(e.getMessage.contains(s"past ${Walk.MaxOutDegree} edges"),
      e.getMessage)
  }

  test("refined kernels (v17d exact / v21 ADC): deterministic, " +
      "contract-clean, and the final cut is the TopKPerKey heap") {
    def check(df: => org.apache.spark.sql.DataFrame): Unit = {
      val a = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a == b && a.nonEmpty)
      assert(a.forall { case (q, c) => q != c })
      assert(a.groupBy(_._1).forall { case (_, v) => v.size <= 3 })
      assert(a.map(_._1) == (0L until 20L).toSet,
        "every query in vec_id < 20 must be served")
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("TopKPerKey"), p.take(2000))
      assert(!p.contains("Window"), p.take(2000))
    }
    check(hubServe(Walk(Walk.Exact, beam = 8, maxHops = 2,
      Walk.Refined(kCells = 8, refine = 2, shortlist = 8)),
      degree = 8, entries = 4))
    check(hubServe(Walk(Walk.Adc(graft.queries.TrainedIndex.codes(spark, sf)),
      beam = 8, maxHops = 2,
      Walk.Refined(kCells = 8, refine = 2, shortlist = 16)),
      degree = 8, entries = 4))
  }

  test("the refined union can only help: v17d's served set per query " +
      "scores >= the walk-only set under the exact cosine (the union " +
      "is a superset of the walk's final beam)") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val vecs = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    def scoreOf(rows: Array[(Long, Long)]): Map[Long, Double] =
      rows.groupBy(_._1).map { case (q, v) =>
        q -> v.map { case (_, c) => cos(vecs(q), vecs(c)) }.sum
      }
    val walk = scoreOf(
      hubServe(Walk(Walk.Exact, beam = 8, maxHops = 2), degree = 8,
        entries = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    val refined = scoreOf(
      hubServe(Walk(Walk.Exact, beam = 8, maxHops = 2,
        Walk.Refined(kCells = 8, refine = 2, shortlist = 8)), degree = 8,
        entries = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    walk.keys.foreach { q =>
      assert(refined(q) >= walk(q) - 1e-12,
        s"query $q: refined top-3 cosine sum ${refined(q)} < walk's " +
          s"${walk(q)} — the union dropped a walk candidate")
    }
  }

  test("hub edges escape the entry cells: served neighbors include " +
      "nodes outside the query's 2 probed cells") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val cent = graft.queries.TrainedIndex.centroids(spark, sf, k = 8)
    val asg = e.select(col("vec_id"),
        (-element_at(graft.queries.VectorOps
          .nearestCells(cent, "embedding", 1), 1)
          .getField("nc")).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // probed cells per query, computed with the kernel's own helper
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"),
        explode(graft.queries.VectorOps
          .nearestCells(cent, "embedding", 2)).as("pc"))
      .select(col("qid"), (-col("pc.nc")).as("cell"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val served = hubServe(exact16, degree = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val escapes = served.count { case (q, c) =>
      !probes(q).contains(asg(c))
    }
    assert(escapes > 0,
      "no served neighbor outside the entry cells — hub edges dead")
  }

  test("the scaled shortlist rule (v21b/st19c): exact integer ceil of " +
      "the 20%-of-union knee, reproducing R=128 at the sf0.1 gate " +
      "geometry, and the SQL twin embeds the identical constants") {
    import graft.queries.VectorOps.{scaledShortlist, scaledShortlistSql}
    // the three fixture sizes: verify SF, bench SF, the 10x fixture
    assert(scaledShortlist(500L, refine = 8, kCells = 25) == 32)
    assert(scaledShortlist(2000L, refine = 8, kCells = 25) == 128)
    assert(scaledShortlist(20000L, refine = 8, kCells = 25) == 1280)
    // ceil, not floor: one extra row must round the cut UP
    assert(scaledShortlist(501L, refine = 8, kCells = 25) == 33)
    // monotone in n — a growing corpus can never shrink the shortlist
    val rs = (1L to 4000L by 7).map(scaledShortlist(_, 8, 25))
    assert(rs.zip(rs.tail).forall { case (a, b) => a <= b })
    // the oracle's scalar subquery is the SAME integer ceil-division
    // (numerator bump = den - 1, integer // by den) over the SAME
    // table the engine counts
    val sql = scaledShortlistSql(refine = 8, kCells = 25)
    assert(sql.contains("8*count(*) + 124") && sql.contains("// 125") &&
      sql.contains("FROM embeddings"), sql)
  }

  test("v22 vamana build contract: deterministic edge set, out-degree " +
      "exactly the degree budget (keepPruned fill), no self-loops") {
    val (e1, _) = graft.queries.VectorOps
      .buildVamanaGraph(spark, sf, degree = 16, kCells = 8)
    val edges1 = e1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (e2, _) = graft.queries.VectorOps
      .buildVamanaGraph(spark, sf, degree = 16, kCells = 8)
    val edges2 = e2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges1 == edges2 && edges1.nonEmpty)
    val perSrc = edges1.groupBy(_._1).map { case (_, v) => v.size }
    assert(perSrc.forall(_ <= 16),
      s"out-degree exceeded the budget: max=${perSrc.max}")
    assert(perSrc.forall(_ == 16),
      "the keepPruned fill must reach the full budget on this " +
        "fixture (every pool has >degree members)")
    assert(edges1.forall { case (s0, d0) => s0 != d0 })
  }

  test("v22 serve is deterministic and meets the output contract") {
    val a = vamanaServe(Walk(Walk.Exact, beam = 16, maxHops = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = vamanaServe(Walk(Walk.Exact, beam = 16, maxHops = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
    assert(a.forall { case (q, c) => q != c })
    assert(a.groupBy(_._1).forall { case (_, v) => v.size <= 3 })
    assert(a.map(_._1) == (0L until 20L).toSet,
      "every query in vec_id < 20 must be served")
  }

  test("st19 parity (gate demoted per VERDICT r14 #2): the stream-" +
      "maintained kCells=8 store serves the SAME rows as the batch-" +
      "built artifact graph at the serving degree, and its edge set " +
      "equals the batch build edge for edge") {
    val store = graft.queries.Windows.buildMaintainedStore(
      spark, sf, kCells = 8, "graft_st19p_")
    val (edges, f0) = graft.queries.Windows.maintainedServe(spark, store)
    // edge-set equality: the top-k merge monoid at the serving degree
    val maintainedEdges = edges.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (batchEdges, _) = graft.queries.TrainedIndex
      .graph(spark, sf, degree = 16, kCells = 8)
    val batchSet = batchEdges.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintainedEdges == batchSet,
      "streamed lists + hub must equal the batch build edge for edge")
    // serve parity: the ADC walk off the maintained store equals the
    // walk off the batch artifacts (the demoted gate's hashed subject)
    val adc = Walk(Walk.Adc(graft.queries.TrainedIndex.codes(spark, sf)),
      beam = 16, maxHops = 3)
    val maintained = adc.serve(spark, sf, edges, f0).top3
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = hubServe(adc, degree = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintained == batch && maintained.nonEmpty)
  }

  test("st19c serves from the per-JVM maintained-state memo: the " +
      "second invocation streams nothing (the memo build counter " +
      "does not move) and serves the identical rows") {
    val q = graft.queries.Q.all
      .find(_.name == "st19c_maintained_refined_serving").get
    // ADVICE r14: probe the memo's OWN build counter, not a snapshot
    // of the process-shared java.io.tmpdir a concurrent test JVM
    // could race by creating graft_st19m_* dirs between snapshots
    val first = q.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val after1 = graft.queries.Windows.maintainedBuilds.get()
    val second = q.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(graft.queries.Windows.maintainedBuilds.get() == after1,
      "second st19c invocation re-ran the maintenance stream — the " +
        "memo is dead and every serve re-pays the stream")
    assert(first == second && first.nonEmpty)
  }

  test("converged walk (v22/st19d, VERDICT r15 #4): the data-derived " +
      "stop lands strictly inside the cap — headroom, not the " +
      "budget — and the converged serve equals the fixed-hop serve " +
      "run at the measured stop") {
    val maxHops = graft.queries.VectorOps.WalkMaxHops
    val (edges, f0) = Walk.vamanaGraphAndEntry(spark, sf, degree = 16)
    val walk = Walk(Walk.Exact, beam = 16, maxHops = maxHops)
    val served = walk.serve(spark, sf, edges, f0)
    val stop = served.stop
    assert(stop >= 1 && stop < maxHops,
      s"stop=$stop hit the cap — the walk is budget-starved again " +
        "(raise WalkMaxHops and re-measure, BENCH_SCALE r15)")
    val conv = served.top3.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the pinned-hop walk at exactly the measured stop must serve
    // the identical rows: convergence found the SAME fixed point
    val pinned = Walk(Walk.Exact, beam = 16, maxHops = stop)
      .serve(spark, sf, edges, f0).top3.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(conv == pinned && conv.nonEmpty)
    // one explicit walk step applied to the stopped frontier changes
    // nothing — the stop is a fixed point, not an arbitrary cut
    val stopped = served.frontier.collect().toSet
    val past = walk.step(spark, sf, edges, served.frontier).collect().toSet
    assert(past == stopped,
      "frontier moved after the detected fixed point")
    // the converged walk stepped explicitly from the hop-0 beam until a
    // step leaves it unchanged stops where the serve with budget
    // WalkMaxHops reported
    var frontier = Walk(Walk.Exact, beam = 16, maxHops = 0)
      .serve(spark, sf, edges, f0).frontier
    var converged = -1
    for (h <- 1 to maxHops if converged < 0) {
      val next = walk.step(spark, sf, edges, frontier)
      if (next.collect().toSet == frontier.collect().toSet) converged = h
      frontier = next
    }
    assert(converged == stop,
      s"stepped walk converged at hop $converged, the serve reported $stop")
  }

  test("st19d: the maintained-lake Vamana OPTIMIZE pass equals the " +
      "batch alpha-pruned build edge for edge (one-shot occlusion " +
      "is order-independent), and the converged walk serves off it") {
    // build the maintained lake at the spec geometry and run the
    // optimize-pass kernel over it, then compare to the batch build
    val store = graft.queries.Windows.buildMaintainedStore(
      spark, sf, kCells = 8, "graft_st19d_")
    val root = store.stripSuffix("/serve")
    val cent = graft.queries.TrainedIndex.centroids(spark, sf, k = 8)
    val lake = graft.streaming.StreamingVectorIndex
      .readIndex(spark, s"$root/index")
      .select(col("vec_id"), col("embedding"))
    val (mEdges, _) = graft.queries.VectorOps
      .vamanaGraphFrom(spark, lake, cent, degree = 16)
    val maintained = mEdges.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (bEdges, _) = graft.queries.TrainedIndex
      .vamanaGraph(spark, sf, degree = 16, kCells = 8)
    val batch = bEdges.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintained == batch && maintained.nonEmpty,
      "optimize pass over the maintained lake diverged from the " +
        "batch alpha-pruned build")
  }
}
