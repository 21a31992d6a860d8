package graft

/** Physical-plan regression guard: pins the load-bearing plan facts the
  * earlier rounds established (pushdown, broadcast dims, top-k operator,
  * single-scan j08, LSH exchange reuse, no cartesian products) so a
  * refactor can't silently reintroduce a scale-killer plan shape. These
  * are contains-checks on the executed plan string — cheap, and exactly
  * what a human plan review looks for.
  */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("p02 pushes its filters into the parquet scan and prunes columns") {
    val p = planOf("p02_pushdown_agg")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.contains("PushedFilters: []"), p)
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema in:\n$p"))
    val cols = read.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"),
      s"expected the 4 referenced columns only, got $cols")
  }

  test("j01 joins its dimension chain via broadcast, not shuffle") {
    val p = planOf("j01_broadcast_chain")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("o04 top-k is TakeOrderedAndProject, not a global sort") {
    val p = planOf("o04_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("j08 complement derivation reads the fact exactly once and has no join") {
    val p = planOf("j08_self_join_opponent")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 parquet scan, got $scans in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("ShuffledHashJoin"), s"j08 must not join:\n$p")
  }

  test("d02 LSH band join reuses the signature exchange") {
    // Exchange reuse is an AQE runtime decision: execute, then read the
    // final adaptive plan (the static plan shows two identical exchanges).
    val df = SparkEntry.queries("d02_minhash_lsh")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(300))
    assert(p.contains("ReusedExchange"), p.take(3000))
  }

  test("v07 semantic dedup reuses the cluster-assignment exchange across consumers") {
    // Three consumers (both pair-join sides + the totals rollup) hang
    // off the repartition(cluster_seed) exchange; the corpus x seeds
    // assignment must be computed once, not three times.
    val df = SparkEntry.queries("v07_semantic_dedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(300))
    assert(p.contains("ReusedExchange"), p.take(3000))
  }

  test("t09 repetition scoring is pure per-row compute — no exchange at all") {
    val p = planOf("t09_repetition")
    assert(!p.contains("Exchange"), p)
  }

  test("t10 contamination joins the benchmark gram set via broadcast") {
    val p = planOf("t10_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t10b prefilters with the bloom probe and never FORCES a bench broadcast") {
    val p = planOf("t10b_contamination_bloom")
    assert(p.contains("might_contain"), s"bloom prefilter optimized away:\n${p.take(3000)}")
    // At tiny SF Catalyst legitimately size-picks broadcast for the verify
    // join; the 100-TB contract is only that t10b carries no broadcast
    // HINT, so when the bench side outgrows the threshold the planner is
    // free to fall back to a shuffle join. Prove it by re-planning with
    // size-based broadcast disabled: a hinted join would still broadcast.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p2 = planOf("t10b_contamination_bloom")
      assert(!p2.contains("BroadcastHashJoin"), s"bench broadcast is forced:\n${p2.take(3000)}")
      assert(p2.contains("might_contain"), p2.take(3000))
    } finally spark.conf.set(key, prev)
  }

  test("t12/t13/v06 per-row pipeline ops stay shuffle-free") {
    Seq("t12_chunk_windows", "t13_pii_scrub", "v06_quantize_int8").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q should be zero-exchange:\n$p")
    }
  }

  test("t14/t15 cap and shard rollups stay within their expected exchange budget") {
    // t15's shard agg partial-aggregates map-side: one data-sized
    // shuffle. t14 (since the r7 idiom restructure) has two keyed
    // shuffles — the cap path and the map-side-combined totals agg —
    // joined broadcast; under GraftExtensions the cap path's shuffle
    // carries only ~k rows per (source, map task) via TopKPerKey.
    Seq("t15_corpus_shard" -> 1, "t14_source_cap" -> 2).foreach { case (q, want) =>
      val p = planOf(q)
      val n = "(?<!Broadcast|Reused)Exchange".r.findAllIn(p).size
      assert(n == want, s"$q should have exactly $want shuffle exchange(s), got $n:\n$p")
    }
  }

  test("o06c/o06d gated queries plan as TopKPerKey in their tie-aware modes") {
    Seq("o06c_topk_rank_ties" -> "rank",
        "o06d_topk_dense_rank" -> "dense_rank").foreach { case (q, mode) =>
      val p = planOf(q)
      assert("TopKPerKey".r.findAllIn(p).size == 2,
        s"$q: expected partial+final TopKPerKey phases:\n$p")
      assert(p.contains(mode), s"$q: exec should print its $mode mode:\n${p.take(3000)}")
      assert(!p.contains("Window "), s"$q must not fall back to a window:\n$p")
    }
  }

  test("t26b per-source weighted sampling plans through the TopKPerKey heap") {
    // the per-key E-S cut must be the k-bounded partial+final heap (the
    // shuffle carries <= k rows per (source, map task)), not a full
    // window sort of the corpus — and this is the operator's only gate
    // under a float (double) order column
    val p = planOf("t26b_weighted_sample_per_key")
    assert("TopKPerKey".r.findAllIn(p).size == 2,
      s"expected partial+final TopKPerKey phases:\n$p")
    assert(!p.contains("Window "), s"t26b must not fall back to a window:\n$p")
  }

  test("t24/t25 tokenize the corpus once: plans read only the checkpointed stage") {
    // the N/df/avgdl (t24) and st/gw/gt (t25) branches prune different
    // columns into the shared token subtree, so exchange reuse can't
    // dedupe them; the eager localCheckpoint is what keeps the corpus
    // scan count at one. A parquet scan in these plans means a branch
    // escaped the checkpoint and re-tokenizes the corpus.
    Seq("t24_bm25_scoring", "t25_source_drift").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Scan parquet"),
        s"$q re-reads the corpus instead of the checkpointed stage:\n${p.take(3000)}")
    }
  }

  test("t18 ranks through the TopKPerKey heap operator, not a window sort") {
    val p = planOf("t18_tfidf_topterms")
    assert("TopKPerKey".r.findAllIn(p).size == 2,
      s"expected partial+final TopKPerKey phases:\n$p")
    assert(!p.contains("Window "), s"t18's rank step must not be a window:\n$p")
  }

  test("v10's retrieval arms are TakeOrderedAndProject — the corpus is never globally sorted") {
    val p = planOf("v10_rrf_hybrid")
    // both arms bound to top-20 via the heap operator; the only sorts
    // left are the rank windows' single-partition sorts over the
    // post-LIMIT 20-row frames. A range-partitioned exchange would
    // mean an arm globally sorts its whole input before the LIMIT —
    // the shape that dies at 100 TB.
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("rangepartitioning"),
      s"global sort exchange in v10's plan:\n${p.take(3000)}")
  }

  test("v08 broadcasts the probed query set; candidate scoring never shuffles the corpus twice") {
    val p = planOf("v08_ivf_pq")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("j12's salted join is a shuffled hash join, and t17b's tf stage has no token shuffle") {
    val pj = planOf("j12_salted_skew_join")
    assert(pj.contains("ShuffledHashJoin"), pj.take(3000))
    // t17b: the only exchanges left are the model-join/groupBy ones over
    // (doc, token) pairs — the per-occurrence token exchange is gone, so
    // the plan must contain token_freqs and NO exchange between the scan
    // and the first generate
    val pt = planOf("t17b_unigram_logprob_native")
    assert(pt.contains("token_freqs"), pt.take(3000))
  }

  test("t20 evaluates each quality metric once and scans the corpus once") {
    val p = planOf("t20_corpus_pipeline")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 parquet scan, got $scans:\n${p.take(2000)}")
    // the inlined-filter disease: predicate pushdown re-splitting the
    // text per conjunct shows up as multiple copies of the metric
    // expressions. r18: the cascade runs on the t16b NATIVE
    // token_stats/gram_stats pair (one text pass each; codegen CSE
    // dedups the struct-field references), so the pin counts those —
    // and the interpreted HOF form must be GONE.
    Seq("token_stats\\(", "gram_stats\\(").foreach { m =>
      val evals = m.r.findAllIn(p).size
      assert(evals == 1, s"expected $m once, got $evals:\n${p.take(2000)}")
    }
    assert(!p.contains("aggregate(transform("),
      s"the interpreted HOF metric form is back:\n${p.take(2000)}")
  }

  test("t16b and t17b run their native expressions") {
    assert(planOf("t16b_quality_gate_native").contains("gram_stats"))
    assert(planOf("t16b_quality_gate_native").contains("token_stats"))
  }

  test("v09 geoAnn assigns cells map-side: the corpus never shuffles " +
      "before the broadcast probe join") {
    val ann = graft.queries.Retrieve(graft.queries.Retrieve.Cells(1))
      .serve(spark, sf)
    val p = ann.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // one BroadcastHashJoin on cell (probes side broadcast), and the
    // ONLY shuffle Exchange is the top-3 window's qid partitioning —
    // the centroid-literal argmax keeps the assignment in the scan
    // projection, so the full-corpus (cell, embedding) frame reaches
    // the join without ever moving
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"assignment must not shuffle the corpus:\n${p.take(3000)}")
    assert(p.contains("hashpartitioning(qid"),
      s"the one exchange must be the per-query rank window:\n${p.take(3000)}")
  }

  test("v12 PQ serving scores map-side: the corpus reaches the " +
      "broadcast ADC join as codes, never shuffling") {
    val p = planOf("v12_pq_adc").split("== Initial Plan ==")(0)
    // codebook training ran during construction (bounded 1024-double
    // collect); the SERVING plan must be scan → code projection →
    // BroadcastHashJoin (LUT side broadcast) → per-query rank window.
    // The only shuffle Exchange allowed is that window's qid partition.
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"encode must not shuffle the corpus:\n${p.take(3000)}")
    assert(p.contains("hashpartitioning(qid"),
      s"the one exchange must be the per-query rank window:\n${p.take(3000)}")
  }

  test("v13 IVFADC+R: the corpus never shuffles — every exchange is a " +
      "per-query (qid) rank window") {
    val rr = graft.queries.VectorOps.IvfAdcR.serve(spark, sf)
    val p = rr.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // tier 1 (cell route) and tier 2 (ADC shortlist) are map-side
    // expressions + a broadcast join; tier 3 re-ranks a broadcast
    // shortlist against the corpus scan. The only shuffles allowed
    // anywhere are the two per-query rank windows.
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val ex = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(ex.nonEmpty && ex.forall(_ == "qid"),
      s"only qid rank-window exchanges allowed, got $ex:\n${p.take(3000)}")
  }

  test("v14/v14b kNN graph: pair cut runs through the TopKPerKey heap " +
      "and only cell + per-point exchanges appear, at both k's") {
    Seq(8, 25).foreach { k =>
      val g = graft.queries.VectorOps.knnGraph(spark, sf, kCells = k)
      val p = g.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // the heap operator must survive into the physical plan — a
      // row_number window here would re-shuffle every in-cell pair
      // instead of <=3 rows per point
      assert(p.contains("TopKPerKey"), p.take(3000))
      // cell assignment is a map-side centroid-literal expression, so
      // the only exchanges are the cell-keyed self-join and the final
      // 3n-row per-point rank
      val ex = "Exchange hashpartitioning\\((\\w+)".r
        .findAllMatchIn(p).map(_.group(1)).toSet
      assert(ex.subsetOf(Set("cell", "a_id")),
        s"k=$k: only cell/a_id exchanges allowed, got $ex:\n${p.take(3000)}")
    }
  }

  test("v16 batch serving: both per-query cuts are TopKPerKey heaps and " +
      "no exchange carries the raw pair stream") {
    val g = graft.queries.VectorOps.ivfAdcBatchServe(spark, sf,
      nprobe = 2, r = 25)
    val p = g.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // shortlist top-25 and re-rank top-3 each plan partial+final heap
    // phases; a row_number window on either cut would re-shuffle the
    // whole |corpus| x cell-size ADC pair stream by qid
    assert("TopKPerKey".r.findAllIn(p).size == 4,
      s"expected 2x partial+final TopKPerKey phases:\n${p.take(3000)}")
    // every shuffle is keyed on cell (the co-partitioned ADC join at
    // scale), qid (heap cut / re-rank side) or cid (re-rank side) —
    // never on the un-cut pair stream's full column set; at this SF
    // the planner broadcasts the small sides (unhinted — at 100 TB
    // size estimates turn these into the cell/cid shuffles)
    val ex = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(ex.subsetOf(Set("cell", "qid", "cid")),
      s"only cell/qid/cid exchanges allowed, got $ex:\n${p.take(3000)}")
  }

  test("PQ codebook training aggregates map-side: one explode + one " +
      "grouped agg, no join, no window") {
    // the map-side rewrite's contract: assignment is codebook-literal
    // expressions (pqCodeCol over the collected seeds), so the whole
    // Lloyd update is scan → projection → explode → hash aggregate —
    // a join or window here means the old per-(vec, sub) assignment
    // chain crept back
    val e = graft.sources.Tables.embeddings(spark, sf)
    val seedCb = Array.fill(8, 16, 8)(0.5)
    val p = graft.queries.VectorOps.pqTrainAgg(e, seedCb)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"training must not join:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"training must not window:\n${p.take(3000)}")
    assert(p.contains("Generate") && p.contains("HashAggregate"),
      p.take(2000))
  }

  test("no query plans an unpartitioned window outside documented bounded sites") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // Bounded-by-construction exemption: GlobalRank's offsets window runs
    // over the per-partition COUNT table (≤ `partitions` rows, bounded by
    // config not data) — recognizable by its `__pid` child column. The
    // other allowed sites: w08's documented nation-bounded rank, and
    // v10's two fusion-arm ranks, which run over post-LIMIT frames
    // (≤20 rows by construction — bounded by k, not data).
    def bounded(w: LWindow): Boolean = w.child.output.exists(_.name == "__pid")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !bounded(w) => w
      }.nonEmpty
    }
    assert(offenders == Seq("v10_rrf_hybrid", "w08_rank"),
      s"unpartitioned Window in: $offenders")
  }

  test("no query in SparkEntry plans a cartesian product") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      planOf(name).contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }
}
