package graft.tools

/** Generated per-round recall artifact (VERDICT r14 #6): the serving
  * tiers' recall@3 numbers used to live scattered through BENCH_SCALE
  * prose, hand-typed from ad-hoc tool runs — a recall regression was
  * invisible next to the wall-time JSON. This runs the REGISTRY's own
  * recall-emitting gates (every listed query returns recallOf rows:
  * query_id, n_truth, n_hit — the same code path Verify hashes, zero
  * config duplication) over one or more fixture dirs and writes ONE
  * machine-readable JSON file.
  *
  * Usage: graft.tools.RecallReport <outFile> <dir1> [dir2 ...]
  *        [--only name1,name2,...]
  * Default query set: the graph/IVF/refined/maintained serving tiers.
  */
object RecallReport {

  /** The sqrt(n)-scaled / production serving tiers. v17/v19 (the
    * fixed-kCells=8 forms) are deliberately absent: their 10x graph
    * build is the documented quadratic anti-pattern (BENCH_SCALE r12)
    * and costs ~20 min per row — pass them via --only when the
    * fixed-k decay itself is the question. */
  private val DefaultQueries = Seq(
    "v09b_ivf_geo_recall_multiprobe",
    "v17b_graph_ann_scaled",
    "v17c_graph_ann_multientry",
    "v17d_graph_ann_refined",
    "v21_refined_adc_serving",
    "v21b_refined_adc_scaled",
    "v22_vamana_walk_serving",
    "v22b_vamana_adc_serving",
    "v22c_vamana_refined_serving",
    "st19b_maintained_ann_serving_scaled",
    "st19c_maintained_refined_serving",
    "st19d_maintained_vamana_serving")

  def main(args: Array[String]): Unit = {
    val outFile = args(0)
    val onlyIx = args.indexOf("--only")
    val dirs = (if (onlyIx >= 0) args.slice(1, onlyIx) else args.drop(1)).toSeq
    val names =
      if (onlyIx >= 0) args(onlyIx + 1).split(",").toSeq
      else DefaultQueries
    require(dirs.nonEmpty, "need at least one fixture dir")

    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    val registry = graft.SparkEntry.queries

    // ADVICE r15: locale-proof number formatting (f"" honors the
    // default locale — a comma decimal separator is invalid JSON) and
    // escaped strings (dirs/names are caller input).
    def num(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => String.format(java.util.Locale.ROOT, "\\u%04x", Int.box(c.toInt))
        case c => c.toString
      } + "\""

    def runOnce(n: String, d: String): (Long, Long, Double) = {
      val t0 = System.nanoTime()
      val agg = registry(n)(spark, d)
        .selectExpr("sum(n_hit) AS h", "sum(n_truth) AS t")
        .collect()(0)
      val secs = (System.nanoTime() - t0) / 1e9
      // sum over zero rows is NULL (ADVICE r15) — an empty recall
      // frame reports 0/0, not an NPE
      val h = if (agg.isNullAt(0)) 0L else agg.getLong(0)
      val t = if (agg.isNullAt(1)) 0L else agg.getLong(1)
      (h, t, secs)
    }
    // VERDICT r16 #3: cross-tier warm-state pollution — 12 tiers'
    // localCheckpoint blocks and cached frames accumulate in the one
    // block manager, and a late tier's warm serve pays earlier tiers'
    // memory pressure (st19d read 45.4 s in-artifact vs 15.0 s
    // isolated in RECALL_r16). Reset the executor-side state BETWEEN
    // tiers so every row starts from the same clean JVM an isolated
    // `--only` run would see. The artifact-path memos (TrainedIndex /
    // maintained store) are deliberately KEPT — they hold dir strings
    // for on-disk versioned artifacts, and dropping them would force
    // rebuilds, changing what "cold" measures.
    def resetTierState(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
    }
    var anyUnstable = false
    val rows = for (n <- names; d <- dirs) yield {
      resetTierState()
      // VERDICT r15 #7: one-time artifact builds amortize into the
      // FIRST serve (v22's 10x graph build read as 348 s of "query
      // cost" in RECALL_r15) — run each tier twice so the artifact-
      // amortized cold wall and the warm serve wall are separate
      // columns and a build can never masquerade as serve cost.
      val (h, t, cold) = runOnce(n, d)
      val (h2, t2, warm) = runOnce(n, d)
      // ADVICE r16: a warm/cold recall mismatch is the row's finding,
      // not grounds to abort — record both values, keep measuring the
      // remaining tiers, and fail the EXIT CODE at the end so nothing
      // downstream mistakes an unstable artifact for a green one.
      val stable = h == h2 && t == t2
      if (!stable) {
        anyUnstable = true
        println(s"UNSTABLE: $n on $d differs across cold/warm runs: " +
          s"$h/$t vs $h2/$t2")
      }
      println(f"$n%-38s $d%-24s recall@3=$h%3d/$t%d  cold=$cold%7.2f s  warm=$warm%7.2f s")
      s"""{"query":${jstr(n)},"dir":${jstr(d)},"hit":$h,"truth":$t,""" +
        s""""cold_secs":${num(cold)},"warm_secs":${num(warm)},"stable":$stable""" +
        (if (stable) "}" else s""","hit_warm":$h2,"truth_warm":$t2}""")
    }
    val json = "[\n  " + rows.mkString(",\n  ") + "\n]\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      json.getBytes("UTF-8"))
    println(s"wrote $outFile")
    spark.stop()
    if (anyUnstable) sys.exit(1)
  }
}
