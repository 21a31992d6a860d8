package graft.tools

import org.apache.spark.sql.functions._

import graft.queries.{TrainedIndex, VectorOps, Walk}

/** Recall/touches sweep for v17's graph-navigation serving: runs the
  * shared [[graft.queries.Walk]] (one copy with the gates) over a
  * (beam, hops) grid and prints recall@3 against the brute-force
  * truth plus wall time — the evidence behind the gate's pinned
  * operating point, the GraphAnn analogue of IvfProbe's nprobe table
  * (IvfProbe was removed; re-run it from commit c8a8826).
  *
  * Usage:
  *   graft.tools.GraphAnnAb <sfDir> [beams] [hops] [degrees] [adc|-]
  *                          [kCells] [entries] [refine] [shortlist]
  *   beams/hops/degrees/entries/refine/shortlist are comma lists
  *   (e.g. 4,8 2,3 8,16 2,8); a literal 5th arg `adc` switches to
  *   v19's PQ-compassed walk (`-` keeps the exact walk; `vam`,
  *   `vamadc` and `vamconv` run over the alpha-pruned graph, `vamconv`
  *   being the exact walk with its stop hop printed — every walk stops
  *   at its fixed point, so `hops` is a cap); the 6th arg
  *   sets the graph-build cell count (default 8 — pass the
  *   sqrt(n)-scaled k to measure the v17b geometry); the 7th sweeps
  *   the entry-medoid count (default 2 — the v17c multi-entry lever);
  *   the 8th sweeps the refinement cell-union width (default 0 = walk
  *   only; >0 adds the v17d refined tail; with `adc` it is the
  *   code-compassed v21 form); the 9th sweeps v21's exact-rerank
  *   shortlist R (default 0 = beam; adc+refine only — it is what
  *   produced the gated R curve).
  */
object GraphAnnAb {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val beams = (if (args.length > 1) args(1) else "4,8")
      .split(",").map(_.trim.toInt).toSeq
    val hopsList = (if (args.length > 2) args(2) else "2,3")
      .split(",").map(_.trim.toInt).toSeq
    val degrees = (if (args.length > 3) args(3) else "8")
      .split(",").map(_.trim.toInt).toSeq
    // 5th arg: `-` = v17 exact walk; `adc` = v19's PQ compass;
    // `vam` / `vamadc` / `vamconv` = the walks over the alpha-pruned
    // Vamana graph (VERDICT r14 #3's A/B axis)
    val mode = if (args.length > 4) args(4) else "-"
    val adc = mode == "adc" || mode == "vamadc"
    val vamana = mode.startsWith("vam")
    val kCells = if (args.length > 5) args(5).toInt else 8
    val entriesList = (if (args.length > 6) args(6) else "2")
      .split(",").map(_.trim.toInt).toSeq
    val refineList = (if (args.length > 7) args(7) else "0")
      .split(",").map(_.trim.toInt).toSeq
    val shortlistList = (if (args.length > 8) args(8) else "0")
      .split(",").map(_.trim.toInt).toSeq // 0 = beam; adc+refine only
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val truth = VectorOps.Truth.serve(spark, sfDir).localCheckpoint(true)
    for (g <- degrees; b <- beams; h <- hopsList; ent <- entriesList;
         ref <- refineList;
         // the shortlist knob only exists on the adc+refine walk —
         // sweeping it in the other modes would re-run one identical
         // config per value and print rows that LOOK like a measured
         // R curve; collapse the dead axis to a single labeled-0 row
         sl <- (if (adc && ref > 0) shortlistList else Seq(0))) {
      val t0 = System.nanoTime()
      val (edges, f0) =
        if (vamana) Walk.vamanaGraphAndEntry(spark, sfDir, degree = g,
          kCells = kCells, entries = ent)
        else Walk.hubGraphAndEntry(spark, sfDir, degree = g,
          kCells = kCells, entries = ent)
      val walk = Walk(
        if (adc) Walk.Adc(TrainedIndex.codes(spark, sfDir)) else Walk.Exact,
        beam = b, maxHops = h,
        tail = if (ref > 0) Walk.Refined(kCells, ref,
          shortlist = if (sl > 0) sl else b) else Walk.NoTail)
      val served = walk.serve(spark, sfDir, edges, f0)
      val rec = VectorOps.recallOf(truth, served.top3)
        .agg(sum(col("n_hit")).as("hit"), sum(col("n_truth")).as("tot"))
        .collect()(0)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"graph_ann mode=$mode%-6s k=$kCells%-3d degree=$g%-3d " +
        f"beam=$b%-3d hops=$h%-2d " +
        f"entries=$ent%-2d refine=$ref%-2d shortlist=$sl%-3d recall@3=" +
        f"${rec.getLong(0)}%3d/${rec.getLong(1)}%d  wall=$secs%7.2f s" +
        (if (mode == "vamconv") f"  stop=${served.stop}%d" else ""))
    }
    spark.stop()
  }
}
