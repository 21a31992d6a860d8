package graft.tools

import org.apache.spark.sql.functions._

import graft.queries.{Retrieve, VectorOps}
import graft.queries.Retrieve.{Cells, Post, Pre, Pred}

/** Filtered-ANN selectivity sweep (VERDICT r12 #6): for each predicate
  * regime — rare composite key (~0.6%), same-label (~10%, the v18
  * gate point), broad different-label (~90%) — measures recall@3 of
  * the three candidate plans against that regime's own filtered
  * truth:
  *   pre   cell-routed, predicate BELOW the rank (v18's plan)
  *   post  cell-routed, predicate ABOVE the rank (v18b's plan)
  *   exact predicate-first equi-join/scan, no index (v18c's plan)
  * plus the mean eligible candidates per query. Every plan is a
  * [[Retrieve]] configuration. The table is the evidence behind the
  * v18c gate's plan flip: pre-filter starves once
  * eligible-rows-per-probed-cell drops below the rank budget, and
  * pre/post converge as selectivity approaches 1.
  *
  * Usage: graft.tools.FilteredAnnAb <sfDir> [nprobe]
  */
object FilteredAnnAb {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nprobe = if (args.length > 1) args(1).toInt else 2
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    def recall(truth: Retrieve, ann: Retrieve): String = {
      val r = VectorOps.recallOf(truth.serve(spark, sfDir), ann.serve(spark, sfDir))
        .agg(sum(col("n_hit")), sum(col("n_truth"))).collect().head
      s"${r.getLong(0)}/${r.getLong(1)}"
    }

    // the rare regime is the gate's own predicate, so the sweep and
    // v18c can never measure different predicates
    val regimes: Seq[(String, Pred)] = Seq(
      "rare(lab+res16)" -> Retrieve.SameLabelResidue,
      "label(~10%)" -> Retrieve.SameLabel,
      "broad(!=lab ~90%)" -> Pred(col("c_lab") =!= col("q_lab"), "c_lab <> q_lab"))

    println(f"${"regime"}%-18s ${"sel"}%8s ${"elig/q"}%8s " +
      f"${"pre"}%8s ${"post"}%8s ${"exact"}%8s" +
      "   (* = truth by construction, equivalence hash-gated by v18c)")
    val total = Retrieve().candidates(spark, sfDir).count()
    regimes.foreach { case (name, pred) =>
      val truth = Retrieve(filter = Pre(pred))
      val elig = truth.candidates(spark, sfDir).count()
      val pre = recall(truth, Retrieve(Cells(nprobe), Pre(pred)))
      val post = recall(truth, Retrieve(Cells(nprobe), Post(pred)))
      // the predicate-first exact plan IS the truth configuration (the
      // optimiser turns the filter into the join keys, v18c), so
      // re-measuring it would be a tautology burning a pass to print
      // n/n; report the by-construction ceiling instead
      val nTruth = truth.serve(spark, sfDir).count()
      val exact = s"$nTruth/$nTruth*"
      println(f"$name%-18s ${elig.toDouble / total * 100}%7.2f%% " +
        f"${elig / 20.0}%8.1f $pre%8s $post%8s $exact%8s")
    }
    spark.stop()
  }
}
