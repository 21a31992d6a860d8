package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.queries.{TrainedIndex, VectorOps}
import graft.sources.Tables

/** Filtered-ANN selectivity sweep (VERDICT r12 #6): for each predicate
  * regime — rare composite key (~0.6%), same-label (~10%, the v18
  * gate point), broad different-label (~90%) — measures recall@3 of
  * the three candidate plans against that regime's own filtered
  * truth:
  *   pre   cell-routed, predicate BELOW the rank (v18's plan)
  *   post  cell-routed, predicate ABOVE the rank (v18b's plan)
  *   exact predicate-first equi-join/scan, no index (v18c's plan)
  * plus the mean eligible candidates per query. The table is the
  * evidence behind the v18c gate's plan flip: pre-filter starves once
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

    val e = Tables.embeddings(spark, sfDir)
    val cent = TrainedIndex.centroids(spark, sfDir, k = 8)
    // the rare regime's modulus is the gate's own constant, so the
    // sweep and v18c can never measure different predicates
    val mod = VectorOps.RareResidueMod
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("label").as("q_lab"),
        pmod(col("vec_id"), lit(mod)).as("q_res"),
        col("embedding").as("qe"),
        sqrt(VectorOps.dot("embedding", "embedding")).as("nq"))
      .localCheckpoint(true)
    val c = e.select(col("vec_id").as("cid"), col("label").as("c_lab"),
        pmod(col("vec_id"), lit(mod)).as("c_res"),
        col("embedding").as("ce"),
        sqrt(VectorOps.dot("embedding", "embedding")).as("nc"),
        (-element_at(VectorOps.nearestCells(cent, "embedding", 1), 1)
          .getField("nc")).as("cell"))
      .localCheckpoint(true)
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"),
        explode(VectorOps.nearestCells(cent, "embedding", nprobe)).as("pc"))
      .select(col("qid"), (-col("pc.nc")).as("cell"))
      .localCheckpoint(true)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    val cos = VectorOps.dot("qe", "ce") / (col("nq") * col("nc"))

    def truthOf(pred: Column): DataFrame =
      c.join(broadcast(q), col("qid") =!= col("cid"))
        .withColumn("cos", cos).filter(pred)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("cid"))

    def cellRouted(pred: Column, pre: Boolean): DataFrame = {
      val joined = c.join(broadcast(probes.join(q, Seq("qid"))), Seq("cell"))
        .filter(col("cid") =!= col("qid"))
      val ranked = (if (pre) joined.filter(pred) else joined)
        .withColumn("cos", cos)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
      (if (pre) ranked else ranked.filter(pred))
        .select(col("qid"), col("cid"))
    }

    def recall(truth: DataFrame, ann: DataFrame): String = {
      val r = VectorOps.recallOf(truth, ann)
        .agg(sum(col("n_hit")), sum(col("n_truth"))).collect().head
      s"${r.getLong(0)}/${r.getLong(1)}"
    }

    val regimes: Seq[(String, Column)] = Seq(
      "rare(lab+res16)" ->
        (col("c_lab") === col("q_lab") && col("c_res") === col("q_res")),
      "label(~10%)" -> (col("c_lab") === col("q_lab")),
      "broad(!=lab ~90%)" -> (col("c_lab") =!= col("q_lab")))

    println(f"${"regime"}%-18s ${"sel"}%8s ${"elig/q"}%8s " +
      f"${"pre"}%8s ${"post"}%8s ${"exact"}%8s" +
      "   (* = truth by construction, equivalence hash-gated by v18c)")
    regimes.foreach { case (name, pred) =>
      val pairs = c.join(broadcast(q), col("qid") =!= col("cid"))
      val total = pairs.count()
      val elig = pairs.filter(pred).count()
      val truth = truthOf(pred).localCheckpoint(true)
      val pre = recall(truth, cellRouted(pred, pre = true))
      val post = recall(truth, cellRouted(pred, pre = false))
      // the predicate-first exact plan (filter THEN rank) returns the
      // truth rows by plan-equivalence — the v18c gate HASHES that
      // equivalence, so re-measuring it here would be a tautology
      // burning a broadcast-join pass to print n/n; report the
      // by-construction ceiling instead
      val nTruth = truth.count()
      val exact = s"$nTruth/$nTruth*"
      println(f"$name%-18s ${elig.toDouble / total * 100}%7.2f%% " +
        f"${elig / 20.0}%8.1f $pre%8s $post%8s $exact%8s")
    }
    spark.stop()
  }
}
