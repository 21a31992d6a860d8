package graft.tools

import org.apache.spark.sql.functions._

import graft.queries.{TrainedIndex, VectorOps}
import graft.sources.Tables

/** Boundary-margin probe for the cross-engine float surfaces (the
  * review-r14 latent-divergence class): every gate that ranks on a
  * DOUBLE — cell assignment, medoid pick, hub degree cut, brute-force
  * truth top-3, micro-unit LUT rounding — is only deterministic
  * cross-engine because the id tiebreak resolves EXACT equality; a
  * near-tie inside the two engines' summation-reorder error (~1e-14
  * relative at dim=64) would resolve oppositely. This tool measures
  * the MINIMUM margin at each boundary on a fixture, so "the fixtures
  * carry no near-ties" is a recorded number instead of a hope — the
  * KmProbe discipline (which brackets the v05d convergence stop)
  * applied to every other float boundary the oracles ride.
  *
  * Margins measured (min over the fixture):
  *  - assign<k>:  best-vs-second centroid dot gap per corpus vector
  *                (computed with the engine's own nearestCells kernel)
  *  - medoid<k>:  per-cell best-vs-second member dot gap
  *  - hub<k>/<d>: per-src in-cell cosine gap at the degree cut
  *  - truth:      per-query cosine gap at the rank-3/4 boundary
  *  - lut:        distance of |query-subspace dot|*1e6 from the .5
  *                rounding boundary (the one discretization in the
  *                integer-ADC tier)
  *
  * Usage: graft.tools.MarginProbe <sfDir> [kCells list, default 8,25]
  */
object MarginProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val ks = (if (args.length > 1) args(1) else "8,25")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    val e = Tables.embeddings(spark, sfDir)
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    for (k <- ks) {
      val cent = TrainedIndex.centroids(spark, sfDir, k)
      // assignment margin via the ENGINE's own ranking kernel
      val nc2 = VectorOps.nearestCells(cent, "embedding", 2)
      val am = e.select(
          (element_at(nc2, 1).getField("dot") -
            element_at(nc2, 2).getField("dot")).as("g"))
        .agg(min(col("g"))).collect()(0).getDouble(0)
      println(f"assign$k%-3d min_gap=$am%.3e")

      // medoid margin: per cell, best-vs-second member dot to centroid
      val byCell = vecs.toSeq.groupBy { case (_, v) =>
        cent.indices.maxBy(i => (dot(v, cent(i)), -i))
      }
      val mm = byCell.values.flatMap { members =>
        val d = members.map { case (_, v) =>
          dot(v, cent(cent.indices.maxBy(i => (dot(v, cent(i)), -i))))
        }.toSeq.sorted(Ordering[Double].reverse)
        if (d.size >= 2) Some(d(0) - d(1)) else None
      }.minOption // ADVICE r14: every cell may have <2 members
      println(f"medoid$k%-3d min_gap=" +
        mm.fold("n/a (no cell has 2 members)")(m => f"$m%.3e"))

      // hub degree cut: per src, in-cell cosine gap at rank degree
      val degree = 16
      val hm = byCell.values.flatMap { members =>
        members.flatMap { case (src, sv) =>
          val cs = members.collect { case (cid, cv) if cid != src =>
            cos(sv, cv) }.sorted(Ordering[Double].reverse)
          if (cs.size > degree) Some(cs(degree - 1) - cs(degree))
          else None
        }
      }
      println(f"hub$k%-3d/deg$degree min_gap=" +
        (if (hm.isEmpty) "n/a (no cell exceeds degree)"
         else f"${hm.min}%.3e"))
    }

    // truth rank-3/4 boundary per query
    val qids = vecs.keys.filter(_ < 20).toSeq.sorted
    val tm = qids.flatMap { q =>
      val cs = vecs.collect { case (c, v) if c != q => cos(vecs(q), v) }
        .toSeq.sorted(Ordering[Double].reverse)
      if (cs.size >= 4) Some(cs(2) - cs(3)) else None
    }.minOption // ADVICE r14: corpus may hold <4 non-query vectors
    println("truth    min_rank3_gap=" +
      tm.fold("n/a (<4 non-query vectors)")(m => f"$m%.3e"))

    // LUT micro-unit rounding distance over (query, sub, code)
    val cb = TrainedIndex.codebook(spark, sfDir)
    val lm = (for {
      q <- qids; sub <- cb.indices; code <- cb(sub).indices
    } yield {
      val qv = vecs(q)
      var s = 0.0
      for (p <- cb(sub)(code).indices)
        s += qv(sub * cb(sub)(code).length + p) * cb(sub)(code)(p)
      val y = math.abs(s * 1e6)
      math.abs(y - math.floor(y) - 0.5)
    }).minOption // ADVICE r15: no query vectors (or an empty codebook) is a report, not a crash
    println("lut      min_half_dist=" +
      lm.fold("n/a (no query vectors)")(m => f"$m%.3e (micro-units)"))
    spark.stop()
  }
}
