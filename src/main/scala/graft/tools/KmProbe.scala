package graft.tools

import graft.operators.KMeans

/** One-off probe for the v05d convergence gate: prints the max per-
  * coordinate centroid movement after each Lloyd iteration at the given
  * SF dirs, so the pinned tol provably brackets "stop at exactly 2"
  * with margin on both sides (the dm10d recipe).
  *
  * Delta_i here (fitConverged at maxIter=i vs maxIter=i-1, both tol<0
  * so the convergence test never fires) equals the loop's internal
  * movement at iteration i: the fit is deterministic, so run i's first
  * i-1 iterations are bit-identical to run i-1's.
  *
  * Usage: graft.tools.KmProbe [k] [sfDir ...] — k defaults to 8 (the
  * k-scaled gates, v14b, bracket their own stop-at-2 claim with theirs).
  */
object KmProbe {
  def main(args: Array[String]): Unit = {
    val (k, dirArgs) = args.headOption.filter(a => a.nonEmpty && a.forall(_.isDigit)) match {
      case Some(n) => (n.toInt, args.toSeq.tail)
      case None => (8, args.toSeq)
    }
    val dirs = if (dirArgs.nonEmpty) dirArgs
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    dirs.foreach { d =>
      val emb = graft.sources.Tables.embeddings(spark, d)
      val fits = (0 to 6).map(i =>
        KMeans.fitConverged(spark, emb, k, maxIter = i, tol = -1.0)._2)
      fits.zip(fits.tail).zipWithIndex.foreach { case ((a, b), i) =>
        val delta = a.zip(b).map { case (x, y) =>
          x.zip(y).map { case (p, q) => math.abs(p - q) }.max
        }.max
        println(f"$d iter=${i + 1} delta=$delta%.6f")
      }
    }
    spark.stop()
  }
}
