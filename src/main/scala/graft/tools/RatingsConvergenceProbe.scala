package graft.tools

import graft.ratings.IterativeRatings

/** Per-sweep max-|Δ| of the iterative ratings solver on the dm10
  * fixture — the dm10d bracketing evidence, extended to the PRODUCTION
  * tolerance (VERDICT r14 #4: gate dm10 at tol=0.01, reference
  * iterative_ratings.py:85-89). A converged-solve gate is only honest
  * if the measured per-sweep deltas BRACKET the tolerance with margin
  * on both sides of the stop (the v05d/dm10d discipline): this prints
  * the full delta sequence so the stop round and its margins are
  * measured, not assumed.
  *
  * Delta_i here (solve at maxIter=i vs maxIter=i-1, both tol<0 so the
  * convergence test never fires) equals the solver's internal maxDelta
  * at sweep i: the loop is deterministic, so run i's first i-1 sweeps
  * are bit-identical to run i-1's.
  *
  * Usage: graft.tools.RatingsConvergenceProbe <sfDir> [maxSweeps]
  */
object RatingsConvergenceProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val maxN = if (args.length > 1) args(1).toInt else 25
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    val games = graft.queries.CarveOutGate.dm10Games(spark, sfDir)
    println(s"fixture=$sfDir teams=" +
      s"${games.map(_.team).distinct.size} obs=${games.size}")
    var prev: Map[Long, (Double, Double)] = null
    for (i <- 0 to maxN) {
      val r = IterativeRatings.solve(games,
        IterativeRatings.Config(maxIter = i, tol = -1.0))
      val cur = r.map(x => x.team -> (x.adjOe, x.adjDe)).toMap
      if (prev != null) {
        val delta = cur.map { case (t, (o, de)) =>
          math.max(math.abs(o - prev(t)._1), math.abs(de - prev(t)._2))
        }.max
        println(f"sweep $i%3d maxDelta=$delta%.17e" +
          (if (delta <= 0.01) "  <= tol 0.01" else ""))
      }
      prev = cur
    }
    spark.stop()
  }
}
