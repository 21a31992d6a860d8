package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DataFrame PageRank — the third join-based graph kernel (with
  * ConnectedComponents and Triangles): rank flows along edges as one
  * join + one aggregation per iteration, all shuffles keyed on the
  * node id, no driver-side graph state.
  *
  * `edges` is interpreted as UNDIRECTED (each edge contributes both
  * directions), matching the co-purchase / co-occurrence graphs the
  * corpus queries build; every node then has out-degree ≥ 1, so there
  * is no dangling-mass term. The update is the standard
  * p' = (1-d) + d·Σ_in p/outdeg (unnormalized form: ranks sum to N,
  * initial rank 1 per node).
  *
  * The iteration count is a CALLER-PINNED parameter, not a
  * convergence loop — the dm10/v05 gating convention: bounded
  * iterations make the computation SQL-replayable and hash-gateable,
  * and production callers pick the usual 10-20. All three forms run on
  * [[Fixpoint]] with TWO rounds per eager checkpoint (r18): the bounded
  * forms cut every second round and after the last.
  */
object PageRank {

  /** Fixed-point integer variant: ranks held in micro-units (1.0 ≡
    * 1,000,000) and every step uses BIGINT arithmetic with truncating
    * division — p' = 150000 + Σ (p_j · 85) div (100 · od_j). No float
    * ever appears, so the result is bit-identical on any engine and
    * any summation order (the t23 integer-milli-weight convention) —
    * this is the HASH-GATED form. Truncation loses < 1 micro-unit per
    * in-edge per round vs the real-valued update (PageRankSpec pins
    * the agreement bound); production callers wanting float ranks use
    * [[run]].
    */
  def runExactMicro(edges: DataFrame, a: String, b: String,
      iters: Int): DataFrame = {
    require(iters >= 0 && iters <= 100, s"iters $iters outside [0, 100]")
    Fixpoint { fp =>
      val (withDeg, ranks) = prelude(fp, edges, a, b, lit(1000000L).as("pm"))
      fp.bounded(ranks, iters, perAction = 2)(microStep(withDeg))
    }
  }

  /** Converged fixed-point variant (the dm10d/v05d early-stop recipe
    * applied to the last bounded-iteration-only kernel): iterate
    * [[runExactMicro]]'s exact BIGINT update until the L-infinity
    * rank delta is <= `tolMicro` micro-units, then return the ranks
    * plus an `iters` column recording the round the convergence TEST
    * stopped at. Because every quantity is an exact integer, the
    * stop decision is bit-deterministic on any engine/partitioning —
    * there is no float tolerance cliff; any tolMicro strictly between
    * the round-K and round-K+1 deltas pins K exactly.
    *
    * Throws if maxIters rounds pass without convergence (the
    * ConnectedComponents unconverged-exit convention) — a silent
    * truncated result would be indistinguishable from a converged
    * one. The per-round delta is a single driver-side scalar (the
    * sanctioned bounded-collect class). */
  def runConvergedMicro(edges: DataFrame, a: String, b: String,
      tolMicro: Long, maxIters: Int): DataFrame = {
    require(maxIters >= 1 && maxIters <= 100,
      s"maxIters $maxIters outside [1, 100]")
    Fixpoint { fp =>
      val (withDeg, ranks) = prelude(fp, edges, a, b, lit(1000000L).as("pm"))
      val step = microStep(withDeg)
      def pm(r: DataFrame, j: Int) = r.select(col("node"), col("pm").as(s"__pm$j"))
      // TWO update rounds ride one checkpoint pass (r18): both rounds'
      // ranks plus the entering ranks land in ONE frame, and a single
      // probe reads both L-inf deltas off the checkpointed blocks.
      // Round k's delta is tested before round k+1's ranks are looked
      // at, so the returned (ranks, iters) equal the round-at-a-time
      // loop's; at worst the final batch computes one value-discarded
      // round past the fixed point.
      val res = fp.loop(ranks, maxIters, perAction = 2,
        batch = { (r, k) =>
          val r1 = step(r)
          val rounds =
            if (k == 2) pm(step(r1), 2).join(pm(r1, 1), Seq("node")) else pm(r1, 1)
          rounds.join(pm(r, 0), Seq("node"))
        },
        probe = { (_, f, k) =>
          val d = (1 to k).map(j =>
            max(abs(col(s"__pm$j") - col(s"__pm${j - 1}"))).as(s"d$j"))
          val row = f.agg(d.head, d.tail: _*).head()
          (1 to k).find(j =>
            (if (row.isNullAt(j - 1)) 0L else row.getLong(j - 1)) <= tolMicro)
        },
        settle = (f, j) => f.select(col("node"), col(s"__pm$j").as("pm"))
      ).orThrow(s"PageRank (L-inf <= $tolMicro micro-units)")
      res.state.withColumn("iters", lit(res.rounds))
    }
  }

  /** @return (node, rank) after exactly `iters` updates, damping `d`. */
  def run(edges: DataFrame, a: String, b: String,
      iters: Int, d: Double = 0.85): DataFrame = {
    require(iters >= 0 && iters <= 100, s"iters $iters outside [0, 100]")
    Fixpoint { fp =>
      val (withDeg, ranks) = prelude(fp, edges, a, b, lit(1.0).as("p"))
      fp.bounded(ranks, iters, perAction = 2)(
        step(withDeg, col("p") / col("od"), m => lit(1.0 - d) + lit(d) * m, "p"))
    }
  }

  /** The directed edge list joined to out-degrees, and the initial
    * (node, rank0) frame — both materialized once. */
  private def prelude(fp: Fixpoint, edges: DataFrame, a: String, b: String,
      rank0: Column): (DataFrame, DataFrame) = {
    val e = edges.select(col(a).as("s"), col(b).as("t"))
      .filter(col("s") =!= col("t"))
      .distinct()
    val dir = fp.cut(e.unionAll(e.select(col("t").as("s"), col("s").as("t"))))
    val outdeg = dir.groupBy(col("s")).agg(count(lit(1)).as("od"))
    (fp.cut(dir.join(outdeg, Seq("s"))),
      fp.cut(outdeg.select(col("s").as("node"), rank0)))
  }

  /** One update round: (node, rank) -> (node, rank). */
  private def step(withDeg: DataFrame, msg: Column, rank: Column => Column,
      name: String)(r: DataFrame): DataFrame = withDeg
    .join(r, col("s") === col("node"))
    .groupBy(col("t"))
    .agg(sum(msg).as("m"))
    .select(col("t").as("node"), rank(col("m")).as(name))

  private def microStep(withDeg: DataFrame): DataFrame => DataFrame =
    step(withDeg, expr("(pm * 85) div (100 * od)"), m => lit(150000L) + m, "pm")
}
