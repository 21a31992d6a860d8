package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation for community detection (Raghavan,
  * Albert & Kumara 2007), determinized: every node starts labeled with
  * its own id; each round every node adopts the most frequent label
  * among its neighbors, ties broken by SMALLEST label. The async
  * original visits nodes in random order — useless for a gated engine;
  * the synchronous min-tie variant is order-free, and because labels
  * and counts are integers the rounds are bit-deterministic on any
  * engine, partitioning or summation order (the gr02 micro-unit
  * property without needing micro-units).
  *
  * Distributed shape (per round): one node-keyed equi-join of the
  * directed edge list against the n-row label table, one (node, label)
  * keyed count (map-side combined, so hub fan-in never concentrates on
  * one task), one node-partitioned argmax window. No driver-side graph
  * state; both forms run on [[Fixpoint]], which cuts the lineage by
  * eager localCheckpoint (without it round k replays rounds 1..k-1 and
  * the plan grows quadratically). At 100 TB each round is
  * one shuffle of the 2m-row message list plus one of the n-row label
  * table — the same budget as a PageRank round.
  */
object LabelPropagation {

  private val w = Window.partitionBy(col("node"))
    .orderBy(col("n").desc, col("label").asc)

  /** `iters` synchronous rounds over undirected edges (u, v); returns
    * (node, label). Synchronous LP can oscillate on bipartite-ish
    * structures, so production callers pick a bounded iteration count
    * (the dm10/v05 convention) rather than a convergence test. Cut
    * every second round and after the last (r18 — two rounds of
    * lineage plan fine). */
  def run(edges: DataFrame, u: String, v: String, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    Fixpoint { fp =>
      val dir = fp.cut(edges.select(col(u).as("s"), col(v).as("t"))
        .union(edges.select(col(v).as("s"), col(u).as("t"))))
      val labels = dir.select(col("s").as("node")).distinct()
        .withColumn("label", col("node"))
      fp.bounded(labels, iters, perAction = 2)(step(dir))
    }
  }

  /** CONVERGED label propagation — the dm10d/gr02b early-stop recipe
    * applied to LP: iterate a synchronous min-tie round until a round
    * changes ZERO labels, then return (node, label, iters) where
    * `iters` counts the executed rounds (the last one being the
    * all-stable proof round, gr02b's "iters actually run"
    * convention). Because labels are integers the stop test — a
    * changed-row count — is bit-deterministic on any engine,
    * partitioning or summation order: there is no float tolerance
    * cliff to drift across, so a gate can pin the unrolled round
    * count exactly.
    *
    * The update rule adds SELF-VOTE damping (each node counts as its
    * own neighbor — the "include self" option of Raghavan et al.
    * 2007 §III): plain synchronous LP falls into period-2
    * oscillations on bipartite-ish structures and NEVER satisfies a
    * zero-changed test (measured on the co-purchase graph: cycles at
    * round 35 at sf0.01 and round 9 at sf0.1 — measured with the
    * tools/LpProbe main, since removed; it can be re-run from commit
    * dbc2bde), while the self-vote's +1 hysteresis on the current
    * label breaks the flip-flop symmetry (same probe: converges in
    * 5/7/5 rounds at sf0.001/0.01/0.1). Oscillation is still DETECTED
    * exactly — labels equal to those from two rounds ago while
    * differing from the previous round — and throws, as does an
    * un-converged `maxRounds` exit (the ConnectedComponents
    * convention: a silent bail would gate bogus communities). Per-round
    * cost is `run`'s: one edge join + one counted agg + one
    * node-partitioned argmax; the self-loops add n rows to the 2m-row
    * message list.
    */
  def runConverged(edges: DataFrame, u: String, v: String,
      maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    Fixpoint { fp =>
      val undir = edges.select(col(u).as("s"), col(v).as("t"))
        .union(edges.select(col(v).as("s"), col(u).as("t")))
      val dir = fp.cut(undir
        .union(undir.select(col("s")).distinct()
          .select(col("s"), col("s").as("t"))))
      val labels = fp.cut(dir.select(col("s").as("node")).distinct()
        .withColumn("label", col("node")))
      // ONE round per checkpoint (r18): the two-rounds batching of
      // ConnectedComponents/PageRank was measured SLOWER here (gr03b
      // 3.00 -> 3.21 s): LP converges in ~5 rounds at sf0.1 and a batch
      // straddling the fixed point wastes one full round of the
      // kernel's dominant cost (the per-node argmax window), more than
      // the saved checkpoint+probe actions.
      var round = 0
      var lastChanged = -1L
      val res = fp.loop(labels, maxRounds, perAction = 1,
        // the previous label rides the argmax into the SAME checkpoint
        // pass (r17): the changed probe scans the checkpointed blocks
        batch = (l, _) => step(dir)(l)
          .join(l.select(col("node"), col("label").as("__prev")), Seq("node")),
        probe = { (prev, next, _) =>
          round += 1
          val changed = next.filter(col("label") =!= col("__prev")).count()
          // A period-2 cycle flips between states A/B, so every changed
          // count in the cycle equals |A != B| — consecutive counts are
          // EQUAL. Gating the cycle-check job on that necessary
          // condition costs at most one extra round before the throw
          // and skips the job entirely on the converging path. The
          // labels of two rounds ago are the previous frame's __prev.
          if (changed != 0L && changed == lastChanged &&
              next.join(prev.select(col("node"), col("__prev").as("__pp")), Seq("node"))
                .filter(col("label") =!= col("__pp")).count() == 0L)
            throw new IllegalStateException(
              s"label propagation entered a period-2 oscillation at round $round")
          lastChanged = changed
          if (changed == 0L) Some(1) else None
        }
      ).orThrow("label propagation")
      res.state.select(col("node"), col("label")).withColumn("iters", lit(res.rounds))
    }
  }

  /** One synchronous min-tie round: (node, label) -> (node, label). */
  private def step(dir: DataFrame)(l: DataFrame): DataFrame = dir
    .join(l.select(col("node").as("s"), col("label")), Seq("s"))
    .groupBy(col("t").as("node"), col("label"))
    .agg(count(lit(1)).as("n"))
    .withColumn("rn", row_number().over(w))
    .filter(col("rn") === 1)
    .select(col("node"), col("label"))
}
