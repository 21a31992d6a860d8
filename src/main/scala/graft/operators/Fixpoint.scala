package graft.operators

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}

/** The one fixed-point loop of the iterative graph kernels (PageRank,
  * ConnectedComponents, LabelPropagation). A kernel supplies its
  * prelude, its rounds as a plan transform and its probe; the loop owns
  * the rest:
  *
  *  - BATCHING: `perAction` rounds are planned into one frame and cut by
  *    ONE eager localCheckpoint, read by at most one probe job. A plain
  *    persist is not enough for iterative DataFrames — the logical plan
  *    doubles per round and the planner itself OOMs around a dozen
  *    rounds — but two rounds of lineage plan fine (r18). The last batch
  *    runs only the rounds left, so no round past the budget is computed.
  *  - STORAGE: a local checkpoint's blocks ARE its data and
  *    Dataset.unpersist does not free them ([[Lineage]]). After each
  *    batch every frame cut earlier in the loop that the new state no
  *    longer reads is freed; when the [[Fixpoint.apply]] scope ends,
  *    every frame it cut is freed except those backing its result.
  *  - STOPPING: the probe reads the checkpointed frame and names the
  *    round of the batch at which the fixed point was reached. A spent
  *    budget is reported, and [[Fixpoint.Result.orThrow]] turns it into
  *    the named [[Fixpoint.Unconverged]] error — a silently truncated
  *    result would be indistinguishable from a converged one.
  *
  * Each kernel's schedule is a measured constant of that kernel, not a
  * caller option.
  */
final class Fixpoint private {
  import Fixpoint._

  private val cuts = ArrayBuffer.empty[DataFrame]

  /** Eagerly checkpoints `df` inside this scope, its size estimate
    * capped ([[org.apache.spark.sql.GraftPlanBridge.capSizeEstimate]]). */
  def cut(df: DataFrame): DataFrame = {
    val c = GraftPlanBridge.capSizeEstimate(df.localCheckpoint(true))
    cuts += c
    c
  }

  /** Runs up to `maxRounds` rounds from `init`, `perAction` per cut.
    * @param batch  plans `k` rounds from a state into one frame (no action)
    * @param probe  reads (previous state, cut frame, k): Some(j) once
    *               round j of the batch reached the fixed point
    * @param settle the state after round j of a cut frame */
  def loop(init: DataFrame, maxRounds: Int, perAction: Int,
      batch: (DataFrame, Int) => DataFrame,
      probe: (DataFrame, DataFrame, Int) => Option[Int] = (_, _, _) => None,
      settle: (DataFrame, Int) => DataFrame = (f, _) => f): Result = {
    val from = cuts.length
    var state = init
    var rounds = 0
    while (rounds < maxRounds) {
      val k = math.min(perAction, maxRounds - rounds)
      val frame = cut(batch(state, k))
      val stop = probe(state, frame, k)
      val j = stop.getOrElse(k)
      state = settle(frame, j)
      rounds += j
      release(from, state)
      if (stop.isDefined) return Result(state, rounds, stopped = true)
    }
    Result(state, rounds, stopped = false)
  }

  /** Exactly `rounds` applications of `step`, with no probe. */
  def bounded(init: DataFrame, rounds: Int, perAction: Int)(
      step: DataFrame => DataFrame): DataFrame =
    loop(init, rounds, perAction,
      (s, k) => Iterator.iterate(s)(step).drop(k).next()).state

  /** Frees the frames cut since index `from` that `keep` does not read. */
  private def release(from: Int, keep: DataFrame): Unit = {
    val live = Option(keep).fold(Set.empty[Int])(Lineage.rdds(_).map(_.id).toSet)
    val dead = cuts.drop(from).filterNot(c => Lineage.rdds(c).forall(r => live(r.id)))
    dead.foreach(Lineage.free)
    cuts --= dead
  }
}

object Fixpoint {

  /** The state a loop ended on, the rounds it executed, and whether
    * the probe stopped it (false: the budget ran out). */
  final case class Result(state: DataFrame, rounds: Int, stopped: Boolean) {
    def orThrow(what: String): Result =
      if (stopped) this else throw new Unconverged(what, rounds)
  }

  final class Unconverged(what: String, rounds: Int)
      extends IllegalStateException(
        s"$what did not reach its fixed point within $rounds rounds; " +
          "raise the round budget")

  /** Runs `body` in a scope that frees, on return or throw, every frame
    * cut in it except those backing the returned frame. */
  def apply(body: Fixpoint => DataFrame): DataFrame = {
    val fp = new Fixpoint
    var out: DataFrame = null
    try { out = body(fp); out }
    finally fp.release(0, out)
  }
}
