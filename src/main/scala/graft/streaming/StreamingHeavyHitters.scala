package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.HeavyHitters

/** Streaming heavy hitters — the foreachBatch incremental variant of
  * sk04's two-pass batch operator, completing the sketch family's
  * streaming story: a k-counter Misra–Gries summary is maintained
  * ACROSS micro-batches, so "which grams/domains are boilerplate so
  * far" is answerable at any point of an unbounded stream without
  * re-reading history.
  *
  * Why this is sound: MG summaries are mergeable (Agarwal et al.,
  * "Mergeable Summaries") — merging per-batch summaries under the same
  * k-counter bound yields a valid summary of the concatenated stream,
  * with the SAME guarantee (every token with total frequency > N/(k+1)
  * is present). So the accumulated candidate set dominates the batch
  * operator's, and an exact recount over the accumulated token lake
  * against the streamed (candidates, N) reproduces the batch answer
  * hash-for-hash (StreamingHeavyHittersSpec pins this parity on
  * replayed micro-batches).
  *
  * Per batch the work is one treeAggregate over the delta (the MG
  * summary rides the combine tree — no shuffle) plus a ≤k-row state
  * read/merge/publish on the driver; the [[BatchState]] snapshot
  * layout gives exactly-once under foreachBatch redelivery. State is
  * k-bounded forever — the streaming analog of sk04's "shuffle carries
  * ≤k keys" scale property.
  */
object StreamingHeavyHitters {

  final case class State(summary: Map[String, Long], n: Long, k: Int)

  /** Start maintaining MG state at `stateDir` from a streaming frame
    * with token column `tokCol`. */
  def start(tokens: DataFrame, tokCol: String, k: Int,
      stateDir: String, checkpointDir: String): StreamingQuery =
    BatchState.start(tokens, checkpointDir)(
      applyBatch(_, tokCol, _, k, stateDir))

  /** (lastAppliedBatchId, totalN, k); (-1, 0, -1) before the first
    * publish. k is persisted with the marker because it is part of the
    * MG guarantee the state carries — exactOverLake can only promise
    * exactness for denom < k+1, and a caller can't be trusted to
    * remember which k built the state. */
  private[graft] def marker(dir: String): (Long, Long, Int) =
    fields(BatchState.read(dir))

  private def fields(parts: Array[String]): (Long, Long, Int) =
    if (parts.isEmpty) (-1L, 0L, -1)
    else {
      // 2-field markers predate k persistence: fall back to the
      // "unknown k" sentinel (guards relax) instead of crashing a
      // restarted stream on its own state
      val k = if (parts.length > 2) parts(2).toInt else -1
      (parts(0).toLong, parts(1).toLong, k)
    }

  /** The accumulated state: ≤k-entry summary + exact stream length +
    * the k bound it was built under. The summary read is the
    * sanctioned bounded collect (≤k rows). */
  def readState(spark: SparkSession, dir: String): Option[State] = {
    val (applied, n, k) = marker(dir)
    if (applied < 0) None
    else {
      val rows = spark.read.parquet(BatchState.version(dir, applied)).collect()
      Some(State(rows.map(r => r.getString(0) -> r.getLong(1)).toMap, n, k))
    }
  }

  /** Fold one micro-batch into the state. Idempotent on redelivery.
    * k must stay constant across the state's life — merging summaries
    * built under different k bounds voids the MG guarantee. */
  def applyBatch(batch: DataFrame, tokCol: String, batchId: Long, k: Int,
      dir: String): Unit =
    BatchState.snapshot(dir, batchId) { (prior, prev, out) =>
      val (applied, nPrev, kPrev) = fields(prior)
      require(applied < 0 || kPrev < 0 || k == kPrev,
        s"state at $dir was built with k=$kPrev; cannot continue with k=$k")
      val spark = batch.sparkSession
      val (delta, nDelta) = HeavyHitters.summarize(batch, tokCol, k)
      val state = prev.fold(mutable.Map.empty[String, Long])(p =>
        mutable.Map(spark.read.parquet(p).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toIndexedSeq: _*))
      val mergedMap = HeavyHitters.merge(state, delta, k)
      val n = nPrev + nDelta
      import spark.implicits._
      // repartition(1): a ≤k-row state must always leave a footer-bearing
      // part file, even when the merged summary is empty
      mergedMap.toSeq.sortBy(_._1).toDF("token", "cnt")
        .repartition(1)
        .write.mode("overwrite").parquet(out)
      // a legacy (pre-k) state has UNKNOWN history: keep the -1 sentinel
      // instead of stamping the caller's k as if it had governed every
      // earlier merge — that would launder an unverifiable bound into a
      // confidently-claimed one and re-arm exactOverLake's denom guard
      // against a k that never bounded the old merges
      val kOut = if (applied >= 0 && kPrev < 0) -1 else k
      Seq(n.toString, kOut.toString)
    }

  /** Pass 2 against the accumulated token lake: exact recount of the
    * STREAMED candidates, thresholded at streamN/denom — the batch
    * operator's answer, computed without ever re-sketching history.
    * Same denom < k+1 precondition as HeavyHitters.exact, enforced
    * against the k PERSISTED with the state (a caller passing
    * denom >= k+1 would silently get an incomplete set otherwise). */
  def exactOverLake(lake: DataFrame, tokCol: String, dir: String,
      denom: Double): DataFrame = {
    val st = readState(lake.sparkSession, dir)
      .getOrElse(State(Map.empty, 0L, -1))
    require(denom > 0, s"denom $denom must be positive")
    require(st.k < 0 || denom < st.k + 1,
      s"denom $denom outside the MG guarantee window (0, ${st.k + 1}) " +
        s"of the state at $dir (built with k=${st.k})")
    lake.filter(col(tokCol).isInCollection(st.summary.keySet))
      .groupBy(col(tokCol))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= lit(st.n.toDouble / denom))
  }
}
