package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming weighted sampling without replacement — the foreachBatch
  * form of t26's Efraimidis–Spirakis sampler. E-S is a one-pass scheme
  * BY DESIGN: each row carries a key (u^(1/w), here ln(u)/w with a
  * deterministic md5-derived u), and the weighted sample without
  * replacement is simply the top-k keys. Top-k is exactly mergeable —
  * topK(A ∪ B) = topK(topK(A) ∪ topK(B)) — so the streaming state is
  * the current top-k rows, each batch contributes its own top-k, and
  * the merge is a (≤2k)-row sort on the driver-side-sized state. With
  * t26's deterministic keys the streamed sample is BIT-IDENTICAL to
  * the batch sampler over the same rows (parity spec), and rows can
  * never "come back": once evicted by k better keys a row is gone,
  * exactly as in the batch form.
  *
  * Input contract: a frame with a double `key` column (higher = more
  * likely kept; compute it upstream, e.g. t26's
  * round(ln(u)/w, 12)), a long `id` tiebreak column, and any
  * passthrough payload columns (schema must stay stable across
  * batches). State is k-bounded forever; the [[BatchState]] snapshot
  * layout gives exactly-once under foreachBatch redelivery.
  */
object StreamingWeightedSample {

  def start(rows: DataFrame, k: Int, stateDir: String,
      checkpointDir: String): StreamingQuery =
    BatchState.start(rows, checkpointDir)(applyBatch(_, k, _, stateDir))

  /** (lastAppliedBatchId, k); (-1, -1) before the first publish. k is
    * persisted with the marker because it is part of what the state
    * MEANS: a top-k merged under bound k is only the stream's top-k at
    * that bound — continuing with a larger k would silently claim
    * rows that earlier merges permanently evicted (the same defect
    * class StreamingHeavyHitters guards against). 1-field markers
    * predate k persistence and read as k = -1 (guard relaxes). */
  private[graft] def marker(dir: String): (Long, Int) =
    fields(BatchState.read(dir))

  private def fields(parts: Array[String]): (Long, Int) =
    if (parts.isEmpty) (-1L, -1)
    else (parts(0).toLong, if (parts.length > 1) parts(1).toInt else -1)

  private[graft] def lastApplied(dir: String): Long = marker(dir)._1

  /** The current top-k sample (empty-schema error before first batch —
    * callers gate on a published marker existing, like readDim). */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(BatchState.version(dir, lastApplied(dir)))

  /** Fold one micro-batch into the sample. Idempotent on redelivery.
    * k must stay constant across the state's life — rows outside an
    * earlier, smaller top-k are gone and cannot come back. */
  def applyBatch(batch: DataFrame, k: Int, batchId: Long, dir: String): Unit = {
    require(k > 0)
    BatchState.snapshot(dir, batchId) { (prior, prev, out) =>
      val (applied, kPrev) = fields(prior)
      require(applied < 0 || kPrev < 0 || k == kPrev,
        s"sample state at $dir was built with k=$kPrev; cannot continue with k=$k")
      // batch-side cut is a TakeOrderedAndProject (k-bounded heap, no
      // global sort); the union with prior state is ≤2k rows
      val batchTop = batch.orderBy(col("key").desc, col("id").asc).limit(k)
      val merged = prev.fold(batchTop)(p =>
        batch.sparkSession.read.parquet(p)
          .unionByName(batchTop)
          .orderBy(col("key").desc, col("id").asc).limit(k))
      merged.repartition(1) // ≤k rows: always leave one footer-bearing file
        .write.mode("overwrite").parquet(out)
      // legacy (pre-k) history stays unknown-k — see StreamingHeavyHitters
      val kOut = if (applied >= 0 && kPrev < 0) -1 else k
      Seq(kOut.toString)
    }
  }
}
