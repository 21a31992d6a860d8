package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental exact dedup against HISTORY — the streaming form of
  * d01's content-hash dedup, and the shape a continuously-ingesting
  * corpus actually needs: each arriving batch is deduplicated within
  * itself (first-wins by id) and against every hash ever seen, emits
  * only genuinely new documents, and appends its new hashes to the
  * seen lake. History is never recomputed and never rewritten.
  *
  * State layout (two [[BatchState]] logs; delta-proportional, unlike
  * the k-bounded HH/sample states this one is corpus-hash-sized by
  * nature):
  *   dir/seen/b<batchId>/  — parquet of hashes FIRST seen in that batch
  *   dir/out/b<batchId>/   — parquet of the rows emitted for that batch
  *   dir/_current          — atomic-pointer marker (lastAppliedBatchId)
  * A batch writes only its own two directories, so per-batch I/O is
  * delta-sized; redelivery after a crash re-overwrites the same
  * directories and re-publishes the same marker (idempotent).
  *
  * Scale: the only history-sized work is the anti-join of the delta
  * against the seen lake — a hash-keyed shuffle of hashes, never of
  * documents. THIS implementation writes the seen lake as plain
  * parquet, so both join sides shuffle; at 100 TB the production
  * layout writes it bucketed by hash (LakeIO.saveBucketed — the
  * layout BucketingSpec pins for the t28b semi-join) so the history
  * side is read pre-shuffled and only the delta moves.
  */
object IncrementalDedup {

  private def seen(dir: String) = BatchState.Log(dir, "seen")
  private def out(dir: String) = BatchState.Log(dir, "out")

  def start(rows: DataFrame, idCol: String, hashCol: String,
      stateDir: String, checkpointDir: String): StreamingQuery =
    BatchState.start(rows, checkpointDir)(
      applyBatch(_, idCol, hashCol, _, stateDir))

  /** Fold one micro-batch: emit rows whose hash is new (first-wins by
    * `idCol` within the batch), record their hashes. Idempotent on
    * redelivery. */
  def applyBatch(batch: DataFrame, idCol: String, hashCol: String,
      batchId: Long, dir: String): Unit =
    BatchState.step(dir, batchId) { _ =>
      val spark = batch.sparkSession
      // within-batch first-wins (the d01 min-id convention)
      val w = Window.partitionBy(col(hashCol)).orderBy(col(idCol).asc)
      val batchKeep = batch
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val prior = seen(dir).roots()
      val fresh =
        if (prior.isEmpty) batchKeep
        else batchKeep.join(
          spark.read.parquet(prior: _*).select(col(hashCol)),
          Seq(hashCol), "left_anti")
      // out first, seen second, marker last: a crash between the writes
      // redelivers the batch and overwrites both directories
      val outDir = out(dir).batch(batchId)
      fresh.write.mode("overwrite").parquet(outDir)
      spark.read.parquet(outDir).select(col(hashCol))
        .repartition(1)
        .write.mode("overwrite").parquet(seen(dir).batch(batchId))
      Nil
    }

  /** Everything emitted so far (the deduplicated corpus). */
  def readEmitted(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(out(dir).roots(): _*)
}
