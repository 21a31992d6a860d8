package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental benchmark decontamination — the streaming form of t28's
  * GPT-3/PaLM 8-gram scan, and the shape a continuously-ingesting
  * training crawl actually needs: the EVAL set is small and static
  * (benchmarks change rarely), the TRAIN side streams in, and the
  * question "which eval documents share a gram with anything we have
  * ingested so far" must stay answerable after every batch without
  * rescanning history.
  *
  * Key property that makes this streamable with delta-sized work:
  * contamination is MONOTONE. A (doc, gram) hit can only ever be
  * added — train data is append-only, so no batch can un-contaminate
  * an eval gram. The state is therefore just the accumulated distinct
  * set of (eval doc, gram) hits, and each batch contributes
  *   evalGrams ⋉ batchGrams   (a semi-join against the DELTA only),
  * minus hits already recorded. History-sized train data is never
  * touched again — the per-batch join is |eval| x |batch|, not
  * |eval| x |corpus|.
  *
  * State layout (a [[BatchState]] log, as in IncrementalDedup —
  * append-only deltas, atomic-pointer marker, per-batch I/O
  * delta-sized):
  *   dir/hits/b<batchId>/ — parquet of (doc_id, g) hits FIRST found
  *                          in that batch (disjoint across batches)
  *   dir/_current         — marker (lastAppliedBatchId)
  * Redelivery after a crash re-overwrites the same hits directory and
  * re-publishes the same marker (idempotent); the final state is
  * independent of how the train stream was batched because the union
  * of disjoint first-found deltas is the plain semi-join hit set.
  *
  * Scale: the eval side is benchmark-sized (thousands of docs) — it
  * broadcasts. The only state-sized work is the anti-join of a
  * batch's candidate hits against prior hits, and hits are bounded by
  * |eval grams|, NOT by train volume — the state is eval-bounded
  * forever, the same "small side fixed" asymmetry the batch t28
  * exploits. At 100 TB the grams would be 48-bit hashes (t28b's
  * form); the protocol is byte-compatible — `g` is just a column.
  */
object StreamingDecontamination {

  def start(trainRows: DataFrame, evalGrams: DataFrame, gramCol: String,
      stateDir: String, checkpointDir: String): StreamingQuery =
    BatchState.start(trainRows, checkpointDir)(
      applyBatch(_, evalGrams, gramCol, _, stateDir))

  private def hits(dir: String) = BatchState.Log(dir, "hits")

  /** Fold one train micro-batch: record every (eval doc, gram) pair
    * whose gram occurs in this batch and was not already a hit.
    * `evalGrams` must carry (doc_id, gramCol) and be the same static
    * frame across the state's life; `batch` needs only gramCol.
    * Idempotent on redelivery. */
  def applyBatch(batch: DataFrame, evalGrams: DataFrame, gramCol: String,
      batchId: Long, dir: String): Unit =
    BatchState.step(dir, batchId) { _ =>
      val candidates = evalGrams.select(col("doc_id"), col(gramCol))
        .distinct()
        .join(batch.select(col(gramCol)).distinct(), Seq(gramCol), "left_semi")
      val prior = hits(dir).roots()
      val fresh =
        if (prior.isEmpty) candidates
        else candidates.join(batch.sparkSession.read.parquet(prior: _*),
          Seq("doc_id", gramCol), "left_anti")
      fresh.select(col("doc_id"), col(gramCol))
        .repartition(1) // eval-bounded rows: one footer-bearing file
        .write.mode("overwrite").parquet(hits(dir).batch(batchId))
      Nil
    }

  /** All (doc_id, gram) hits so far — distinct by construction (each
    * batch writes only pairs absent from every earlier delta). */
  def readHits(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(hits(dir).roots(): _*)

  /** The t28-shaped per-eval-doc report from the current state:
    * (doc_id, n_grams, n_contaminated, contaminated) — every eval doc
    * reports, clean ones with a zero count. */
  def report(spark: SparkSession, dir: String, evalGrams: DataFrame,
      gramCol: String): DataFrame = {
    val tot = evalGrams.groupBy(col("doc_id"))
      .agg(countDistinct(col(gramCol)).as("n_grams"))
    val con = readHits(spark, dir).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nc"))
    tot.join(con, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("nc"), lit(0L)).as("n_contaminated"),
        (coalesce(col("nc"), lit(0L)) > 0).as("contaminated"))
  }
}
