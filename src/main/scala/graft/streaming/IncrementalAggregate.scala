package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Exactly-once incremental aggregate maintenance (SURVEY §2.10 — the
  * "gold table kept current by a stream" shape the reference approximates
  * with its rolling 7-day batch re-pull, orchestrate.py:366-379):
  * each micro-batch's per-key partials merge into a parquet running
  * table via read → union → re-aggregate → write a new version →
  * atomic pointer swap, on the [[BatchState]] snapshot layout
  * (`v<batchId>` per version, `_current` names the live one). A crash
  * before the swap leaves the old version live, and a replayed batch
  * no-ops, so the table never loses or double-counts an applied batch.
  *
  * Scale: the running table is key-cardinality-sized (never
  * event-sized), each micro-batch aggregates map-side before touching
  * it, and raw events are never retained — the merge cost is
  * O(|keys|) per batch at any event volume.
  */
object IncrementalAggregate {

  /** Start maintaining `tableDir` from a streaming frame of raw rows. */
  def start(events: DataFrame, key: String, valueCol: String,
      tableDir: String, checkpointDir: String): StreamingQuery =
    BatchState.start(events, checkpointDir)(
      applyBatch(_, _, key, valueCol, tableDir))

  /** The maintained table: (key, n, total). Safe against a concurrent
    * publish: the superseded version survives one full publish cycle. */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(BatchState.version(tableDir, lastApplied(tableDir)))

  /** Live version; -1 before the first publish. */
  private[graft] def lastApplied(tableDir: String): Long =
    BatchState.lastApplied(tableDir)

  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
      key: String, valueCol: String, tableDir: String): Unit =
    BatchState.snapshot(tableDir, batchId) { (_, prev, out) =>
      val partial = batch.groupBy(col(key))
        .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      val merged = prev.fold(partial)(p =>
        batch.sparkSession.read.parquet(p)
          .unionByName(partial)
          .groupBy(col(key))
          .agg(sum(col("n")).as("n"), sum(col("total")).as("total")))
      merged.write.mode(SaveMode.Overwrite).parquet(out)
      Nil
    }
}
