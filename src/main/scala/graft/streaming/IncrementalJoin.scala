package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental JOIN-view maintenance (IVM): keep
  * `view = fact LEFT JOIN latest(dim)` current under micro-batches of
  * fact APPENDS and dim UPSERTS, with per-batch work proportional to
  * the DELTAS — never to the view.
  *
  *  - The dim state is latest-per-key (key-cardinality sized; higher
  *    batch id wins), republished whole per batch on the
  *    [[BatchState]] snapshot layout under `dim/` (superseded versions
  *    are swept like IncrementalAggregate's) — it is the small side, a
  *    full rewrite is O(|dim keys|).
  *  - The view is hash-bucketed on the join key
  *    (`pmod(hash(key), buckets)` partition column) and maintained via
  *    DYNAMIC partition overwrite: a batch rewrites ONLY the buckets
  *    its deltas touch. Untouched bucket directories are not read and
  *    not written (IncrementalJoinSpec pins their files byte-stable).
  *  - Touched-bucket rebuild: existing rows whose fact id is NOT in
  *    the fact delta survive; survivors whose key IS in the dim delta
  *    get their dim columns re-joined (this also heals fact rows that
  *    arrived BEFORE their dim key — the left-join null fills in when
  *    the dim upsert lands); delta facts left-join the fresh dim state
  *    and append. Every step is a pure function of (previous view,
  *    batch deltas), so a crash-redelivered batch rebuilds the same
  *    buckets to the same bytes — idempotent without a write-ahead
  *    log. The `_applied` marker only short-circuits no-op replays.
  *
  * At 100 TB: the view never moves through a single writer, bucket
  * count bounds rewrite granularity, and a batch's cost is
  * O(|Δfact| + |Δdim| + size of touched buckets) — the standard
  * delta-view tradeoff (more buckets → finer rewrites, more files).
  */
object IncrementalJoin {

  final case class Config(
      factId: String,    // unique fact row id (dedup anchor)
      key: String,       // join key, present in fact and dim
      buckets: Int = 8)

  private def dimDir(dir: String) = dir + "/dim"
  private def viewDir(dir: String) = dir + "/view"

  private[graft] def lastApplied(dir: String): Long =
    BatchState.lastApplied(dir, "_applied")

  /** The maintained view (fact columns + dim columns, left-join
    * semantics; `__bucket` partition column dropped). */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(viewDir(dir)).drop("__bucket")

  /** Apply one micro-batch. `factDelta` columns: factId, key, fact
    * payload. `dimDelta` columns: key, dim payload (≤1 row per key per
    * batch — pre-dedup upstream if needed). Either side may be empty. */
  def applyBatch(factDelta: DataFrame, dimDelta: DataFrame, batchId: Long,
      cfg: Config, dir: String): Unit =
    BatchState.step(dir, batchId, "_applied") { _ =>
      val spark = factDelta.sparkSession

      // 1. which buckets does this batch touch, and is the dim delta
      // empty? ONE probe answers both (r18 — the knownIsEmpty
      // one-evaluation discipline): the bucket scan already reads both
      // deltas, so tagging each side's rows makes the separate
      // dimDelta.isEmpty job redundant. <= 2 x cfg.buckets rows.
      def bucketOf(c: org.apache.spark.sql.Column) =
        pmod(hash(c), lit(cfg.buckets))
      val probed = factDelta.select(bucketOf(col(cfg.key)).as("b"),
          lit(false).as("isdim"))
        .union(dimDelta.select(bucketOf(col(cfg.key)).as("b"),
          lit(true).as("isdim")))
        .distinct().collect()
      val touched = probed.map(_.getInt(0)).distinct.toSeq
      val dimDeltaEmpty = !probed.exists(_.getBoolean(1))

      // 2. merge dim state: higher batch wins per key. Publish only when
      // there is dim state to publish: a first batch with an empty
      // dimDelta would otherwise write a zero-part-file parquet dir that
      // a later read cannot infer a schema from. The published parquet
      // then serves as this batch's dim state (read-after-write breaks
      // lineage, one materialization — r18); only the never-published
      // empty-first-batch arm keeps the in-plan frame (delta-sized). A
      // dim version already published for this id (a crash before the
      // `_applied` flip) is reused as is.
      val taggedDelta = dimDelta.withColumn("__b", lit(batchId))
      val dimState =
        if (BatchState.lastApplied(dimDir(dir)) >= 0 || !dimDeltaEmpty) {
          BatchState.snapshot(dimDir(dir), batchId) { (_, prev, out) =>
            val merged = prev.fold(taggedDelta) { p =>
              val w = Window.partitionBy(col(cfg.key)).orderBy(col("__b").desc)
              spark.read.parquet(p).unionByName(taggedDelta)
                .withColumn("__rn", row_number().over(w))
                .filter(col("__rn") === 1).drop("__rn")
            }
            merged.write.mode(SaveMode.Overwrite).parquet(out)
            Nil
          }
          spark.read.parquet(BatchState.version(dimDir(dir),
            BatchState.lastApplied(dimDir(dir))))
        } else taggedDelta
      val dimOut = dimState.drop("__b")
      val dimCols = dimOut.columns.filterNot(_ == cfg.key).toSeq

      // 3. rebuild touched buckets only
      if (touched.nonEmpty) {
        val factB = factDelta.withColumn("__bucket", bucketOf(col(cfg.key)))
        val newRows = factB.join(broadcast(dimOut), Seq(cfg.key), "left")
        val viewExists = {
          val root = new java.io.File(viewDir(dir))
          root.isDirectory && root.listFiles() != null &&
            root.listFiles().exists(f => f.isDirectory && f.getName.startsWith("__bucket="))
        }
        val rebuilt = if (!viewExists) newRows else {
          val oldTouched = spark.read.parquet(viewDir(dir))
            .filter(col("__bucket").isin(touched: _*))
          val survivors = oldTouched.join(
            broadcast(factDelta.select(col(cfg.factId))), Seq(cfg.factId),
            "left_anti")
          val dimKeys = broadcast(dimDelta.select(col(cfg.key)))
          val keep = survivors.join(dimKeys, Seq(cfg.key), "left_anti")
          val refreshed = survivors.join(dimKeys, Seq(cfg.key), "left_semi")
            .drop(dimCols: _*)
            .join(broadcast(dimOut), Seq(cfg.key), "left")
          keep.unionByName(refreshed).unionByName(newRows)
        }
        // materialize BEFORE the overwrite: the plan reads the same
        // partitions it is about to replace
        val out = rebuilt.localCheckpoint(true)
        out.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic") // per-write, not session
          .partitionBy("__bucket").parquet(viewDir(dir))
      }
      Nil
    }
}
