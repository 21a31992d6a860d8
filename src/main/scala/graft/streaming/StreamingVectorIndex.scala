package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of an IVF (cell-partitioned) vector index —
  * the serving-side continuation of v09's geometric IVF: the coarse
  * quantizer (KMeans centroids, trained offline — the v05d build) is
  * FIXED, and newly-embedded vectors arrive as micro-batches. Each
  * batch is assigned to its nearest-centroid cell MAP-SIDE (per-cell
  * dots over centroid literals, struct-sort argmax — the v09
  * zero-shuffle assignment shape, VectorOps.nearestCells, one copy)
  * and appended to a cell-partitioned lake; a probe then reads only
  * `cell=c` directories (partition pruning — the BucketingSpec IVF
  * layout), exactly like a batch-built index.
  *
  * State layout (a [[BatchState]] log, as in IncrementalDedup):
  *   dir/cells/b<batchId>/cell=<c>/ — the batch's vectors, by cell
  *   dir/_current                    — atomic-pointer marker
  * A batch writes ONLY its own directory (the index is append-only;
  * history is never rewritten), so per-batch I/O is delta-sized, and
  * crash redelivery re-overwrites the same directory and republishes
  * the same marker (idempotent). Cell assignment is a pure per-row
  * function of the fixed centroids, so the final index is independent
  * of batch boundaries — which is what lets the st15 gate hash-match
  * the streamed index against an all-at-once oracle replay.
  *
  * 100-TB: assignment adds no exchange (k×dim centroid literals ride
  * the task the way a broadcast does) and the only writes are the
  * arriving delta. Compacting many small per-batch files into
  * per-cell bucketed files is an offline OPTIMIZE pass over closed
  * batches, not this hot path; centroid RETRAINING is an index
  * rebuild (new dir, atomic pointer swap), never an in-place edit.
  */
object StreamingVectorIndex {

  def start(rows: DataFrame, cent: Array[Array[Double]], idCol: String,
      vecCol: String, stateDir: String, checkpointDir: String): StreamingQuery =
    BatchState.start(rows, checkpointDir)(
      applyBatch(_, cent, idCol, vecCol, _, stateDir))

  private def cells(dir: String) =
    BatchState.Log(dir, "cells", compacted = "compacted_v")

  /** Fold one micro-batch into the index: map-side nearest-centroid
    * assignment, write under dir/cells/b<batchId> partitioned by
    * cell. Idempotent on redelivery.
    *
    * With `codebook` set (the v12 PQ codebook — m*k*subDim driver
    * doubles riding the task as literals), each row additionally
    * encodes to its m PQ codes MAP-SIDE at ingest (c0..c<m-1>
    * columns, VectorOps.pqCodeCol — one copy with the batch encode),
    * so the lake stores the 32-bit serving representation alongside
    * the raw vector and an ADC serve (graft.queries.Retrieve over a
    * Lake corpus) never reads vector bytes outside its shortlist.
    * Codes are a pure per-row function of the FIXED codebook, so
    * batch-boundary independence — and the
    * st17 gate's hash-match against an all-at-once oracle replay —
    * holds exactly as it does for cell assignment; retraining the
    * codebook is an index rebuild (new dir, atomic pointer swap),
    * never an in-place re-encode. */
  def applyBatch(batch: DataFrame, cent: Array[Array[Double]],
      idCol: String, vecCol: String, batchId: Long, dir: String,
      codebook: Option[Array[Array[Array[Double]]]] = None,
      knownIsEmpty: Option[Boolean] = None,
      assignedIn: Option[DataFrame] = None): Unit =
    BatchState.step(dir, batchId) { prior =>
      // schema consistency is validated at WRITE time (ADVICE r11): the
      // codebook arrives per call, and an index dir mixing code-bearing
      // and plain batches would only fail — as an AnalysisException in
      // unionByName — at read/compact time. The index's kind is recorded
      // in the marker's second field on the first batch; a mismatched
      // later batch is a caller bug (adding/retraining codes is an index
      // REBUILD into a new dir + pointer swap, never an in-place mix).
      val kind = if (codebook.isDefined) "codes" else "plain"
      require(prior.length < 2 || prior(1) == kind,
        s"index at $dir holds ${prior(1)} batches but this batch is $kind — " +
          "changing the code layout is a rebuild (new dir), not a mixed append")
      // an empty trigger still advances the marker (so redelivery
      // no-ops) but writes no root — a data-less parquet root would
      // break schema inference for every later read. A caller that has
      // already probed emptiness passes the answer through (ADVICE r12)
      // so the uncached batch isn't re-evaluated.
      if (!knownIsEmpty.getOrElse(batch.isEmpty)) {
        val codeCols = codebook.toSeq.flatMap { cb =>
          (0 until graft.queries.VectorOps.PqM).map(i =>
            graft.queries.VectorOps.pqCodeCol(cb, i, vecCol).as(s"c$i"))
        }
        // a caller that already assigned the batch (StreamingKnnGraph —
        // its affected-cell probe needs the assignment anyway) passes
        // the frame through so this write's plan doesn't re-run the
        // nearest-centroid pass over a second scan of the batch (r18;
        // the knownIsEmpty one-evaluation discipline applied to the
        // assignment). Assignment is a pure per-row function of the
        // FIXED centroids, so both sources are identical by
        // construction; the plain (codes-free) layout only — a
        // code-bearing index still encodes from the raw batch.
        val assigned = assignedIn match {
          case Some(a) if codebook.isEmpty =>
            a.select(col(idCol), col(vecCol), col("cell"))
          case _ =>
            batch.select(col(idCol) +: col(vecCol) +: codeCols: _*)
              .withColumn("cell",
                -element_at(
                  graft.queries.VectorOps.nearestCells(cent, vecCol, 1), 1)
                  .getField("nc"))
        }
        assigned.write.mode("overwrite").partitionBy("cell")
          .parquet(cells(dir).batch(batchId))
      }
      Seq(kind)
    }

  /** The whole index: the current compacted root (if `compact` has
    * run) plus every batch applied after it; `cell` is a partition
    * column in each root, so a `filter(col("cell") === c)` probe
    * prunes to the probed cells' files. Each root gets its own
    * partition discovery (one shared root would make Spark reject the
    * `b<id>` level as a conflicting partition layer) and the union
    * lets the probe's cell filter push into every scan's
    * PartitionFilters. */
  def readIndex(spark: SparkSession, dir: String): DataFrame = {
    val roots = cells(dir).roots()
    require(roots.nonEmpty, s"no index state under $dir " +
      "(no batch has been applied yet, or the directory is not an index)")
    roots.map(p => spark.read.option("basePath", p).parquet(p))
      .reduce(_ unionByName _)
  }

  /** Highest batch id folded into the live compacted root
    * (`compacted_v<id>`); -1 before the first compaction. */
  def compactedUpTo(dir: String): Long = cells(dir).compactedUpTo

  /** The offline OPTIMIZE pass, INCREMENTAL per cell: fold the
    * batches applied since the last compaction into a new
    * cell-partitioned root, Spark-rewriting ONLY the cells those
    * batches touched; every untouched cell's directory is carried
    * into the new root as a byte-for-byte file copy (spec-pinned
    * byte-stability — the st11 untouched-bucket convention). Work per
    * pass is proportional to (old data in touched cells + the new
    * deltas), not to index size, which is what lets a 100-TB lake run
    * the small-file merge continuously: a batch touches few cells, so
    * most of the index is never read, let alone rewritten. (A
    * same-filesystem rename of the untouched dirs would be O(1)
    * instead of a copy; the copy keeps the staging root self-
    * contained so a crash mid-stage can never have moved files OUT
    * of the live root.)
    *
    * Crash-safe by the [[BatchState.Log.compact]] protocol: the new
    * root is staged, renamed to `compacted_v<upTo>` and published by
    * the `_compacted` marker flip before any folded root is deleted. A
    * redelivery of a purged batch id still no-ops on the `_current`
    * marker, which compaction never touches. */
  def compact(spark: SparkSession, dir: String): Unit =
    cells(dir).compact { (oldRoot, newBatchDirs, staged) =>
      val touched = newBatchDirs.flatMap(BatchState.cellDirs).map(_.getName).toSet
      if (touched.nonEmpty) {
        // touched cells: one Spark rewrite over (old root ∩ touched) +
        // the new batch deltas — the cell filter prunes both scans to
        // the touched `cell=` partitions
        val touchedVals = touched.toSeq.map(_.stripPrefix("cell=").toLong)
        val roots = oldRoot.map(_.getPath).toSeq ++ newBatchDirs.map(_.getPath)
        roots.map(p => spark.read.option("basePath", p).parquet(p))
          .reduce(_ unionByName _)
          .filter(col("cell").isin(touchedVals: _*))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(staged.getPath)
      } else Files.createDirectories(staged.toPath)
      // untouched cells: byte-for-byte carry-over from the old root
      oldRoot.foreach { or =>
        BatchState.cellDirs(or).filterNot(f => touched(f.getName)).foreach { f =>
          org.apache.commons.io.FileUtils.copyDirectory(
            f, new java.io.File(staged, f.getName))
        }
      }
    }
}
