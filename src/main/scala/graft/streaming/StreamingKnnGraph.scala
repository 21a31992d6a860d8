package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming maintenance of the kNN EDGE table — the stored graph
  * v14 builds in batch and v17 serves from, kept current as vectors
  * arrive in micro-batches. The coarse quantizer is FIXED (the
  * StreamingVectorIndex contract: retraining is an index rebuild),
  * the vector lake rides StreamingVectorIndex under `dir/index`, and
  * the edge lists update per batch with DELTA-PROPORTIONAL work:
  *
  *  1. assign the batch map-side (centroid literals, zero shuffle);
  *  2. read back ONLY the batch's cells from the vector lake
  *     (partition-pruned — untouched cells are never scanned);
  *  3. form only the pairs that involve a NEW vector (old x old
  *     pairs were scored when their younger side arrived);
  *  4. merge those pairs against the affected nodes' STORED top-k
  *     lists and re-cut through the TopKPerKey heap.
  *
  * The merge is EXACT, not approximate: per-node top-k is a merge
  * monoid — topk(A ∪ B) = topk(topk(A) ∪ B) under a total order
  * ((cos DESC, neighbor ASC) here) — so by induction the streamed
  * edge table equals the from-scratch cell-local kNN graph over all
  * arrived vectors, independent of batch boundaries. That equality
  * is what the st18 gate hash-checks against v14's batch oracle.
  *
  * State layout (a [[BatchState]] log, as in StreamingVectorIndex):
  *   dir/index/...              — the cell-partitioned vector lake
  *   dir/graph/g<batchId>/cell= — affected cells' NEW edge lists
  *   dir/_current               — atomic-pointer marker
  * A batch rewrites nothing: it appends a new edge root holding only
  * its affected cells, and a reader takes each cell's rows from the
  * NEWEST root containing that cell (per-cell latest-pointer
  * semantics — the w01 latest-per-key shape over roots). Crash
  * redelivery re-overwrites the same g<id> root and republishes the
  * same marker.
  *
  * 100-TB: per-batch pair volume is |new_c| x |cell_c| over the
  * batch's cells only — the same sum(cell^2)/k economics as v14 but
  * paid once per vector lifetime instead of per rebuild; stored
  * lists are k rows per node, so the merge reads k x |affected
  * nodes| rows; compacting many small g-roots is the offline
  * OPTIMIZE pass, not this hot path.
  */
object StreamingKnnGraph {

  private def graph(dir: String) =
    BatchState.Log(dir, "graph", prefix = "g", compacted = "graph/gcompacted_v")

  /** Fold one micro-batch of (id, vector) rows into the graph. */
  def applyBatch(batch: DataFrame, cent: Array[Array[Double]],
      idCol: String, vecCol: String, k: Int, batchId: Long,
      dir: String): Unit =
    BatchState.step(dir, batchId) { _ =>
      val spark = batch.sparkSession
      val newAsg = batch.select(col(idCol).as("vec_id"),
          col(vecCol).as("embedding"))
        .withColumn("cell",
          -element_at(
            graft.queries.VectorOps.nearestCells(cent, "embedding", 1), 1)
            .getField("nc"))
      // the batch's cells: bounded by the centroid count, never by
      // data — the same bounded-collect class as the probe's isin.
      // ONE probe funds both layers' emptiness answer AND the
      // affected-cell list (r17; extends ADVICE r12's one-evaluation
      // rule — `isEmpty` was a second job over the same uncached batch)
      val cells = newAsg.select(col("cell")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val batchIsEmpty = cells.isEmpty
      // the vector lake advances first (its own marker makes this
      // idempotent too); an empty batch still advances both markers.
      // The assignment this probe already computed rides through so the
      // lake write doesn't re-assign a second scan of the batch (r18)
      StreamingVectorIndex.applyBatch(batch, cent, idCol, vecCol,
        batchId, s"$dir/index", knownIsEmpty = Some(batchIsEmpty),
        assignedIn = Some(newAsg.select(col("vec_id").as(idCol),
          col("embedding").as(vecCol), col("cell"))))
      if (!batchIsEmpty) {
        // native codegen dot (plans/DotProduct, r17) — bit-identical to
        // the composed zip_with/aggregate form this path shipped with
        val dot = (a: String, b: String) =>
          graft.plans.DotProduct.ofCols(col(a), col(b))
        // only the affected cells' vectors scan (partition-pruned),
        // flagged by whether they arrived in THIS batch
        val newIds = newAsg.select(col("vec_id")).withColumn("is_new", lit(true))
        val members = StreamingVectorIndex.readIndex(spark, s"$dir/index")
          .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
            col("cell"))
          .filter(col("cell").isin(cells: _*))
          .join(broadcast(newIds), Seq("vec_id"), "left")
          .select(col("cell"), col("vec_id"), col("embedding"),
            coalesce(col("is_new"), lit(false)).as("is_new"),
            sqrt(dot("embedding", "embedding")).as("nrm"))
        val aSide = members.select(col("cell"), col("vec_id").as("a_id"),
          col("embedding").as("ae"), col("nrm").as("na"),
          col("is_new").as("a_new"))
        val bSide = members.select(col("cell"), col("vec_id").as("b_id"),
          col("embedding").as("be"), col("nrm").as("nb"),
          col("is_new").as("b_new"))
        // pairs involving a new vector only: old x old was already
        // merged when its younger side arrived.
        // shuffle_hash FORCES cell partitioning (r17 — the knnGraph/
        // vamana f97f561 class, VERDICT r16 #5): the affected-cell
        // membership sits under the auto-broadcast threshold at fixture
        // scale, and a broadcast join here would stream the
        // |new_c| x |cell_c| pair compute through the lake scan's OWN
        // splits instead of the per-cell exchange the delta-proportional
        // cost model assumes — at 100 TB the build side is
        // cell-occupancy-sized and could never broadcast anyway.
        val pairs = aSide.join(bSide.hint("shuffle_hash"), Seq("cell"))
          .filter(col("a_id") =!= col("b_id"))
          .filter(col("a_new") || col("b_new"))
          .select(col("cell"), col("a_id"), col("b_id"),
            (graft.plans.DotProduct.ofCols(col("ae"), col("be"))
              / (col("na") * col("nb"))).as("cos"))
        // stored lists of the affected cells (absent before the first
        // batch touches a cell); disjoint from `pairs` by construction
        // — stored rows' b side predates this batch
        val cand = readGraph(spark, dir, Some(cells)) match {
          case None => pairs
          case Some(stored) => pairs.unionByName(
            stored.select(col("cell"), col("a_id"), col("b_id"), col("cos")))
        }
        val merged = graft.plans.TopKPerKey.topK(cand, Seq("a_id"),
          Seq(col("cos").desc, col("b_id").asc), k)
        merged.select(col("cell"), col("a_id"), col("b_id"), col("cos"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(graph(dir).batch(batchId))
      }
      Nil
    }

  /** Highest batch id folded into the live compacted graph root
    * (`gcompacted_v<id>`); -1 before the first compaction. */
  def compactedUpTo(dir: String): Long = graph(dir).compactedUpTo

  /** Current edge lists — per cell, the rows of the NEWEST g-root
    * containing that cell (latest-per-key over roots); the compacted
    * root (when present) stands in for every root it folded, stamped
    * at its fold point so later g-roots still win their cells.
    * `cellsOnly` prunes the scan to the given cells' partition
    * directories; None when no graph state exists yet.
    *
    * r17 (guide §1.2/§2.4): latest-per-cell resolves on the DRIVER
    * from file metadata — the exact `newest`-map walk compact()
    * already trusts for the byte-level fold — instead of scanning
    * every live root and resolving per-ROW through a groupBy + a
    * broadcast join. Each read then scans exactly the winning
    * `cell=` directories and nothing else: one LIST per root (the
    * object-store maintenance pattern at scale, where the row-level
    * form read every superseded root's bytes per maintenance batch),
    * zero extra exchange. Row-equal to the row-level form by the
    * applyBatch invariant (a touched cell's whole list lives in its
    * newest root) — StreamingKnnGraphSpec's batch-boundary and
    * compaction contracts pin exactly this equality. */
  def readGraph(spark: SparkSession, dir: String,
      cellsOnly: Option[Seq[Long]] = None): Option[DataFrame] = {
    val live = graph(dir).roots()
    if (live.isEmpty) return None
    // ascending fold: a later root overrides its cells' source (the
    // compact() newest-map logic, shared semantics)
    val newest = scala.collection.mutable.LinkedHashMap.empty[String, String]
    live.foreach { p =>
      BatchState.cellDirs(new java.io.File(p))
        .foreach(cd => newest(cd.getName) = p)
    }
    val wanted: Option[Set[String]] =
      cellsOnly.map(_.map(c => s"cell=$c").toSet)
    // group the winning cell dirs by their root so each root costs one
    // relation (basePath keeps `cell` a partition column)
    val byRoot = newest.toSeq
      .filter { case (cn, _) => wanted.forall(_.contains(cn)) }
      .groupBy(_._2)
    if (byRoot.isEmpty) {
      // no selected cell exists yet: preserve the row-level form's
      // empty-but-schema'd result via an empty read of one live root
      val p0 = live.head
      return Some(spark.read.option("basePath", p0).parquet(p0)
        .filter(lit(false))
        .select(col("cell"), col("a_id"), col("b_id"), col("cos")))
    }
    val parts = byRoot.toSeq.sortBy(_._1).map { case (p, cells) =>
      spark.read.option("basePath", p)
        .parquet(cells.map { case (cn, _) => s"$p/$cn" }.sorted: _*)
    }
    Some(parts.reduce(_ unionByName _)
      .select(col("cell"), col("a_id"), col("b_id"), col("cos")))
  }

  /** The offline OPTIMIZE pass for the edge roots. Because a cell's
    * CURRENT edge list lives wholly in its newest root (applyBatch
    * rewrites a touched cell's whole list), compaction is pure FILE
    * work — no Spark job: for each cell, byte-copy its newest
    * `cell=` directory into a staged root (later roots override
    * earlier per cell), rename to `gcompacted_v<upTo>`, flip the
    * `_compacted` marker, delete the folded roots. Every carried
    * cell is byte-for-byte stable (spec-pinned). Crash-safe by the
    * [[BatchState.Log.compact]] protocol. */
  def compact(dir: String): Unit =
    graph(dir).compact { (old, batches, staged) =>
      // ascending fold order: the old compacted root first, then each
      // later g-root — a later root overrides its cells' source
      val newest = scala.collection.mutable.LinkedHashMap.empty[String, java.io.File]
      (old.toSeq ++ batches).foreach { r =>
        BatchState.cellDirs(r).foreach(cd => newest(cd.getName) = cd)
      }
      newest.foreach { case (cellName, src) =>
        org.apache.commons.io.FileUtils.copyDirectory(
          src, new java.io.File(staged, cellName))
      }
    }
}
