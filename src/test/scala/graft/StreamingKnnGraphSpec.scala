package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.StreamingKnnGraph

/** Streaming kNN-graph maintenance: exact batch-boundary independence
  * (the top-k merge monoid), redelivery idempotence, delta-sized
  * writes (untouched cells never rewritten), and empty-batch marker
  * semantics. */
class StreamingKnnGraphSpec extends SparkSpec {

  // two well-separated unit clusters on axes 0 and 1: cells are
  // unambiguous for any centroid seed on the same axes
  private val cent = Array(
    Array(1.0, 0.0, 0.0, 0.0),
    Array(0.0, 1.0, 0.0, 0.0))

  /** id -> cluster-0/1 vector with a tiny id-dependent wobble so
    * cosines are distinct and the top-k order is strict. */
  private def vecs(ids: Seq[Long]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = ids.map { i =>
      val c = (i % 2).toInt
      val base = Array.fill(4)(0.001f * (1 + (i % 7)))
      base(c) = 1.0f
      org.apache.spark.sql.Row(i, base.toSeq)
    }
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
  }

  private def edgeSet(dir: String): Set[(Long, Long)] =
    StreamingKnnGraph.readGraph(spark, dir).get
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("batch-boundary independence: 3-batch replay equals one-shot") {
    val ids = 0L until 30L
    val d1 = Files.createTempDirectory("knng_oneshot_").toString
    StreamingKnnGraph.applyBatch(vecs(ids), cent,
      "vec_id", "embedding", k = 3, 0L, d1)
    val d3 = Files.createTempDirectory("knng_batched_").toString
    Seq(0L, 1L, 2L).foreach { b =>
      StreamingKnnGraph.applyBatch(vecs(ids.filter(_ % 3 == b)), cent,
        "vec_id", "embedding", k = 3, b, d3)
    }
    assert(edgeSet(d1) == edgeSet(d3))
    assert(edgeSet(d1).nonEmpty)
  }

  test("redelivery of an applied batch is a no-op") {
    val dir = Files.createTempDirectory("knng_redeliver_").toString
    StreamingKnnGraph.applyBatch(vecs(0L until 12L), cent,
      "vec_id", "embedding", k = 3, 0L, dir)
    val before = edgeSet(dir)
    // same batch id, DIFFERENT (poisoned) payload: must be ignored
    StreamingKnnGraph.applyBatch(vecs(100L until 112L), cent,
      "vec_id", "embedding", k = 3, 0L, dir)
    assert(edgeSet(dir) == before)
  }

  test("a batch touching one cell neither scans nor rewrites the " +
      "other cell's edge root") {
    val dir = Files.createTempDirectory("knng_delta_").toString
    StreamingKnnGraph.applyBatch(vecs(0L until 12L), cent,
      "vec_id", "embedding", k = 3, 0L, dir)
    // cluster-0 vectors only (even ids): cell 1 is untouched
    StreamingKnnGraph.applyBatch(vecs(Seq(20L, 22L, 24L)), cent,
      "vec_id", "embedding", k = 3, 1L, dir)
    val g1 = new java.io.File(s"$dir/graph/g1")
    val cellsWritten = g1.listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cell=")).toSet
    assert(cellsWritten.size == 1, s"expected 1 cell dir, got $cellsWritten")
    // the untouched cell's current rows still come from g0
    val odd = StreamingKnnGraph.readGraph(spark, dir).get
      .filter(col("a_id") % 2 === 1)
    assert(odd.count() > 0)
    assert(odd.filter(col("b_id") % 2 === 0).count() == 0,
      "cluster-1 nodes must only neighbor cluster-1 nodes")
  }

  test("compaction preserves the edge set, keeps untouched cells " +
      "byte-stable, and later batches keep merging correctly") {
    val dir = Files.createTempDirectory("knng_compact_").toString
    StreamingKnnGraph.applyBatch(vecs(0L until 12L), cent,
      "vec_id", "embedding", k = 3, 0L, dir)
    // batch 1 touches only cluster-0's cell; cluster-1's cell dir in
    // g0 is the byte-stability candidate
    StreamingKnnGraph.applyBatch(vecs(Seq(20L, 22L)), cent,
      "vec_id", "embedding", k = 3, 1L, dir)
    val before = edgeSet(dir)
    val untouchedCell = new java.io.File(s"$dir/graph/g0").listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filterNot(new java.io.File(s"$dir/graph/g1").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet).head
    def bytesOf(root: String, cell: String): Seq[(String, Long)] =
      new java.io.File(root, cell).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map(f => (f.getName, f.length())).toSeq
    val pre = bytesOf(s"$dir/graph/g0", untouchedCell)
    StreamingKnnGraph.compact(dir)
    assert(StreamingKnnGraph.compactedUpTo(dir) == 1L)
    assert(edgeSet(dir) == before)
    assert(!new java.io.File(s"$dir/graph/g0").exists(),
      "folded roots must be cleaned up")
    assert(bytesOf(s"$dir/graph/gcompacted_v1", untouchedCell) == pre,
      "untouched cell must carry over byte-for-byte")
    // merging continues against the compacted root
    StreamingKnnGraph.applyBatch(vecs(Seq(30L, 31L)), cent,
      "vec_id", "embedding", k = 3, 2L, dir)
    val oneShot = Files.createTempDirectory("knng_compact_ref_").toString
    StreamingKnnGraph.applyBatch(
      vecs((0L until 12L) ++ Seq(20L, 22L, 30L, 31L)), cent,
      "vec_id", "embedding", k = 3, 0L, oneShot)
    assert(edgeSet(dir) == edgeSet(oneShot))
  }

  test("a crash between root rename and marker flip is invisible and " +
      "healed by the re-run") {
    val dir = Files.createTempDirectory("knng_crash_").toString
    StreamingKnnGraph.applyBatch(vecs(0L until 12L), cent,
      "vec_id", "embedding", k = 3, 0L, dir)
    val before = edgeSet(dir)
    // simulate the crash window: the staged root was renamed to its
    // live name but the _compacted marker never flipped
    val orphan = new java.io.File(s"$dir/graph/gcompacted_v0")
    orphan.mkdirs()
    new java.io.File(orphan, "junk").createNewFile()
    assert(StreamingKnnGraph.compactedUpTo(dir) == -1L)
    assert(edgeSet(dir) == before, "readers must not resolve the orphan")
    StreamingKnnGraph.compact(dir) // re-run replaces the orphan
    assert(StreamingKnnGraph.compactedUpTo(dir) == 0L)
    assert(edgeSet(dir) == before)
  }

  test("a batch append changes the served lists only via the new " +
      "vectors — the maintain->serve stability contract st19 rides") {
    val dir = Files.createTempDirectory("knng_append_").toString
    StreamingKnnGraph.applyBatch(vecs(0L until 20L), cent,
      "vec_id", "embedding", k = 3, 0L, dir)
    val before = edgeSet(dir)
    val newIds = Seq(40L, 41L, 42L, 43L)
    StreamingKnnGraph.applyBatch(vecs(newIds), cent,
      "vec_id", "embedding", k = 3, 1L, dir)
    val after = edgeSet(dir)
    val isNew = newIds.toSet
    val added = after diff before
    val removed = before diff after
    assert(added.nonEmpty)
    // every appearing edge involves a new vector (merge candidates
    // for an old node are its stored list + new-vector pairs only)
    assert(added.forall { case (a, b) => isNew(a) || isNew(b) },
      s"old-only edges appeared: ${added.filterNot { case (a, b) =>
        isNew(a) || isNew(b) }}")
    // an old node loses a stored neighbor only by displacement from a
    // new vector — never by reshuffling among old neighbors
    removed.groupBy(_._1).foreach { case (a, lost) =>
      assert(!isNew(a))
      val gainedNew = added.count { case (x, b) => x == a && isNew(b) }
      assert(gainedNew >= lost.size,
        s"node $a lost ${lost.size} edges but gained only $gainedNew " +
          "new-vector edges")
    }
  }

  test("empty batch advances the marker and writes no edge root") {
    val dir = Files.createTempDirectory("knng_empty_").toString
    StreamingKnnGraph.applyBatch(vecs(0L until 8L), cent,
      "vec_id", "embedding", k = 3, 0L, dir)
    StreamingKnnGraph.applyBatch(vecs(Nil), cent,
      "vec_id", "embedding", k = 3, 1L, dir)
    assert(!new java.io.File(s"$dir/graph/g1").exists())
    assert(graft.streaming.BatchState.lastApplied(dir) == 1L)
    assert(edgeSet(dir).nonEmpty) // g0 still serves
  }
}
