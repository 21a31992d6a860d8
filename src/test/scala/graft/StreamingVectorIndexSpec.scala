package graft

import org.apache.spark.sql.functions._

import graft.queries.Retrieve
import graft.streaming.{BatchState, StreamingVectorIndex}

/** Streaming IVF index maintenance: batch-boundary independence
  * (streamed index == all-at-once assignment), append-only delta
  * writes with idempotent redelivery, and cell-partition pruning on
  * the probe path. */
class StreamingVectorIndexSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-svidx").toString

  private def cleanup(d: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))

  // two well-separated 2-d centroids: x-axis sign decides the cell
  private val cent = Array(Array(1.0, 0.0), Array(-1.0, 0.0))

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("streamed index equals the all-at-once assignment") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    try {
      val rows = Seq(
        (1L, vec(0.9, 0.1)), (2L, vec(-0.8, 0.2)),
        (3L, vec(0.7, -0.3)), (4L, vec(-0.6, -0.4)),
        (5L, vec(0.5, 0.5)))
      // three batches with different boundaries than id order
      val batches = Seq(Seq(rows(0), rows(3)), Seq(rows(2)),
        Seq(rows(1), rows(4)))
      batches.zipWithIndex.foreach { case (b, i) =>
        StreamingVectorIndex.applyBatch(
          b.toDF("vec_id", "embedding"), cent, "vec_id", "embedding",
          i.toLong, dir)
      }
      val got = StreamingVectorIndex.readIndex(s, dir)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // x > 0 → cell 0, x < 0 → cell 1 (max dot, tie impossible here)
      assert(got == Set((1L, 0L), (2L, 1L), (3L, 0L), (4L, 1L), (5L, 0L)))
    } finally cleanup(dir)
  }

  test("redelivery no-ops and earlier batches are never rewritten") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    try {
      StreamingVectorIndex.applyBatch(
        Seq((1L, vec(0.9, 0.1))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 0L, dir)
      val b0 = new java.io.File(s"$dir/cells/b0")
      val stamp0 = b0.lastModified()
      StreamingVectorIndex.applyBatch(
        Seq((2L, vec(-0.9, 0.1))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 1L, dir)
      // redelivered batch 1 (and a stale batch 0) must be no-ops
      StreamingVectorIndex.applyBatch(
        Seq((9L, vec(1.0, 0.0))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 1L, dir)
      StreamingVectorIndex.applyBatch(
        Seq((9L, vec(1.0, 0.0))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 0L, dir)
      assert(BatchState.lastApplied(dir) == 1L)
      assert(b0.lastModified() == stamp0)
      val ids = StreamingVectorIndex.readIndex(s, dir)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L))
      // an empty trigger advances the marker but writes no root —
      // and the index stays readable
      StreamingVectorIndex.applyBatch(
        Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 2L, dir)
      assert(BatchState.lastApplied(dir) == 2L)
      assert(!new java.io.File(s"$dir/cells/b2").exists())
      val after = StreamingVectorIndex.readIndex(s, dir)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(after == Set(1L, 2L))
    } finally cleanup(dir)
  }

  test("compaction folds batch roots into one, keeps content, purges") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    try {
      StreamingVectorIndex.applyBatch(
        Seq((1L, vec(0.9, 0.1)), (2L, vec(-0.8, 0.2)))
          .toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 0L, dir)
      StreamingVectorIndex.applyBatch(
        Seq((3L, vec(0.7, -0.3))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 1L, dir)
      val before = StreamingVectorIndex.readIndex(s, dir)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      StreamingVectorIndex.compact(s, dir)
      assert(StreamingVectorIndex.compactedUpTo(dir) == 1L)
      // batch dirs purged, one compacted root serves the same rows
      assert(!new java.io.File(s"$dir/cells/b0").exists())
      assert(!new java.io.File(s"$dir/cells/b1").exists())
      val after = StreamingVectorIndex.readIndex(s, dir)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == before)
      // a batch arriving after compaction appends beside the root
      StreamingVectorIndex.applyBatch(
        Seq((4L, vec(-0.6, -0.4))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 2L, dir)
      val withNew = StreamingVectorIndex.readIndex(s, dir)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(withNew == Set(1L, 2L, 3L, 4L))
      // redelivery of a purged batch id still no-ops on _current
      StreamingVectorIndex.applyBatch(
        Seq((9L, vec(1.0, 0.0))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 0L, dir)
      assert(!new java.io.File(s"$dir/cells/b0").exists())
      // second compaction folds the compacted root + the new batch
      StreamingVectorIndex.compact(s, dir)
      assert(StreamingVectorIndex.compactedUpTo(dir) == 2L)
      val again = StreamingVectorIndex.readIndex(s, dir)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(again == Set(1L, 2L, 3L, 4L))
    } finally cleanup(dir)
  }

  private def dirHashes(d: java.io.File): Map[String, String] =
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.isFile).map { f =>
        f.getName -> java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
      }.toMap

  test("incremental compaction: untouched cells are byte-stable") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    try {
      // batch 0 populates both cells; first compaction writes v0
      StreamingVectorIndex.applyBatch(
        Seq((1L, vec(0.9, 0.1)), (2L, vec(-0.8, 0.2)),
          (3L, vec(-0.7, -0.1))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 0L, dir)
      StreamingVectorIndex.compact(s, dir)
      val v0cell1 = dirHashes(new java.io.File(s"$dir/compacted_v0/cell=1"))
      assert(v0cell1.nonEmpty)
      // batch 1 touches ONLY cell 0 (x > 0)
      StreamingVectorIndex.applyBatch(
        Seq((4L, vec(0.6, -0.2))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 1L, dir)
      StreamingVectorIndex.compact(s, dir)
      assert(StreamingVectorIndex.compactedUpTo(dir) == 1L)
      // untouched cell=1 carried over byte-for-byte, file for file
      val v1cell1 = dirHashes(new java.io.File(s"$dir/compacted_v1/cell=1"))
      assert(v1cell1 == v0cell1)
      // touched cell=0 was rewritten and now holds the new row too
      val got = StreamingVectorIndex.readIndex(s, dir)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 0L), (2L, 1L), (3L, 1L), (4L, 0L)))
      // empty-delta compaction (marker advanced, no rows): content
      // carries over and every cell is untouched
      StreamingVectorIndex.applyBatch(
        Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 2L, dir)
      StreamingVectorIndex.compact(s, dir)
      assert(StreamingVectorIndex.compactedUpTo(dir) == 2L)
      val v2cell1 = dirHashes(new java.io.File(s"$dir/compacted_v2/cell=1"))
      assert(v2cell1 == v0cell1)
      val after = StreamingVectorIndex.readIndex(s, dir)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      assert(after == Set(1L, 2L, 3L, 4L))
    } finally cleanup(dir)
  }

  test("real stream wiring via MemoryStream assigns and appends") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = tmp()
    val ckpt = tmp()
    try {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val q = StreamingVectorIndex.start(
        mem.toDF().toDF("vec_id", "embedding"), cent, "vec_id",
        "embedding", dir, ckpt)
      try {
        mem.addData((1L, vec(0.9, 0.1)), (2L, vec(-0.8, 0.2)))
        q.processAllAvailable()
        mem.addData((3L, vec(0.7, -0.3)))
        q.processAllAvailable()
      } finally q.stop()
      val got = StreamingVectorIndex.readIndex(s, dir)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 0L), (2L, 1L), (3L, 0L)))
    } finally { cleanup(dir); cleanup(ckpt) }
  }

  test("probe over the streamed index matches the batch-built geoAnn") {
    val s = spark
    val d = "/root/testdata/sf0.001"
    val dir = tmp()
    try {
      val e = graft.sources.Tables.embeddings(s, d)
      val (_, kcent, _) = graft.operators.KMeans.fitConverged(
        s, e, k = 8, maxIter = 25, tol = 0.12)
      (0 until 3).foreach { b =>
        StreamingVectorIndex.applyBatch(
          e.filter(pmod(col("vec_id"), lit(3)) === b)
            .select(col("vec_id"), col("embedding")),
          kcent, "vec_id", "embedding", b.toLong, dir)
      }
      // compaction must not change what a probe serves
      StreamingVectorIndex.compact(s, dir)
      val served = Retrieve(Retrieve.Cells(1, cent = Some(kcent)),
          corpus = Retrieve.Lake(dir)).serve(s, d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = Retrieve(Retrieve.Cells(1)).serve(s, d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(served == batch)
    } finally cleanup(dir)
  }

  test("PQ probe over the streamed code index matches the batch IVFADC+R") {
    val s = spark
    val d = "/root/testdata/sf0.001"
    val dir = tmp()
    try {
      val e = graft.sources.Tables.embeddings(s, d)
      val (_, kcent, _) = graft.operators.KMeans.fitConverged(
        s, e, k = 8, maxIter = 25, tol = 0.12)
      val cb = graft.queries.VectorOps.pqCodebook(s, d)
      (0 until 3).foreach { b =>
        StreamingVectorIndex.applyBatch(
          e.filter(pmod(col("vec_id"), lit(3)) === b)
            .select(col("vec_id"), col("embedding")),
          kcent, "vec_id", "embedding", b.toLong, dir, Some(cb))
      }
      // codes must survive the per-cell compaction unchanged
      StreamingVectorIndex.compact(s, dir)
      val probed = Retrieve(Retrieve.Cells(2, cent = Some(kcent)),
        scorer = Retrieve.Adc(Some(cb)), rerank = Some(25),
        corpus = Retrieve.Lake(dir)).serve(s, d)
      val served = probed.select("qid", "cid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.queries.VectorOps.IvfAdcR.serve(s, d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(served == batch)
      // the shortlist scan reads the stored codes, never the wide
      // vector column (the byte economics the codes exist for)
      val scans = probed.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("ReadSchema")).toSeq
      val codeScans = scans.filter(_.contains("c0"))
      assert(codeScans.nonEmpty, scans.mkString("\n"))
      assert(codeScans.forall(!_.contains("embedding")),
        codeScans.mkString("\n"))
    } finally cleanup(dir)
  }

  test("property: any batch split (incl. empty batches) equals direct assignment") {
    val s = spark
    import s.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val params = Gen.Parameters.default
    def sample[A](g: Gen[A], seed: Long): A =
      g(params, Seed(seed)).getOrElse(sys.error("gen failed"))
    val genCase = for {
      n <- Gen.choose(1, 12)
      vecs <- Gen.listOfN(n,
        Gen.zip(Gen.choose(-1.0, 1.0), Gen.choose(-1.0, 1.0)))
      nBatches <- Gen.choose(1, 4)
      assign <- Gen.listOfN(n, Gen.choose(0, nBatches - 1))
    } yield (vecs, nBatches, assign)
    (1 to 8).foreach { i =>
      val (vecs, nBatches, whichBatch) = sample(genCase, i.toLong * 104729)
      val rows = vecs.zipWithIndex.map { case ((x, y), j) =>
        (j.toLong, vec(x, y))
      }
      val dir = tmp()
      try {
        (0 until nBatches).foreach { b =>
          val part = rows.zip(whichBatch).collect {
            case (r, w) if w == b => r
          }
          StreamingVectorIndex.applyBatch(
            part.toDF("vec_id", "embedding"), cent, "vec_id",
            "embedding", b.toLong, dir)
        }
        val got = StreamingVectorIndex.readIndex(s, dir)
          .select(col("vec_id"), col("cell").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // driver-computed truth: argmax dot, ties to the lowest cell
        val want = rows.map { case (id, v) =>
          val dots = cent.map(c =>
            c.zip(v.map(_.toDouble)).map { case (a, b) => a * b }.sum)
          (id, dots.zipWithIndex.maxBy { case (dt, ci) => (dt, -ci) }._2.toLong)
        }.toSet
        assert(got == want, s"seed case $i: $got != $want")
      } finally cleanup(dir)
    }
  }

  test("a cell probe prunes to the probed cell's partitions") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    try {
      StreamingVectorIndex.applyBatch(
        Seq((1L, vec(0.9, 0.1)), (2L, vec(-0.8, 0.2)),
          (3L, vec(0.7, -0.3))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 0L, dir)
      val probe = StreamingVectorIndex.readIndex(s, dir)
        .filter(col("cell") === 0)
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), plan.take(2000))
      val files = probe.select(input_file_name()).distinct()
        .collect().map(_.getString(0))
      assert(files.nonEmpty && files.forall(_.contains("cell=0")),
        files.mkString("\n"))
    } finally cleanup(dir)
  }

  test("a crash mid-compaction is invisible to probes and the re-run heals") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    try {
      def rows() = StreamingVectorIndex.readIndex(s, dir)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      StreamingVectorIndex.applyBatch(
        Seq((1L, vec(0.9, 0.1)), (2L, vec(-0.8, 0.2)))
          .toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 0L, dir)
      StreamingVectorIndex.compact(s, dir)
      StreamingVectorIndex.applyBatch(
        Seq((3L, vec(0.7, -0.3))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 1L, dir)
      val live = rows()
      assert(live == Set((1L, 0L), (2L, 1L), (3L, 0L)))

      // crash window A: the next compaction died while WRITING the
      // staging dir (possibly torn content) — readers resolve only
      // compacted_v<marker>, so the staging name is unreachable
      val staging = new java.io.File(s"$dir/compacted_v1__staging")
      Seq((99L, vec(1.0, 0.0), 0L)).toDF("vec_id", "embedding", "cell")
        .write.partitionBy("cell").parquet(staging.getPath)
      assert(rows() == live)
      // the re-run discards the torn staging and compacts cleanly
      StreamingVectorIndex.compact(s, dir)
      assert(StreamingVectorIndex.compactedUpTo(dir) == 1L)
      assert(!staging.exists())
      assert(rows() == live)

      // crash window B: a compaction died between the staged→live
      // RENAME and the `_compacted` marker flip — the renamed dir
      // exists but no reader resolves it while the marker lags; plant
      // a sentinel row inside to prove it is never read
      StreamingVectorIndex.applyBatch(
        Seq((4L, vec(-0.6, -0.4))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 2L, dir)
      val live2 = rows()
      Seq((99L, vec(1.0, 0.0), 0L)).toDF("vec_id", "embedding", "cell")
        .write.partitionBy("cell")
        .parquet(s"$dir/compacted_v2") // marker still at 1
      assert(StreamingVectorIndex.compactedUpTo(dir) == 1L)
      assert(rows() == live2, "unpublished rename leaked into reads")
      // the re-run replaces the unpublished leftover wholesale
      StreamingVectorIndex.compact(s, dir)
      assert(StreamingVectorIndex.compactedUpTo(dir) == 2L)
      assert(rows() == live2)
      assert(!rows().exists(_._1 == 99L))
    } finally cleanup(dir)
  }

  test("mixing plain and code-bearing batches is rejected at write time") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    try {
      // 2-d vectors → one PQ subspace of dim 2, identity-ish codebook
      val cb = Array(Array(Array(1.0, 0.0), Array(-1.0, 0.0)))
      StreamingVectorIndex.applyBatch(
        Seq((1L, vec(0.9, 0.1))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 0L, dir)
      val e = intercept[IllegalArgumentException] {
        StreamingVectorIndex.applyBatch(
          Seq((2L, vec(-0.8, 0.2))).toDF("vec_id", "embedding"),
          cent, "vec_id", "embedding", 1L, dir, Some(cb))
      }
      assert(e.getMessage.contains("rebuild"))
      // redelivery of an already-applied id no-ops BEFORE the check
      StreamingVectorIndex.applyBatch(
        Seq((1L, vec(0.9, 0.1))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 0L, dir, Some(cb))
      // and a consistent append still works
      StreamingVectorIndex.applyBatch(
        Seq((3L, vec(0.7, 0.3))).toDF("vec_id", "embedding"),
        cent, "vec_id", "embedding", 1L, dir)
      assert(StreamingVectorIndex.readIndex(s, dir)
        .select("vec_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    } finally cleanup(dir)
  }
}
