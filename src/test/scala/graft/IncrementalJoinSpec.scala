package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.IncrementalJoin
import graft.streaming.IncrementalJoin.Config

/** Delta-proportional join-view maintenance: equality with the one-shot
  * join after any batch interleaving, crash-replay idempotency,
  * late-arriving-dim healing, and the untouched-bucket guarantee.
  */
class IncrementalJoinSpec extends SparkSpec {

  private val cfg = Config(factId = "fid", key = "k", buckets = 4)

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_ivm_")
    org.apache.commons.io.FileUtils.forceDeleteOnExit(d.toFile)
    d.toString
  }

  private def facts(rows: (Long, Long, Double)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("fid", "k", "v")
  }

  private def dims(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "seg")
  }

  private def snap(dir: String): Set[(Long, Long, Double, String)] =
    IncrementalJoin.read(spark, dir)
      .collect().map(r => (r.getLong(r.fieldIndex("fid")),
        r.getLong(r.fieldIndex("k")), r.getDouble(r.fieldIndex("v")),
        Option(r.getString(r.fieldIndex("seg"))).getOrElse("-"))).toSet

  test("interleaved fact/dim batches converge to the one-shot left join") {
    val dir = tmp()
    IncrementalJoin.applyBatch(
      facts((1L, 10L, 1.0), (2L, 20L, 2.0)), dims((10L, "A"), (20L, "B")),
      0L, cfg, dir)
    IncrementalJoin.applyBatch( // dim upsert flips key 10; fact appends
      facts((3L, 10L, 3.0)), dims((10L, "A2")), 1L, cfg, dir)
    IncrementalJoin.applyBatch( // fact-only batch
      facts((4L, 30L, 4.0)), dims(), 2L, cfg, dir)
    assert(snap(dir) == Set(
      (1L, 10L, 1.0, "A2"), // refreshed by the batch-1 upsert
      (2L, 20L, 2.0, "B"),
      (3L, 10L, 3.0, "A2"),
      (4L, 30L, 4.0, "-"))) // no dim key 30 yet -> left-join null
  }

  test("an empty first dim batch publishes no dim state yet stays readable") {
    // ADVICE r8: publishing an empty dim delta with no prior state wrote
    // a zero-part-file parquet dir that a later readDim could not infer
    // a schema from; the publish is now skipped until dim rows exist
    val dir = tmp()
    IncrementalJoin.applyBatch(facts((1L, 10L, 1.0)), dims(), 0L, cfg, dir)
    assert(snap(dir) == Set((1L, 10L, 1.0, "-")))
    IncrementalJoin.applyBatch(facts(), dims(), 1L, cfg, dir) // both empty
    assert(snap(dir) == Set((1L, 10L, 1.0, "-")))
    IncrementalJoin.applyBatch( // dim finally arrives and heals fact 1
      facts((2L, 20L, 2.0)), dims((10L, "A")), 2L, cfg, dir)
    assert(snap(dir) == Set((1L, 10L, 1.0, "A"), (2L, 20L, 2.0, "-")))
  }

  test("a dim upsert heals facts that arrived before their dim key") {
    val dir = tmp()
    IncrementalJoin.applyBatch(facts((1L, 77L, 1.5)), dims(), 0L, cfg, dir)
    assert(snap(dir) == Set((1L, 77L, 1.5, "-")))
    IncrementalJoin.applyBatch(facts(), dims((77L, "LATE")), 1L, cfg, dir)
    assert(snap(dir) == Set((1L, 77L, 1.5, "LATE")))
  }

  test("crash replay is idempotent: re-applying the last batch changes nothing") {
    val dir = tmp()
    IncrementalJoin.applyBatch(
      facts((1L, 10L, 1.0)), dims((10L, "A")), 0L, cfg, dir)
    IncrementalJoin.applyBatch(
      facts((2L, 10L, 2.0)), dims((10L, "B")), 1L, cfg, dir)
    val before = snap(dir)
    // marker short-circuit
    IncrementalJoin.applyBatch(
      facts((2L, 10L, 2.0)), dims((10L, "B")), 1L, cfg, dir)
    assert(snap(dir) == before)
    // simulate crash-before-marker: force the marker back, re-apply
    Files.write(java.nio.file.Paths.get(dir, "_applied"), "0".getBytes)
    IncrementalJoin.applyBatch(
      facts((2L, 10L, 2.0)), dims((10L, "B")), 1L, cfg, dir)
    assert(snap(dir) == before, "redelivered batch must rebuild identically")
  }

  test("a batch rewrites only the buckets its deltas touch") {
    val dir = tmp()
    // keys 0..7 spread across the 4 buckets; batch 0 populates all
    val allKeys = (0L until 8L).map(k => (k + 100L, k, k * 1.0))
    IncrementalJoin.applyBatch(
      facts(allKeys: _*), dims((0L until 8L).map(k => (k, s"s$k")): _*),
      0L, cfg, dir)
    val viewRoot = java.nio.file.Paths.get(dir, "view")
    def bucketFiles(): Map[String, Map[String, Long]] = {
      val dirs = viewRoot.toFile.listFiles().filter(_.isDirectory)
      dirs.map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toMap).toMap
    }
    val before = bucketFiles()
    assert(before.size >= 2, s"need >=2 bucket dirs to prove isolation, got ${before.keySet}")
    // batch 1 touches ONLY key 3's bucket
    IncrementalJoin.applyBatch(facts((200L, 3L, 9.9)), dims(), 1L, cfg, dir)
    val after = bucketFiles()
    val touched = spark.range(1).select(
      pmod(hash(lit(3L)), lit(4)).cast("int")).collect()(0).getInt(0)
    (before.keySet ++ after.keySet).foreach { b =>
      if (b == s"__bucket=$touched")
        assert(after(b) != before(b), s"touched bucket $b should be rewritten")
      else
        assert(after(b) == before(b),
          s"untouched bucket $b was modified: ${before(b)} -> ${after(b)}")
    }
  }

  test("dim state keeps at most two versions and the view stays the one-shot join") {
    val dir = tmp()
    val waves = Seq(
      (facts((1L, 10L, 1.0), (2L, 20L, 2.0)), dims((10L, "A"), (20L, "B"))),
      (facts((3L, 30L, 3.0)), dims((30L, "C"))),
      (facts((4L, 10L, 4.0)), dims((10L, "A2"))),
      (facts((5L, 20L, 5.0)), dims((20L, "B2"), (40L, "D"))))
    waves.zipWithIndex.foreach { case ((f, d), b) =>
      IncrementalJoin.applyBatch(f, d, b.toLong, cfg, dir)
    }
    val versions = new java.io.File(dir, "dim").listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName).sorted.toSeq
    assert(versions.size <= 2, s"dim state leaks versions: $versions")
    assert(snap(dir) == Set(
      (1L, 10L, 1.0, "A2"), (2L, 20L, 2.0, "B2"), (3L, 30L, 3.0, "C"),
      (4L, 10L, 4.0, "A2"), (5L, 20L, 5.0, "B2")))
  }
}
