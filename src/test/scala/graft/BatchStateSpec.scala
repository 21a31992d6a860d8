package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.BatchState

/** The exactly-once state protocol, pinned once for every operator that
  * runs on it: redelivery, torn versions above the marker, the snapshot
  * sweep's reader grace window across non-consecutive ids, and the log
  * layout's root listing against the per-id existence probes it
  * replaced. Pure file work — no Spark session.
  */
class BatchStateSpec extends AnyFunSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_batchstate_")
    org.apache.commons.io.FileUtils.forceDeleteOnExit(d.toFile)
    d.toString
  }

  /** Publish `id` on the snapshot layout; the body writes a marker file
    * into its version and records which live version it was handed. */
  private def put(dir: String, id: Long): Option[String] = {
    var seen: Option[String] = None
    BatchState.snapshot(dir, id) { (_, prev, out) =>
      seen = prev
      Files.createDirectories(new File(out).toPath)
      Files.write(new File(out, "state").toPath, Array[Byte](id.toByte))
      Nil
    }
    seen
  }

  private def versions(dir: String): Seq[String] =
    new File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq

  test("a redelivered id is a no-op") {
    val dir = tmp()
    var runs = 0
    def apply(id: Long) = BatchState.step(dir, id) { prior =>
      runs += 1
      Seq(s"n${prior.length}")
    }
    assert(apply(0L) === Some(-1L))
    assert(apply(0L) === None)
    assert(apply(1L) === Some(0L))
    assert(apply(1L) === None)
    assert(apply(0L) === None)
    assert(runs === 2)
    assert(BatchState.read(dir).toSeq === Seq("1", "n2"))
  }

  test("a torn version above the marker stays invisible and is never swept") {
    val dir = tmp()
    put(dir, 0L)
    put(dir, 1L)
    // a batch that wrote v5 and crashed before its publish
    val torn = new File(BatchState.version(dir, 5L))
    torn.mkdirs()
    assert(BatchState.lastApplied(dir) === 1L)
    assert(put(dir, 2L) === Some(BatchState.version(dir, 1L)))
    assert(put(dir, 3L) === Some(BatchState.version(dir, 2L)))
    assert(versions(dir) === Seq("v2", "v3", "v5"))
    assert(torn.isDirectory)
  }

  test("with non-consecutive ids the superseded version survives until the next publish") {
    val dir = tmp()
    put(dir, 0L)
    assert(put(dir, 5L) === Some(BatchState.version(dir, 0L)))
    assert(versions(dir) === Seq("v0", "v5"))
    put(dir, 6L)
    assert(versions(dir) === Seq("v5", "v6"))
    assert(BatchState.sweepVersions(dir, 6L) === Seq(5L))
  }

  test("log roots equal the per-id existence probes, gaps and crash leftovers included") {
    val dir = tmp()
    val log = BatchState.Log(dir, "cells", compacted = "compacted_v")
    // the ranges the operators probed before, one isDirectory per id
    def probed(): Seq[String] = {
      val c = log.compactedUpTo
      (if (c >= 0) Seq(new File(s"$dir/compacted_v$c").getPath) else Nil) ++
        ((c + 1) to BatchState.lastApplied(dir)).map(log.batch)
          .filter(p => new File(p).isDirectory).map(new File(_).getPath)
    }
    def batch(id: Long, writes: Boolean): Unit =
      BatchState.step(dir, id) { _ =>
        if (writes) new File(log.batch(id)).mkdirs()
        Nil
      }
    batch(0L, writes = true)
    batch(1L, writes = false) // an empty batch leaves a gap
    batch(2L, writes = true)
    batch(3L, writes = true)
    new File(log.batch(4L)).mkdirs() // crash leftover above the marker
    new File(s"$dir/cells/b99999999999999999999").mkdirs() // foreign name
    assert(log.roots() === probed())
    assert(log.roots() === Seq(0L, 2L, 3L).map(i => new File(log.batch(i)).getPath))

    log.compact { (old, batches, staged) =>
      assert(old.isEmpty)
      assert(batches.map(_.getName) === Seq("b0", "b2", "b3"))
      staged.mkdirs()
    }
    assert(log.compactedUpTo === 3L)
    assert(new File(log.batch(4L)).isDirectory, "a leftover above the marker was swept")
    assert(!new File(log.batch(3L)).exists())
    batch(4L, writes = true)
    batch(5L, writes = false)
    batch(6L, writes = true)
    assert(log.roots() === probed())
    assert(log.roots().map(p => new File(p).getName) ===
      Seq("compacted_v3", "b4", "b6"))
  }
}
