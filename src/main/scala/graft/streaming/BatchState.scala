package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** The exactly-once micro-batch state protocol every incremental
  * operator in this package (and `sources/IndexArtifacts`) runs — the
  * reference's checkpoint high-water mark plus first-wins replay
  * (`checkpoint.py:18-45`), decided in ONE module so the operators keep
  * only their merge bodies, safety checks and public API.
  *
  *  - **Marker.** One pointer file per state (`_current` unless named):
  *    whitespace-separated fields, batch id first, replaced by a
  *    tmp-write + ATOMIC_MOVE rename so a reader sees the old or the new
  *    pointer, never a torn one. Readers resolve every root through a
  *    marker, so anything written but not yet published is invisible.
  *  - **Step.** [[step]] reads the marker once, no-ops a redelivered id
  *    (`batchId <= applied` — foreachBatch may replay the last batch
  *    after a restart), runs the body, then publishes the fields it
  *    returns. A crash before the publish leaves the old state live and
  *    the redelivered batch overwrites its own leftovers.
  *  - **Snapshot layout** (`<dir>/v<id>`, the whole state per version):
  *    after a publish every version below the one it superseded is
  *    swept, so a reader that resolved the marker just before the flip
  *    still finishes its read (one publish cycle of grace, also across
  *    non-consecutive ids); ids above the marker are torn leftovers of
  *    an unpublished batch and are never swept.
  *  - **Log layout** (`<dir>/<sub>/<prefix><id>`, one root per batch):
  *    [[Log.roots]] lists the live roots with one directory listing, and
  *    [[Log.compact]] folds them into one versioned compacted root that
  *    the `_compacted` marker flips.
  *
  * Every file operation here is driver-side `java.io`/`java.nio`; the
  * Spark reads and writes stay in the operators.
  */
private[graft] object BatchState {

  private val Current = "_current"
  private val Compacted = "_compacted"

  /** Whitespace-split marker fields; empty when no marker exists. */
  def read(dir: String, name: String = Current): Array[String] = {
    val m = Paths.get(dir, name)
    if (!Files.exists(m)) Array.empty
    else new String(Files.readAllBytes(m), StandardCharsets.UTF_8)
      .trim.split(" ")
  }

  private def idOf(fields: Array[String]): Long =
    if (fields.isEmpty) -1L else fields(0).toLong

  /** First marker field as the last applied id; -1 before the first
    * publish. */
  def lastApplied(dir: String, name: String = Current): Long =
    idOf(read(dir, name))

  /** Atomically publish `id` (+ extra fields) as the marker. */
  def publish(dir: String, id: Long, extras: Seq[String] = Nil,
      name: String = Current): Unit = {
    val tmp = Paths.get(dir, s"${name}__tmp$id")
    Files.write(tmp,
      (id.toString +: extras).mkString(" ").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Apply batch `batchId` to the state at `dir` exactly once. `body`
    * gets the prior marker fields (empty before the first publish) and
    * returns the extra fields to publish after the id.
    * @return the superseded id (-1 for the first batch) when the body
    *         ran; None for a redelivered id. */
  def step(dir: String, batchId: Long, name: String = Current)(
      body: Array[String] => Seq[String]): Option[Long] = {
    val prior = read(dir, name)
    val applied = idOf(prior)
    if (batchId <= applied) None
    else {
      Files.createDirectories(Paths.get(dir))
      publish(dir, batchId, body(prior), name)
      Some(applied)
    }
  }

  /** Run `apply` on every micro-batch of `rows` under a streaming
    * checkpoint — the foreachBatch wiring every operator's `start` is. */
  def start(rows: DataFrame, checkpointDir: String)(
      apply: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        apply(batch.toDF(), batchId)
      }
      .start()

  // --- snapshot layout ----------------------------------------------

  def version(dir: String, id: Long): String = s"$dir/v$id"

  /** One snapshot step: `body(prior fields, live version or None,
    * target)` writes the whole new state to `target`; after the publish
    * the versions older than the superseded one are swept. */
  def snapshot(dir: String, batchId: Long)(
      body: (Array[String], Option[String], String) => Seq[String]): Unit =
    step(dir, batchId) { prior =>
      val applied = idOf(prior)
      body(prior, if (applied < 0) None else Some(version(dir, applied)),
        version(dir, batchId))
    }.foreach(sweepVersions(dir, _))

  /** Delete every `v<id>` child of `dir` with `id < floor`.
    * @return the ids actually deleted, ascending (a version a held
    *         handle kept on disk is not reported). */
  def sweepVersions(dir: String, floor: Long): Seq[Long] =
    sweep(new File(dir))(versionOf(_, "v").exists(_ < floor))
      .flatMap(versionOf(_, "v")).sorted

  // --- log layout -----------------------------------------------------

  /** Per-batch roots `<dir>/<sub>/<prefix><id>` under the `_current`
    * marker at `dir`; with `compacted` set (a name prefix relative to
    * `dir`), [[compact]] folds them into `<dir>/<compacted><upTo>`. */
  final case class Log(dir: String, sub: String, prefix: String = "b",
      compacted: String = "") {

    def batch(id: Long): String = s"$dir/$sub/$prefix$id"

    /** The live compacted root as of fold point `c`, if any. */
    private def folded(c: Long): Option[File] =
      Some(new File(s"$dir/$compacted$c")).filter(f => c >= 0 && f.isDirectory)

    /** Highest id folded into the live compacted root; -1 before the
      * first compaction. */
    def compactedUpTo: Long =
      if (compacted.isEmpty) -1L else lastApplied(dir, Compacted)

    /** Published batch roots with `from < id <= upTo`, ascending, from
      * one listing (a gap is a batch that wrote nothing). */
    private def batches(from: Long, upTo: Long): Seq[File] =
      Option(new File(s"$dir/$sub").list()).getOrElse(Array.empty[String])
        .flatMap(n => versionOf(n, prefix))
        .filter(id => id > from && id <= upTo).sorted
        .map(id => new File(batch(id))).toSeq

    /** The live roots, ascending: the compacted root and the batch roots
      * after its fold point up to the marker. */
    def roots(): Seq[String] = {
      val c = compactedUpTo
      (folded(c) ++ batches(c, lastApplied(dir))).map(_.getPath).toSeq
    }

    /** The offline OPTIMIZE pass: `stage(old compacted root, batch roots
      * since it, staging dir)` builds the new compacted root; it goes
      * live under its versioned name, the `_compacted` marker flips
      * after the rename, and only then are the superseded compacted
      * roots and the folded batch roots swept. A crash before the flip
      * leaves readers on the old roots; a crash after it leaves only
      * unreferenced garbage that this sweep, on any later run, removes.
      * Does nothing when no batch was applied since the last fold or
      * nothing was ever written. */
    def compact(stage: (Option[File], Seq[File], File) => Unit): Unit = {
      val upTo = lastApplied(dir)
      val prev = compactedUpTo
      if (upTo < 0 || upTo == prev) return
      val old = folded(prev)
      val fresh = batches(prev, upTo)
      if (old.isEmpty && fresh.isEmpty) return
      val live = new File(s"$dir/$compacted$upTo")
      val staged = new File(live.getPath + "__staging")
      FileUtils.deleteQuietly(staged)
      stage(old, fresh, staged)
      // an existing live name can only be the unpublished leftover of a
      // crash between a previous rename and its flip — safe to replace
      FileUtils.deleteQuietly(live)
      Files.move(staged.toPath, live.toPath)
      publish(dir, upTo, name = Compacted)
      val family = new File(s"$dir/$compacted").getName
      sweep(live.getParentFile)(n => n.startsWith(family) && n != live.getName)
      sweep(new File(s"$dir/$sub"))(versionOf(_, prefix).exists(_ <= upTo))
    }
  }

  /** The `cell=<c>` partition directories of a cell-partitioned root. */
  def cellDirs(root: File): Seq[File] =
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).toSeq

  /** Delete every child of `parent` whose name the predicate marks
    * unreferenced, quietly per child (a vanished or locked entry never
    * fails the publish that already went live); returns the names
    * actually deleted. */
  private def sweep(parent: File)(unreferenced: String => Boolean)
      : Seq[String] =
    Option(parent.listFiles()).getOrElse(Array.empty[File])
      .filter(f => unreferenced(f.getName))
      .filter(FileUtils.deleteQuietly)
      .map(_.getName).toSeq

  /** Parse `name` as `<prefix><id>` with a digit-bounded id (18 digits:
    * ids fit forever, and a foreign 20-digit name can neither overflow
    * Long nor crash a sweep). None for anything that is not a root. */
  private def versionOf(name: String, prefix: String): Option[Long] =
    if (name.startsWith(prefix) &&
        name.drop(prefix.length).matches("\\d{1,18}"))
      Some(name.drop(prefix.length).toLong)
    else None
}
