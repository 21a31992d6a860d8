package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Meta-lint over the main sources, one walk per policy module:
  *
  *  - every main builds Spark through `graft.Session.local`, so master,
  *    shuffle partitions, time zone and UI settings live in one module.
  *    Hand-copied `SparkSession.builder` blocks drifted apart before (one
  *    main without the UTC zone, others pinned to 8 or 32 cores or
  *    reading their own master variables); the walk fails on any builder
  *    outside `graft/Session.scala`.
  *  - every incremental operator runs the exactly-once state protocol
  *    through `streaming/BatchState`: markers, version directories,
  *    sweeps and the foreachBatch wiring were hand-copied into nine files
  *    before; the walk fails on a `.writeStream` or a call into the old
  *    `StateMarker`/`VersionedRoot` objects anywhere else. Comments may
  *    still name them.
  */
class SessionLintSpec extends AnyFunSuite {

  private val builder = """SparkSession\s*\.\s*builder""".r
  private val state = """\b(?:StateMarker|VersionedRoot)\.|\.writeStream\b""".r

  /** 1-based line numbers of every session builder in one source. */
  private[graft] def builderLines(src: String): Seq[Int] =
    builder.findAllMatchIn(src).map(m =>
      src.substring(0, m.start).count(_ == '\n') + 1).toSeq

  /** 1-based line numbers of every code line (comments skipped) that
    * touches micro-batch state outside BatchState. */
  private[graft] def stateLines(src: String): Seq[Int] = {
    var inBlock = false
    src.split("\n", -1).toSeq.zipWithIndex.flatMap { case (line, i) =>
      val t = line.trim
      val isComment = inBlock || t.startsWith("//") || t.startsWith("/*")
      if (t.startsWith("/*")) inBlock = true
      if (inBlock && t.contains("*/")) inBlock = false
      val code = if (isComment) "" else line.split("//", 2)(0)
      if (state.findFirstIn(code).isDefined) Some(i + 1) else None
    }
  }

  /** `file:line` of every hit of `lines` in src/main outside `policy`. */
  private def walk(policy: String)(lines: String => Seq[Int]): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val exempt = root.resolve(policy)
    val stream = Files.walk(root)
    val sources: List[Path] =
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    assert(sources.contains(exempt))
    sources.filter(_ != exempt).sortBy(_.toString).flatMap { p =>
      lines(new String(Files.readAllBytes(p), "UTF-8")).map(n => s"$p:$n")
    }
  }

  // --- semantics pinned on fixtures --------------------------------
  test("a builder chain is flagged on the line it starts") {
    val src = "object M {\n  val s = SparkSession.builder()\n    .getOrCreate()\n}"
    assert(builderLines(src) === Seq(2))
  }
  test("a builder split across lines is still flagged") {
    assert(builderLines("val s = SparkSession\n  .builder()") === Seq(1))
  }
  test("a session built through graft.Session is clean") {
    assert(builderLines("val spark = graft.Session.local()").isEmpty)
  }
  test("state calls and writeStream are flagged on code lines only") {
    val src = Seq(
      "object M {",
      "  val a = StateMarker.lastApplied(d)",
      "  rows.writeStream.start()",
      "  VersionedRoot.sweep(f)(_ => true) // swept",
      "  // StateMarker.publish(d, 0) in a line comment",
      "  /** VersionedRoot.goLive in a doc comment",
      "    * and rows.writeStream on its next line */",
      "  val b = BatchState.lastApplied(d) // not StateMarker.read",
      "}").mkString("\n")
    assert(stateLines(src) === Seq(2, 3, 4))
  }

  // --- the source walks --------------------------------------------
  test("no SparkSession.builder in src/main outside graft/Session.scala") {
    val bad = walk("graft/Session.scala")(builderLines)
    assert(bad.isEmpty,
      s"""SparkSession.builder outside graft/Session.scala at:
         |${bad.mkString("\n")}
         |build the session with graft.Session.local() instead.""".stripMargin)
  }
  test("no hand-rolled batch state in src/main outside streaming/BatchState.scala") {
    val bad = walk("graft/streaming/BatchState.scala")(stateLines)
    assert(bad.isEmpty,
      s"""micro-batch state handled outside streaming/BatchState.scala at:
         |${bad.mkString("\n")}
         |go through BatchState.step/snapshot/Log/start instead.""".stripMargin)
  }
}
