package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Meta-lint over the main sources: every main builds Spark through
  * `graft.Session.local`, so master, shuffle partitions, time zone and
  * UI settings live in one module. Hand-copied `SparkSession.builder`
  * blocks drifted apart before (one main without the UTC zone, others
  * pinned to 8 or 32 cores or reading their own master variables); the
  * walk below fails on any builder outside `graft/Session.scala`.
  */
class SessionLintSpec extends AnyFunSuite {

  private val builder = """SparkSession\s*\.\s*builder""".r

  /** 1-based line numbers of every session builder in one source. */
  private[graft] def builderLines(src: String): Seq[Int] =
    builder.findAllMatchIn(src).map(m =>
      src.substring(0, m.start).count(_ == '\n') + 1).toSeq

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

  // --- the source walk ---------------------------------------------
  test("no SparkSession.builder in src/main outside graft/Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val policy = root.resolve("graft/Session.scala")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.contains(policy))
    val bad = sources.filter(_ != policy).sortBy(_.toString).flatMap { p =>
      builderLines(new String(Files.readAllBytes(p), "UTF-8"))
        .map(n => s"$p:$n")
    }
    assert(bad.isEmpty,
      s"""SparkSession.builder outside graft/Session.scala at:
         |${bad.mkString("\n")}
         |build the session with graft.Session.local() instead.""".stripMargin)
  }
}
