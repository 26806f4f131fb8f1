package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[graft.core.Session]] the one way `src/main` builds a session,
  * and keeps operators from registering extensions themselves. */
class SessionSpec extends AnyFunSuite {

  private val main = Paths.get("src/main")

  /** `path:line` of every `src/main` Scala line containing `needle`. */
  private def hits(needle: String): Seq[String] = {
    val files = Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(needle)
    } yield s"${main.relativize(f)}:${i + 1}"
  }

  test("src/main has one SparkSession.builder, in graft.core.Session, and no ensureRegistered") {
    assert(Files.isDirectory(main), s"no ${main.toAbsolutePath}")
    val builders = hits("SparkSession.builder(")
    assert(builders.size == 1 &&
      builders.head.startsWith("scala/graft/core/Session.scala:"), builders)
    assert(hits("ensureRegistered").isEmpty)
  }
}
