package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[graft.core.Session]] the one way `src/main` builds a session,
  * keeps operators from registering extensions themselves, and keeps the
  * one release rule: operators pin and unpin through [[graft.core.Caches]],
  * and only the harness mains sweep the session. */
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

  test("src/main checkpoints only through Caches.pin and sweeps the session only in the harness mains") {
    val pins = hits("localCheckpoint(")
    assert(pins.nonEmpty &&
      pins.forall(_.startsWith("scala/graft/core/Caches.scala:")), pins)
    val harness = Set("Bench", "Verify", "PlanTool")
      .map(m => s"scala/graft/$m.scala")
    val sweeps = hits("Caches.drain(") ++ hits("Caches.release(")
    assert(sweeps.nonEmpty &&
      sweeps.forall(h => harness(h.takeWhile(_ != ':'))), sweeps)
    assert(hits("resourceMark").isEmpty && hits("releaseSince").isEmpty)
  }
}
