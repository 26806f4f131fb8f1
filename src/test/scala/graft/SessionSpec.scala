package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[graft.core.Session]] the one way `src/main` builds a session,
  * keeps operators from registering extensions themselves, keeps the
  * one release rule: operators pin and unpin through [[graft.core.Caches]],
  * and only the harness mains sweep the session, keeps txn-log data
  * read under the log's own schema, keeps [[graft.core.Held]] the
  * one writer of parquet files outside a write job, and keeps
  * `TxnLog`'s data writes, write waves and row-position reads each in
  * one place. */
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

  test("txn-log data infers its schema only in TxnLog.readData's no-metaData fallback") {
    val txnLog = "scala/graft/sources/TxnLog.scala"
    val owners = Set(txnLog, "scala/graft/streaming/TxnLogSource.scala")
    val infers = hits("option(\"mergeSchema\"")
      .filter(h => owners(h.takeWhile(_ != ':')))
    val lines = Files.readAllLines(main.resolve(txnLog)).asScala.toSeq
    val start = lines.indexWhere(_.contains(" def readData("))
    val end = lines.indexWhere(_.matches("  (private.* )?def .*"), start + 1)
    assert(start >= 0 && end > start, "no TxnLog.readData")
    val fallback = lines.indexWhere(_.contains("case None =>"), start)
    assert(infers.size == 1 && fallback < end &&
      infers.head == s"$txnLog:${fallback + 2}", infers)
  }

  /** For each code line of `TxnLog.scala` matching `pattern`, the
    * member of its class or object that holds it: the last definition
    * at member indentation above it. Comment lines are skipped. */
  private def txnLogOwners(pattern: String): Seq[String] = {
    val member = ("  (?:(?:private(?:\\[\\w+\\])?|final|override|lazy) )*" +
      "(?:def|val|var|class|object|type) (\\w+)\\b.*").r
    val lines = Files.readAllLines(main.resolve("scala/graft/sources/TxnLog.scala"))
      .asScala.toSeq
    val owners = lines.scanLeft("") {
      case (_, member(name)) => name
      case (owner, _) => owner
    }.tail
    lines.zip(owners).collect {
      case (line, owner) if !line.trim.startsWith("*") &&
          !line.trim.startsWith("/") && pattern.r.findFirstIn(line).nonEmpty => owner
    }
  }

  test("TxnLog writes only in writeObserved and compactZorder's stage, runs write " +
    "waves only through writeWave, and reads row positions only in scanWithDVs") {
    val writes = txnLogOwners("""\.write\b""")
    assert(writes.toSet == Set("writeObserved", "compactZorder") &&
      writes.count(_ == "compactZorder") == 1, writes)
    assert(txnLogOwners("""\binPool\(""").sorted == Seq("compactZorder", "writeWave"))
    assert(txnLogOwners("""_metadata\.row_index""") == Seq("scanWithDVs"))
  }

  test("only graft.core.Held writes parquet outside a write job") {
    val writers = hits("prepareWrite") ++ hits("OutputWriterFactory")
    assert(writers.nonEmpty &&
      writers.forall(_.startsWith("scala/graft/core/Held.scala:")), writers)
  }
}
