package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.compact.CompactorCli

/** Option-surface parity with the reference's scopt parser
  * (DefragmentAvroInputParams.scala): required folders, typed
  * fileCount, flag options, unknown-option rejection. */
class CliSpec extends AnyFunSuite with ScratchDirs {

  test("parses the full option set") {
    val Right((c, local)) = CompactorCli.parse(Array(
      "--sourceFolder", "/in", "--targetFolder", "/out",
      "--fileCount", "4", "--overwriteTarget",
      "--trashFolder", "/trash", "--tmpFolder", "/tmp/x",
      "--format", "avro", "--externalSchemaFile", "/s.avsc",
      "--runningLocally")): @unchecked
    assert(c.sourceFolder == "/in" && c.targetFolder == "/out")
    assert(c.fileCount == 4 && c.overwriteTarget)
    assert(c.trashFolder == "/trash" && c.tmpFolder == "/tmp/x")
    assert(c.format == "avro" && c.schemaFile.contains("/s.avsc"))
    assert(local)
  }

  test("rejects missing required folders") {
    assert(CompactorCli.parse(Array("--targetFolder", "/out"))
      .left.exists(_.contains("--sourceFolder is required")))
    assert(CompactorCli.parse(Array("--sourceFolder", "/in"))
      .left.exists(_.contains("--targetFolder is required")))
  }

  test("rejects malformed and unknown options") {
    assert(CompactorCli.parse(Array(
      "--sourceFolder", "/in", "--targetFolder", "/out",
      "--fileCount", "zero")).left.exists(_.contains("--fileCount")))
    assert(CompactorCli.parse(Array(
      "--sourceFolder", "/in", "--targetFolder", "/out", "--wat"))
      .left.exists(_.contains("unknown option")))
    assert(CompactorCli.parse(Array(
      "--sourceFolder", "/in", "--targetFolder", "/out",
      "--format", "orc")).left.exists(_.contains("unsupported --format")))
  }

  test("run() compacts end-to-end and reports per-partition lines") {
    val spark = SparkSpec.session
    import spark.implicits._
    val base = scratchDir("graft_cli_e2e")
    (1 to 100).toDF("id").repartition(4).write.parquet(s"$base/src")
    val lines = scala.collection.mutable.Buffer[String]()
    val code = CompactorCli.run(Array(
      "--sourceFolder", s"$base/src", "--targetFolder", s"$base/tgt",
      "--fileCount", "1", "--tmpFolder", s"$base/tmp"),
      spark, lines.append(_))
    assert(code == 0, lines.mkString("\n"))
    assert(lines.exists(_.startsWith("OK")))
    assert(spark.read.parquet(s"$base/tgt").count() == 100)
    // bad args propagate a nonzero exit code and usage text
    val badLines = scala.collection.mutable.Buffer[String]()
    assert(CompactorCli.run(Array("--nope"), spark, badLines.append(_)) == 1)
    assert(badLines.exists(_.contains("unknown option")))
  }

  test("--hadoopConfig loads site files into the FS Configuration") {
    val dir = java.nio.file.Paths.get(scratchDir("graft_hconf"))
    java.nio.file.Files.writeString(dir.resolve("core-site.xml"),
      """<?xml version="1.0"?>
        |<configuration>
        |  <property><name>fs.defaultFS</name><value>file:///graft-test-root</value></property>
        |  <property><name>graft.test.marker</name><value>loaded</value></property>
        |</configuration>""".stripMargin)
    val Right((c, _)) = CompactorCli.parse(Array(
      "--sourceFolder", "/in", "--targetFolder", "/out",
      "--hadoopConfig", dir.toString)): @unchecked
    assert(c.hadoopConfigDir.contains(dir.toString))
    val conf = graft.compact.Compactor.fsConf(SparkSpec.session, c)
    assert(conf.get("fs.defaultFS") == "file:///graft-test-root")
    assert(conf.get("graft.test.marker") == "loaded")
    // without the option the session's defaults stand
    val plain = graft.compact.Compactor.fsConf(SparkSpec.session,
      c.copy(hadoopConfigDir = None))
    assert(plain.get("graft.test.marker") == null)
  }

  test("a flag name given as another option's value is that value, not a flag") {
    val Right((c, local)) = CompactorCli.parse(Array(
      "--sourceFolder", "/in", "--targetFolder", "/out",
      "--tmpFolder", "--runningLocally")): @unchecked
    assert(c.tmpFolder == "--runningLocally")
    assert(!local)
  }

  test("defaults: dynamic file count, parquet, no overwrite") {
    val Right((c, local)) = CompactorCli.parse(Array(
      "--sourceFolder", "/in", "--targetFolder", "/out")): @unchecked
    assert(c.fileCount == 0 && c.format == "parquet" && !c.overwriteTarget && !local)
  }
}
