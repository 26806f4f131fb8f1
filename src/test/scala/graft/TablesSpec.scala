package graft

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Caches, Tables}
import graft.llm.Dedup

/** [[Tables.parquet]] builds its frame under the schema of one data
  * file's footer, read on the driver. That schema must be the one
  * Spark's own inference job reports for the same path. */
class TablesSpec extends AnyFunSuite with SparkSpec with ScratchDirs {

  private def assertInferred(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(Tables.parquet(spark, path).schema == inferred, path)
  }

  test("every table at sf0.01 reads under the schema inference reports") {
    val sf = new File(new File(sfDir).getParentFile, "sf0.01").toString
    Tables.names.foreach(n => assertInferred(s"$sf/$n.parquet"))
    assert(Tables.documents(spark, sf).count() ==
      spark.read.parquet(s"$sf/documents.parquet").count())
  }

  test("an INT64 TIMESTAMP(NANOS) column reads as the long nanosAsLong makes it") {
    val dir = scratchDir("graft_tables_")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001000000001L).foreach {
      case (id, ts) => w.write(rows.newGroup().append("id", id).append("ts", ts))
    } finally w.close()
    assertInferred(s"$dir/events.parquet")
    assert(Tables.parquet(spark, s"$dir/events.parquet").schema("ts").dataType == LongType)
    // events' own loader then truncates the nanos to µs
    assert(Tables.events(spark, dir).collect().map(_.getAs[java.sql.Timestamp]("ts")
      .getTime).toSeq == Seq(1700000000123L, 1700000001000L))
  }

  test("a staged labels fixture, one file and a missing path") {
    val dir = scratchDir("graft_tables_")
    val labels = Dedup.connectedComponents(spark,
      Dedup.minhashCandidates(Tables.documents(spark, sfDir), "doc_id", "text"))
    labels.write.parquet(s"$dir/labels")
    Caches.unpin(labels)
    assertInferred(s"$dir/labels")
    assertInferred(s"$sfDir/region.parquet")
    // no data file to read a footer from: Spark's own error, unchanged
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.parquet(spark, s"$dir/absent"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"))
  }
}
