package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.compact.{Compactor, FsOps}
import graft.streaming.EventStreams.Event

/** End-to-end pipeline the reference exists for: a stream lands many
  * small files (one per micro-batch/partition), then the compactor
  * folds them into few — streaming ingest and DBA maintenance
  * composed. Uses the parquet file sink with a checkpoint (exactly-
  * once manifest) and foreachBatch-free plumbing. */
class StreamToCompactSpec extends AnyFunSuite with SparkSpec with ScratchDirs {

  test("stream to file sink, then compact the small files") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val base = scratchDir("graft_stream_compact")
    val in = MemoryStream[Event]
    val q = in.toDF()
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(2) // force multiple files per micro-batch
      .writeStream.format("parquet")
      .option("path", s"$base/landing")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      def ev(id: Long): Event =
        Event(id, Timestamp.valueOf("2024-01-01 00:00:00"), id % 3, "click", 1.0)
      in.addData((1L to 20L).map(ev)); q.processAllAvailable()
      in.addData((21L to 40L).map(ev)); q.processAllAvailable()
      in.addData((41L to 60L).map(ev)); q.processAllAvailable()
    } finally q.stop()

    val fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
    val landed = fsOps.listDataFiles(s"$base/landing", ".parquet")
    assert(landed.length >= 4, s"expected many small files, got ${landed.length}")

    val res = Compactor.run(spark, Compactor.Config(
      sourceFolder = s"$base/landing", targetFolder = s"$base/compacted",
      fileCount = 1, tmpFolder = s"$base/tmp"))
    assert(res.ok, res.log.toTsv)
    assert(fsOps.listDataFiles(s"$base/compacted", ".parquet").length == 1)
    val out = spark.read.parquet(s"$base/compacted")
    assert(out.count() == 60)
    assert(out.agg(sum(col("event_id"))).head.getLong(0) == (1L to 60L).sum)
  }
}
