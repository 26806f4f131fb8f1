package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.graft.StreamingShim
import org.scalatest.funsuite.AnyFunSuite

import graft.compact.Compactor
import graft.sources.TxnLog

/** Spark jobs per txn-log op on the warm test session, pinned. A write
  * takes its row count and bounds from its own job, so an op must not
  * grow back a read of what it just wrote; a read builds its frame
  * under the log's schema, so it must not grow back a footer-inference
  * job. Like [[PlanBudgetSpec]], a pin may only be tightened:
  * re-measure with this spec's failure message and lower the number. */
class JobCountSpec extends AnyFunSuite with SparkSpec {

  private val started = new AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.incrementAndGet(); ()
    }
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** `op` starts at most `pinned` jobs (suites run one at a time per
    * JVM, so every job started meanwhile is the op's). */
  private def assertJobs(what: String, pinned: Int)(op: => Any): Unit = {
    StreamingShim.drainListenerBus(spark.sparkContext, 60000L)
    started.set(0)
    op
    StreamingShim.drainListenerBus(spark.sparkContext, 60000L)
    val n = started.get
    assert(n <= pinned, s"$what ran $n Spark jobs (pinned $pinned)")
  }

  private def withScratch(body: String => Unit): Unit = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_jobcount_").toString
    try body(root)
    finally graft.core.Fixtures.deleteRecursively(new File(root))
  }

  private def rows(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(k => (k, k * 10L, s"p$k")).toDF("k", "v", "s")
  }

  /** A table of `files` one-file appends of 20 keys each. */
  private def table(root: String, files: Int): Unit =
    for (i <- 0 until files)
      TxnLog.writeAppend(spark, root, rows(i * 20L, i * 20L + 20L)
        .coalesce(1), "s", s"t$i")

  test("a 10-row writeAppend runs one job") {
    withScratch { root =>
      table(root, 1)
      assertJobs("writeAppend", 1)(
        assert(TxnLog.writeAppend(spark, root, rows(100, 110), "s", "a") == 2))
    }
  }

  test("a one-file deleteRange") {
    withScratch { root =>
      table(root, 1)
      assertJobs("deleteRange", 3)(
        assert(TxnLog.deleteRange(spark, root, "k", "3", "6", "d").nonEmpty))
    }
  }

  test("a one-file mergeUpsert") {
    withScratch { root =>
      table(root, 1)
      assertJobs("mergeUpsert", 15)(
        assert(TxnLog.mergeUpsert(spark, root, rows(15, 25), "k", "m")
          .nonEmpty))
    }
  }

  test("a two-file OPTIMIZE") {
    withScratch { root =>
      table(root, 2)
      assertJobs("compact", 1)(
        assert(TxnLog.compact(spark, root, "o").nonEmpty))
    }
  }

  test("building TxnLog.read starts no job; a point lookup runs one") {
    withScratch { root =>
      table(root, 6)
      assertJobs("building TxnLog.read", 0)(TxnLog.read(spark, root))
      assertJobs("readPointLookup + collect", 1) {
        val (df, scanned, _) = TxnLog.readPointLookup(spark, root, "k", "45")
        assert(scanned.size == 1)
        assert(df.where(col("k") === 45L).collect().length == 1)
      }
    }
  }

  test("an update-mode streaming pass over an aggregation") {
    withScratch { root =>
      import spark.implicits._
      implicit val sq: org.apache.spark.sql.classic.SQLContext =
        spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
      val in = MemoryStream[Long]
      val q = in.toDS().toDF("k").groupBy(col("k")).agg(count(lit(1)).as("n"))
        .writeStream.format("graft-txnlog")
        .option("path", s"$root/t").option("appId", "jobs")
        .option("mergeKey", "k").option("checkpointLocation", s"$root/ck")
        .outputMode("update").start()
      try {
        in.addData(0L until 20L: _*)
        q.processAllAvailable()
        assertJobs("update-mode pass", 10) {
          in.addData(15L until 25L: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(TxnLog.read(spark, s"$root/t").count() == 25)
    }
  }

  test("a two-leaf Compactor.run") {
    withScratch { base =>
      rows(0, 40).withColumn("part", col("k") % 2).repartition(4)
        .write.partitionBy("part").parquet(s"$base/src")
      val c = Compactor.Config(sourceFolder = s"$base/src",
        targetFolder = s"$base/tgt", fileCount = 1,
        tmpFolder = s"$base/tmp")
      assertJobs("Compactor.run", 3)(assert(Compactor.run(spark, c).ok))
    }
  }
}
