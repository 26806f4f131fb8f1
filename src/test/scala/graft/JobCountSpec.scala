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
import graft.core.{Caches, Tables}
import graft.llm.Dedup
import graft.sources.TxnLog

/** Spark jobs per txn-log op and per dedup-ladder rung on the warm test
  * session, pinned. A write takes its row count and bounds from its own
  * job, so an op must not grow back a read of what it just wrote; a
  * read builds its frame under the log's (or the footer's) schema, so
  * it must not grow back a footer-inference job; a ladder rung must not
  * grow back a cache, a pinned seed or a separate convergence count.
  * Like [[PlanBudgetSpec]], a pin may only be tightened: re-measure
  * with this spec's failure message and lower the number. */
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

  test("building Tables.documents starts no job") {
    assertJobs("building Tables.documents", 0)(Tables.documents(spark, sfDir))
  }

  /** The ladder rungs on the sf0.001 corpus, each measured warm (a first
    * run compiles and stages the cluster labels). */
  private def ladder(what: String, pinned: Int)(op: => Any): Unit = {
    op
    Caches.drain(spark)
    assertJobs(what, pinned)(op)
    Caches.drain(spark)
  }

  test("dedup ladder: candidates collect") {
    ladder("minhashCandidates collect", 3)(Dedup.minhashCandidates(
      Tables.documents(spark, sfDir), "doc_id", "text").collect())
  }

  test("dedup ladder: dedupJaccard collect") {
    ladder("dedupJaccard collect", 7)(Dedup.dedupJaccard(spark, sfDir).collect())
  }

  test("dedup ladder: connectedComponents on a pair frame and on a path") {
    import spark.implicits._
    def components(pairs: => DataFrame): Unit = {
      val labels = Dedup.connectedComponents(spark, pairs)
      labels.collect()
      Caches.unpin(labels)
    }
    ladder("connectedComponents on the candidates + collect", 8)(components(
      Dedup.minhashCandidates(Tables.documents(spark, sfDir), "doc_id", "text")))
    // three rounds: the seed is inline, each round is one checkpoint job
    // plus its exchanges, and its change count rides on that job
    val path = Seq(17L, 12L, 19L, 11L, 15L, 14L, 20L)
    ladder("connectedComponents on a 7-node path + collect", 15)(components(
      path.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("doc_a", "doc_b")))
  }

  test("dedup ladder: dedupApply plus a group count") {
    ladder("dedupApply group count", 3)(Dedup.dedupApply(spark, sfDir)
      .groupBy(col("kept")).count().collect())
  }

  test("dedup ladder: dedupEmbed collect") {
    ladder("dedupEmbed collect", 7)(Dedup.dedupEmbed(spark, sfDir).collect())
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
