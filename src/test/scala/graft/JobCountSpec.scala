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
  * session, pinned. A write takes its row count and bounds from the rows
  * it writes (held on the driver, or observed on its write job), so an
  * op must not grow back a read of what it just wrote; a read builds
  * its frame under the log's (or the footer's) schema, so it must not
  * grow back a footer-inference job; a ladder rung must not grow back a
  * cache, a pinned seed or a separate convergence count.
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
    * JVM, so every job started meanwhile is the op's), and at least one
    * when the pin is above 0: a listener that stopped counting would
    * otherwise pass every pin. */
  private def assertJobs(what: String, pinned: Int)(op: => Any): Unit = {
    StreamingShim.drainListenerBus(spark.sparkContext, 60000L)
    started.set(0)
    op
    StreamingShim.drainListenerBus(spark.sparkContext, 60000L)
    val n = started.get
    assert(n <= pinned, s"$what ran $n Spark jobs (pinned $pinned)")
    assert(pinned == 0 || n > 0,
      s"$what counted no Spark job (pinned $pinned): is the listener counting?")
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

  test("a 10-row writeAppend runs no job") {
    // held: a local frame is written on the driver; auto-broadcast off,
    // the write job
    withScratch { root =>
      table(root, 1)
      assertJobs("writeAppend", 0)(
        assert(TxnLog.writeAppend(spark, root, rows(100, 110), "s", "a") == 2))
      withThreshold(-1L)(assertJobs("writeAppend, auto-broadcast off", 1)(
        assert(TxnLog.writeAppend(spark, root, rows(110, 120), "s", "b") == 3)))
    }
  }

  test("a one-file deleteRange") {
    // held: the candidate rows' collect; auto-broadcast off, the census
    // aggregate and the rewrite's write job
    withScratch { root =>
      table(root, 1)
      assertJobs("deleteRange", 1)(
        assert(TxnLog.deleteRange(spark, root, "k", "3", "6", "d").nonEmpty))
      withThreshold(-1L)(assertJobs("deleteRange, auto-broadcast off", 3)(
        assert(TxnLog.deleteRange(spark, root, "k", "8", "9", "d").nonEmpty)))
    }
  }

  test("a one-file deleteRangeDV and deletePredicateDV") {
    // held: the candidate rows' collect, the sidecar written on the
    // driver; a file that already carries a vector adds a footer-
    // inference job per sidecar read and a collect of the carried rows.
    // auto-broadcast off: the census aggregate over the cached marked
    // rows and the sidecar's write job
    withScratch { root =>
      table(root, 1)
      assertJobs("deleteRangeDV", 1)(
        assert(TxnLog.deleteRangeDV(spark, root, "k", "3", "6", "d").nonEmpty))
      assertJobs("deletePredicateDV", 5)(
        assert(TxnLog.deletePredicateDV(spark, root, "k = 9", "d").nonEmpty))
      withThreshold(-1L) {
        assertJobs("deleteRangeDV, auto-broadcast off", 7)(
          assert(TxnLog.deleteRangeDV(spark, root, "k", "11", "12", "d").nonEmpty))
        assertJobs("deletePredicateDV, auto-broadcast off", 7)(
          assert(TxnLog.deletePredicateDV(spark, root, "k = 14", "d").nonEmpty))
      }
    }
  }

  test("a one-file update and writeReplaceWhere") {
    // held: the candidate rows' collect, the rewrite a projection over
    // them; auto-broadcast off, the census aggregate and the rewrite's
    // write job (and REPLACE WHERE's staged append's)
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    def region(lo: Long, hi: Long) =
      Array[org.apache.spark.sql.sources.Filter](
        GreaterThanOrEqual("k", lo), LessThanOrEqual("k", hi))
    withScratch { root =>
      table(root, 1)
      assertJobs("update", 1)(assert(TxnLog.update(spark, root,
        Seq("v" -> "v + 1"), Some("k BETWEEN 3 AND 6"), "u").nonEmpty))
      assertJobs("writeReplaceWhere", 1)(assert(TxnLog.writeReplaceWhere(
        spark, root, rows(8, 10), region(8, 9), "u", "r0").nonEmpty))
      withThreshold(-1L) {
        assertJobs("update, auto-broadcast off", 3)(assert(TxnLog.update(
          spark, root, Seq("v" -> "v + 1"), Some("k BETWEEN 3 AND 6"),
          "u").nonEmpty))
        assertJobs("writeReplaceWhere, auto-broadcast off", 4)(assert(
          TxnLog.writeReplaceWhere(spark, root, rows(11, 13), region(11, 12),
            "u", "r1").nonEmpty))
      }
    }
  }

  test("a one-file mergeUpsert") {
    // the probe and the rewrite's collect; the inserts are local
    withScratch { root =>
      table(root, 1)
      assertJobs("mergeUpsert", 2)(
        assert(TxnLog.mergeUpsert(spark, root, rows(15, 25), "k", "m")
          .nonEmpty))
    }
  }

  test("a one-file mergeUpsert on the distributed ladder") {
    // auto-broadcast off: the source is not held on the driver, and the
    // ladder's joins shuffle instead of broadcasting
    withScratch { root =>
      table(root, 1)
      withThreshold(-1L)(assertJobs("mergeUpsert, auto-broadcast off", 16)(
        assert(TxnLog.mergeUpsert(spark, root, rows(15, 25), "k", "m")
          .nonEmpty)))
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

  test("an update-mode streaming pass over a file-source aggregation") {
    // a file-source batch carries its size estimate, so the sink's MERGE
    // holds the batch on the driver
    withScratch { root =>
      import spark.implicits._
      def feed(ks: Seq[Long]): Unit =
        ks.toDF("k").coalesce(1).write.mode("append").parquet(s"$root/in")
      feed(0L until 20L)
      val q = spark.readStream.schema("k LONG").parquet(s"$root/in")
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .writeStream.format("graft-txnlog")
        .option("path", s"$root/t").option("appId", "jobs")
        .option("mergeKey", "k").option("checkpointLocation", s"$root/ck")
        .outputMode("update").start()
      try {
        q.processAllAvailable()
        feed(15L until 25L)
        assertJobs("update-mode pass, file source", 4)(q.processAllAvailable())
      } finally q.stop()
      assert(TxnLog.read(spark, s"$root/t").count() == 25)
    }
  }

  test("an update-mode streaming pass over an aggregation") {
    // a MemoryStream batch reports no size estimate, so the sink's MERGE
    // takes the distributed ladder
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
    // held on the driver: the signatures' collect, then no job
    ladder("minhashCandidates held collect", 1)(Dedup.minhashCandidates(
      Tables.documents(spark, sfDir), "doc_id", "text").collect())
    withThreshold(-1L)(ladder("minhashCandidates collect", 3)(Dedup.minhashCandidates(
      Tables.documents(spark, sfDir), "doc_id", "text").collect()))
  }

  test("dedup ladder: dedupJaccard collect") {
    // held: the signatures' collect and the endpoint documents' collect
    ladder("dedupJaccard held collect", 2)(Dedup.dedupJaccard(spark, sfDir).collect())
    withThreshold(-1L)(
      ladder("dedupJaccard collect", 7)(Dedup.dedupJaccard(spark, sfDir).collect()))
  }

  test("dedup ladder: connectedComponents on a pair frame and on a path") {
    import spark.implicits._
    def components(pairs: => DataFrame): Unit = {
      val labels = Dedup.connectedComponents(spark, pairs)
      labels.collect()
      Caches.unpin(labels)
    }
    def candidates = Dedup.minhashCandidates(Tables.documents(spark, sfDir),
      "doc_id", "text")
    val path = Seq(17L, 12L, 19L, 11L, 15L, 14L, 20L)
    def pathPairs = path.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("doc_a", "doc_b")
    // held on the driver: a held candidate frame and a local pair frame
    // collect with no job
    val held = candidates
    ladder("connectedComponents held on the held candidates + collect", 0)(
      components(held))
    ladder("connectedComponents held on a 7-node path + collect", 0)(
      components(pathPairs))
    // the distributed fixpoint, auto-broadcast off: its joins shuffle
    withThreshold(-1L) {
      ladder("connectedComponents on the candidates + collect", 8)(
        components(candidates))
      // three rounds: the seed is inline, each round is one checkpoint
      // job plus its exchanges, and its change count rides on that job
      ladder("connectedComponents on a 7-node path + collect", 16)(
        components(pathPairs))
    }
  }

  test("dedup ladder: dedupApply plus a group count") {
    ladder("dedupApply group count", 3)(Dedup.dedupApply(spark, sfDir)
      .groupBy(col("kept")).count().collect())
  }

  test("dedup ladder: dedupEmbed collect") {
    // held on the driver: the vectors' collect, then no job
    ladder("dedupEmbed held collect", 1)(Dedup.dedupEmbed(spark, sfDir).collect())
    withThreshold(-1L)(
      ladder("dedupEmbed collect", 7)(Dedup.dedupEmbed(spark, sfDir).collect()))
  }

  test("dedup ladder: one benchmark pass") {
    // the `llm_dedup` benchmark's pass: a corpus read (its footer
    // inference is a job), then each rung built and collected
    def pass(): Unit = {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
      cand.select(col("doc_a"), col("doc_b")).collect()
      Dedup.dedupJaccard(spark, sfDir).select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
      val cc = Dedup.connectedComponents(spark, cand)
      cc.collect()
      Caches.unpin(cc)
      Dedup.dedupApply(spark, sfDir).groupBy(col("kept")).count().collect()
      Dedup.dedupEmbed(spark, sfDir)
        .select(col("vec_id"), col("nn_id"), col("is_near_dup")).collect()
    }
    ladder("a dedup ladder pass", 8)(pass())
  }

  test("a two-leaf Compactor.run") {
    withScratch { base =>
      rows(0, 40).withColumn("part", col("k") % 2).repartition(4)
        .write.partitionBy("part").parquet(s"$base/src")
      val c = Compactor.Config(sourceFolder = s"$base/src",
        targetFolder = s"$base/tgt", fileCount = 1,
        tmpFolder = s"$base/tmp")
      assertJobs("Compactor.run", 2)(assert(Compactor.run(spark, c).ok))
    }
  }
}
