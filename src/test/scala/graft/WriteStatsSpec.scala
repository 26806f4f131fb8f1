package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.GreaterThanOrEqual
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxnLog

/** Write-time bounds are taken from the rows being written (computed on
  * the driver for a held write, observed on the write job otherwise),
  * not read back from the file.
  * Every txn-log write path must still publish exactly what a
  * [[TxnLog.statsFor]] read-back of the written file computes, for
  * every column type the writers track, and must keep the empty-write
  * and refused-write contracts: no zero-row dirs, no leaked staging. */
class WriteStatsSpec extends AnyFunSuite with SparkSpec {

  private def withScratch(body: String => Unit): Unit = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_writestats_").toString
    try body(root)
    finally graft.core.Fixtures.deleteRecursively(new File(root))
  }

  /** The tracked column types, one column each, plus `z`: all-null. */
  private val typedCols = Seq("b", "d", "dec", "dt", "i", "k", "s", "ts")

  /** Rows `lo until hi` in `parts` partitions, keyed by `k`; `bump`
    * shifts every non-key value so a rewrite's bounds differ from its
    * input's. */
  private def typed(lo: Long, hi: Long, bump: Int = 0,
                    parts: Int = 4): DataFrame =
    spark.range(lo, hi, 1, parts).select(
      col("id").as("k"),
      ((col("id") * 7 + bump) % 23).cast("int").as("i"),
      (col("id") / 4.0 - 3.5 + bump).as("d"),
      (col("id") * 1.25 + bump).cast("decimal(12,2)").as("dec"),
      concat(lit("s"), lpad((col("id") + bump).cast("string"), 4, "0"))
        .as("s"),
      date_add(lit("2024-02-27").cast("date"), (col("id") + bump).cast("int"))
        .as("dt"),
      timestamp_seconds(col("id") * 3607 + bump + 1700000000L).as("ts"),
      ((col("id") + bump) % 3 === 0).as("b"),
      lit(null).cast("bigint").as("z"))

  /** Every live file's published bounds equal a read-back of the file;
    * files added since `before` carry a bound for every tracked column
    * and none for the all-null one. Returns the added files. */
  private def assertParity(root: String, before: Set[String],
                           what: String): Seq[String] = {
    val st = TxnLog.stateAt(root, TxnLog.latestVersion(root))
    for (f <- st.live.toSeq.sorted; s <- st.stats.getOrElse(f, Seq.empty))
      assert(TxnLog.statsFor(spark, root, f, s.col) == s,
        s"$what: $f.${s.col} published $s")
    val added = (st.live -- before).toSeq.sorted
    assert(added.nonEmpty, s"$what added no file")
    for (f <- added) {
      assert(st.stats.getOrElse(f, Seq.empty).map(_.col).sorted == typedCols,
        s"$what: $f bounds ${st.stats.get(f)}")
      val e = intercept[IllegalArgumentException](
        TxnLog.statsFor(spark, root, f, "z"))
      assert(e.getMessage.contains("all-null"))
    }
    added
  }

  private def live(root: String): Set[String] =
    TxnLog.stateAt(root, TxnLog.latestVersion(root)).live

  private def dirs(root: String): Seq[String] =
    new File(root).listFiles().filter(_.isDirectory).map(_.getName)
      .toSeq.sorted

  /** Each writer in turn on one table, checking [[assertParity]]. */
  private def everyWritePath(): Unit =
    withScratch { root =>
      def step(what: String, suffixes: String*)(op: => Any): Unit = {
        val before = live(root)
        op
        val added = assertParity(root, before, what)
        suffixes.foreach(sfx => assert(added.exists(_.endsWith(sfx)),
          s"$what: no ${sfx} output in $added"))
      }
      step("append", "w_a0")(
        assert(TxnLog.writeAppend(spark, root, typed(0, 40), "s", "a0") == 1))
      step("second append", "w_a1")(
        TxnLog.writeAppend(spark, root, typed(40, 80).coalesce(1), "s", "a1"))
      step("stream batch", "w_app_b000000")(
        assert(TxnLog.writeStreamBatch(spark, root, typed(80, 120), "app", 0L,
          "s").nonEmpty))
      // matched keys 41..43 live in w_a1 only; 500..502 insert
      step("merge rewrite + insert", "_u0000", "_ins")(
        assert(TxnLog.mergeUpsert(spark, root,
          typed(41, 44, bump = 5).union(typed(500, 503, bump = 1)), "k",
          "m").nonEmpty))
      step("general merge", "_g0000", "_gins")(
        assert(TxnLog.mergeClausesKeys(spark, root,
          typed(45, 47, bump = 9).union(typed(600, 602, bump = 2)),
          Seq("k"), "g", updateWhen = Some(lit(true)), deleteWhen = None,
          updateSet = Some(Seq("d" -> "__src_d", "s" -> "__src_s")),
          insertWhen = Some(col("k") > 600)).nonEmpty))
      step("delete", "_k0000")(
        assert(TxnLog.deleteRange(spark, root, "k", "81", "90", "d")
          .nonEmpty))
      step("update", "_r0000")(
        assert(TxnLog.update(spark, root,
          Seq("i" -> "i + 100", "dec" -> "dec * 2", "b" -> "NOT b"),
          Some("k BETWEEN 100 AND 104"), "u").nonEmpty))
      step("replaceWhere", "_k0000", "w_rw")(
        assert(TxnLog.writeReplaceWhere(spark, root, typed(110, 115, bump = 3),
          Array(GreaterThanOrEqual("k", 110L)), "r", "rw").nonEmpty))
      step("OPTIMIZE")(
        assert(TxnLog.compact(spark, root, "o").nonEmpty))
      assert(live(root).size == 1)
    }

  test("every write path publishes the bounds a read-back computes") {
    everyWritePath()
  }

  test("every write path publishes the bounds a read-back computes, " +
    "on write jobs") {
    // auto-broadcast off: no frame is held, every write runs its job
    withThreshold(-1L)(everyWritePath())
  }

  test("partitioned append slices publish the bounds a read-back computes") {
    withScratch { root =>
      val df = typed(0, 30).withColumn("region",
        when(col("k") % 3 === 0, "eu").otherwise("us"))
      assert(TxnLog.commitPartitionedAppend(spark, root, df, Seq("region"),
        typedCols :+ "z", "p") == 1)
      assert(assertParity(root, Set.empty, "partitioned append").size == 2)
    }
  }

  test("empty writes leave no data dir; a no-insert merge writes no _ins") {
    withScratch { root =>
      assert(TxnLog.writeAppend(spark, root, typed(0, 0), "s", "e0") == -1)
      assert(TxnLog.writeAppend(spark, root, typed(0, 10), "s", "a") == 1)
      assert(TxnLog.writeAppend(spark, root, typed(0, 0), "s", "e1") == -1)
      assert(!dirs(root).exists(_.startsWith("w_e")), dirs(root))
      // every source key matches: both merge shapes rewrite, none inserts
      assert(TxnLog.mergeUpsert(spark, root, typed(2, 4, bump = 1), "k", "m")
        .contains(2))
      assert(TxnLog.mergeClausesKeys(spark, root, typed(5, 7, bump = 1),
        Seq("k"), "g", updateWhen = Some(lit(true)), deleteWhen = None,
        updateSet = Some(Seq("i" -> "__src_i"))).contains(3))
      assert(!dirs(root).exists(d => d.endsWith("_ins") ||
        d.endsWith("_gins")), dirs(root))
      assert(TxnLog.read(spark, root).count() == 10)
    }
  }

  test("a CHECK violation still names the constraint and leaks no staging") {
    withScratch { root =>
      assert(TxnLog.writeAppend(spark, root, typed(1, 10), "s", "a") == 1)
      assert(TxnLog.addConstraint(spark, root, "k_pos", "k > 0", "s") == 2)
      // the first failing task ends the job while others still run;
      // none of them may recreate the deleted staging dir
      for (i <- 0 until 3) {
        val e = intercept[IllegalArgumentException](TxnLog.writeAppend(
          spark, root, typed(-2, 6, parts = 8), "s", s"bad$i"))
        assert(e.getMessage.contains("k_pos"), e.getMessage)
      }
      val e2 = intercept[IllegalArgumentException](
        TxnLog.mergeClausesKeys(spark, root, typed(-1, 0), Seq("k"), "g",
          updateWhen = None, deleteWhen = None,
          insertWhen = Some(lit(true))))
      assert(e2.getMessage.contains("k_pos"), e2.getMessage)
      assert(!dirs(root).exists(d => d.startsWith("w_bad") ||
        d.endsWith("_gins")),
        dirs(root))
      assert(TxnLog.latestVersion(root) == 2)
    }
  }
}
