package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StreamingShim
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxnLog
import graft.sources.TxnLog.{CommitInfo, Entry}

/** The two upsert-ladder MERGE paths agree: each case runs once with
  * the source held on the driver (the default threshold) and once on
  * the distributed ladder (auto-broadcast off), and both must leave the
  * same rows and commit the same entries — the same removes, the same
  * adds with the same bounds and partition tuples — or refuse with the
  * same message. A streaming update-mode batch frame carries its plan's
  * size, so a small batch takes the driver-held path. */
class MergePathSpec extends AnyFunSuite with SparkSpec with ScratchDirs {

  /** What a merge left: its result or refusal message, the table's rows,
    * and the entries of the version it committed (none when it
    * committed nothing), commit time left out. */
  private case class Outcome(result: Either[String, Option[Int]],
                             rows: Seq[String], entries: Seq[Entry])

  private def outcome(setup: String => Unit, src: => DataFrame,
                      keys: Seq[String], held: Boolean)
                     (merge: (String, DataFrame) => Option[Int]): Outcome = {
    val root = scratchDir("graft_mergepath_")
    setup(root)
    val source = src
    val before = TxnLog.latestVersion(root)
    assert(TxnLog.holdsOnDriver(source, keys,
      TxnLog.schemaAt(root, before)) == held)
    val result =
      try Right(merge(root, source))
      catch { case e: IllegalArgumentException => Left(e.getMessage) }
    val tip = TxnLog.latestVersion(root)
    Outcome(result,
      TxnLog.read(spark, root).collect().map(_.toString).sorted.toSeq,
      if (tip == before) Seq.empty
      else TxnLog.entriesAt(root, tip).filterNot(_.isInstanceOf[CommitInfo]))
  }

  /** Run `merge` over a fresh `setup` table on both paths; returns the
    * (shared) outcome. */
  private def bothPaths(setup: String => Unit, src: => DataFrame,
                        keys: Seq[String] = Seq("k"))
                       (merge: (String, DataFrame) => Option[Int]): Outcome = {
    val held = outcome(setup, src, keys, held = true)(merge)
    val ladder = withThreshold(-1L)(outcome(setup, src, keys, held = false)(merge))
    assert(held == ladder)
    held
  }

  private def kvs(rows: (Long, Option[Long], String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v", "s")
  }

  private def append(root: String, tag: String, df: DataFrame): Unit = {
    TxnLog.writeAppend(spark, root, df.coalesce(1), "s", tag); ()
  }

  private def adds(o: Outcome): Seq[TxnLog.AddFile] =
    o.entries.collect { case a: TxnLog.AddFile => a }

  private def removes(o: Outcome): Seq[String] =
    o.entries.collect { case TxnLog.Action("remove", f) => f }

  test("null conditions never fire, delete precedes update, and an " +
    "all-delete file is a pure remove") {
    val o = bothPaths(root => {
        append(root, "a", kvs((1L, Some(10L), "a"), (2L, None, "b"),
          (3L, Some(10L), "c"), (4L, Some(10L), "d"), (5L, Some(5L), "e")))
        append(root, "b", kvs((40L, Some(1L), "x")))
      },
      kvs((1L, Some(20L), "u"), (2L, Some(5L), "u"), (3L, None, "u"),
        (4L, Some(99L), "del"), (40L, Some(9L), "del"), (50L, Some(1L), "i"))) {
      (root, src) =>
        TxnLog.mergeClauses(spark, root, src, "k", "m",
          updateWhen = Some(col("__src_v") > col("v")),
          deleteWhen = Some(col("__src_s") === "del"))
    }
    assert(o.result == Right(Some(3)))
    assert(o.rows == Seq("[1,20,u]", "[2,null,b]", "[3,10,c]", "[5,5,e]",
      "[50,1,i]"))
    assert(removes(o) == Seq("w_a", "w_b"))
    assert(adds(o).map(_.file) == Seq("m00000003_m_u0000", "m00000003_m_ins"))
  }

  test("a key in two live files lands once, in the first; duplicate-key " +
    "rows in one file take their own clauses") {
    val o = bothPaths(root => {
        append(root, "a", kvs((5L, Some(1L), "a"), (6L, Some(1L), "a")))
        append(root, "b", kvs((5L, Some(2L), "b"), (7L, Some(2L), "b")))
        append(root, "c", kvs((20L, Some(1L), "c"), (20L, Some(2L), "c"),
          (21L, Some(3L), "c")))
      },
      kvs((5L, Some(50L), "n"), (20L, Some(200L), "n"))) {
      (root, src) =>
        TxnLog.mergeClauses(spark, root, src, "k", "m",
          updateWhen = Some(lit(true)),
          deleteWhen = Some(col("k") === 20L && col("v") === 1L))
    }
    // key 5 fires update in w_a and w_b, and w_a owns the replacement;
    // of key 20's rows, v=1 deletes and v=2 updates
    assert(o.rows == Seq("[20,200,n]", "[21,3,c]", "[5,50,n]", "[6,1,a]",
      "[7,2,b]"))
    assert(removes(o) == Seq("w_a", "w_b", "w_c"))
    val kBounds = adds(o).map(a => a.file ->
      a.cols.find(_.col == "k").map(s => (s.min, s.max)))
    assert(kBounds == Seq("m00000004_m_u0000" -> Some(("5", "6")),
      "m00000004_m_u0001" -> Some(("7", "7")),
      "m00000004_m_u0002" -> Some(("20", "21"))), kBounds)
  }

  test("a null source key refuses; a vectored candidate and a " +
    "partitioned table rewrite alike") {
    val nullKey = bothPaths(root => append(root, "a", kvs((1L, Some(1L), "a"))),
      { import spark.implicits._
        Seq((Option.empty[Long], 1L, "n")).toDF("k", "v", "s") }) {
      (root, src) => TxnLog.mergeUpsert(spark, root, src, "k", "m")
    }
    assert(nullKey.result.left.exists(_.contains("(1 rows, 0 keys)")))
    val dv = bothPaths(root => {
        append(root, "a", kvs((1L to 10L).map(k => (k, Some(k), "a")): _*))
        assert(TxnLog.deleteRangeDV(spark, root, "k", "3", "5", "d").nonEmpty)
      },
      kvs((4L, Some(40L), "n"), (6L, Some(60L), "n"))) {
      (root, src) => TxnLog.mergeUpsert(spark, root, src, "k", "m")
    }
    assert(dv.rows.count(_.startsWith("[4,")) == 1 && dv.rows.size == 8)
    val part = bothPaths(root => {
        TxnLog.commitPartitionedAppend(spark, root,
          kvs((1L, Some(1L), "a"), (2L, Some(2L), "a"), (3L, Some(3L), "b")),
          Seq("s"), Seq("k"), "p"); ()
      },
      kvs((1L, Some(10L), "a"), (3L, Some(30L), "c"))) {
      (root, src) => TxnLog.mergeUpsert(spark, root, src, "k", "m")
    }
    // the "a" rewrite keeps its tuple; the "b" file's only row moves to
    // s = "c", so its rewrite publishes no tuple
    val tuples = adds(part).map(a => a.file -> a.part).toMap
    assert(tuples.values.toSeq.contains(Seq("s" -> "a")), tuples)
    assert(!tuples.values.toSeq.contains(Seq("s" -> "b")), tuples)
    assert(adds(part).forall(_.cols.exists(_.col == "k")), adds(part))
  }

  test("CHECK gates update-firing rows, not delete-only ones") {
    def checked(root: String): Unit = {
      append(root, "a", kvs((1L, Some(1L), "a"), (2L, Some(2L), "a")))
      TxnLog.addConstraint(spark, root, "v_pos", "v >= 0", "c"); ()
    }
    val deleteOnly = bothPaths(checked, kvs((1L, Some(-1L), "x"))) {
      (root, src) =>
        TxnLog.mergeClauses(spark, root, src, "k", "m",
          updateWhen = Some(col("__src_v") > col("v")),
          deleteWhen = Some(col("__src_v") < 0L), insertUnmatched = false)
    }
    assert(deleteOnly.result.isRight && deleteOnly.rows == Seq("[2,2,a]"))
    val updating = bothPaths(checked, kvs((2L, Some(-5L), "x"))) {
      (root, src) => TxnLog.mergeUpsert(spark, root, src, "k", "m")
    }
    assert(updating.result.left.exists(m =>
      m.contains("merge-written rows violates table constraints") &&
        m.contains("v_pos")), updating.result)
  }

  test("schema evolution, an empty source's txn marker, and the " +
    "duplicate-source refusal") {
    import spark.implicits._
    val evolved = bothPaths(root => append(root, "a", kvs((1L, Some(1L), "a"))),
      Seq((1L, Some(2L), "b", 7L), (9L, Some(9L), "c", 8L))
        .toDF("k", "v", "s", "x")) {
      (root, src) =>
        TxnLog.mergeClausesKeys(spark, root, src, Seq("k"), "m",
          updateWhen = Some(lit(true)), deleteWhen = None, evolveSchema = true)
    }
    assert(evolved.rows == Seq("[1,2,b,7]", "[9,9,c,8]"))
    assert(evolved.entries.exists(_.isInstanceOf[TxnLog.MetaData]))
    val marker = bothPaths(root => append(root, "a", kvs((1L, Some(1L), "a"))),
      kvs()) {
      (root, src) =>
        TxnLog.mergeClauses(spark, root, src, "k", "m",
          updateWhen = Some(lit(true)), deleteWhen = None,
          txn = Some(("app", 7L)))
    }
    assert(marker.entries == Seq(TxnLog.SetTxn("app", 7L)))
    val dup = bothPaths(root => append(root, "a", kvs((1L, Some(1L), "a"))),
      kvs((1L, Some(2L), "b"), (1L, Some(3L), "c"))) {
      (root, src) => TxnLog.mergeUpsert(spark, root, src, "k", "m")
    }
    assert(dup.result == Left("requirement failed: merge source has " +
      "duplicate k tuples (2 rows, 1 keys)"))
  }

  test("a composite string/timestamp key prunes and matches alike") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val o = bothPaths(root => {
        append(root, "a", Seq(("eu", ts("2024-01-01 00:00:00"), 1L),
          ("eu", ts("2024-01-02 12:30:00.5"), 2L)).toDF("r", "t", "v"))
        append(root, "b", Seq(("us", ts("2024-01-03 00:00:00"), 3L))
          .toDF("r", "t", "v"))
      },
      Seq(("eu", ts("2024-01-02 12:30:00.5"), 20L),
        ("us", ts("2024-01-03 00:00:00"), 30L)).toDF("r", "t", "v"),
      keys = Seq("r", "t")) {
      (root, src) =>
        TxnLog.mergeClausesKeys(spark, root, src, Seq("r", "t"), "m",
          updateWhen = Some(lit(true)), deleteWhen = None)
    }
    assert(o.rows.map(_.split(",").last) == Seq("1]", "20]", "30]"), o.rows)
    assert(removes(o) == Seq("w_a", "w_b"))
  }

  test("an update-mode batch frame carries its plan's size and takes the " +
    "driver-held path; the sink still refuses a replayed batch") {
    import spark.implicits._
    val dir = scratchDir("graft_mergepath_stream_")
    val in = s"$dir/in"
    def feed(ks: Long*): Unit =
      ks.toDF("k").coalesce(1).write.mode("append").parquet(in)
    def pass(sink: String, ck: String, opts: Map[String, String]): Unit = {
      val q = spark.readStream.schema("k LONG").parquet(in)
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .writeStream.format(sink).options(opts)
        .option("checkpointLocation", s"$dir/$ck")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    feed(1L, 2L, 2L)
    MergePathSpec.seen.clear()
    pass(classOf[BatchFrameProbe].getName, "ck_probe", Map.empty)
    val thresh = spark.sessionState.conf.autoBroadcastJoinThreshold
    assert(!MergePathSpec.seen.isEmpty)
    MergePathSpec.seen.forEach { case (size, held) =>
      assert(size <= thresh && held, s"batch frame sized $size, held $held")
    }
    val tbl = s"$dir/tbl"
    val sinkOpts = Map("path" -> tbl, "appId" -> "agg", "mergeKey" -> "k")
    pass("graft-txnlog", "ck_tbl", sinkOpts)
    feed(2L, 3L)
    pass("graft-txnlog", "ck_tbl", sinkOpts)
    def tip(): Map[Long, Long] = TxnLog.read(spark, tbl).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tip() == Map(1L -> 1L, 2L -> 3L, 3L -> 1L))
    val v = TxnLog.latestVersion(tbl)
    val consumed = TxnLog.stateAt(tbl, v).txns("agg")
    assert(TxnLog.writeStreamBatchUpdate(spark, tbl,
      Seq((1L, 99L)).toDF("k", "n"), "k", "agg", consumed, "s").isEmpty)
    assert(TxnLog.latestVersion(tbl) == v)
    assert(tip() == Map(1L -> 1L, 2L -> 3L, 3L -> 1L))
  }
}

object MergePathSpec {
  /** Each probed batch frame's size estimate and whether MERGE would
    * hold it on the driver. */
  val seen = new ConcurrentLinkedQueue[(BigInt, Boolean)]
}

/** A sink that re-roots each batch the way the txn-log sink does and
  * records what MERGE would see of it. */
class BatchFrameProbe extends StreamSinkProvider {
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = new Sink {
    override def addBatch(batchId: Long, data: DataFrame): Unit = {
      val batch = StreamingShim.asBatchFrame(data)
      MergePathSpec.seen.add((
        batch.queryExecution.optimizedPlan.stats.sizeInBytes,
        TxnLog.holdsOnDriver(batch, Seq("k"), None)))
      batch.collect(); ()
    }
  }
}
