package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ConditionalPutLogStore, HadoopLogStore,
  LocalLogStore, TxnLog, TxnLogOps}

/** The r10 txn-log surface: the pluggable LogStore seam (local
  * hard-link vs Hadoop rename arbitration and their interop), the
  * conflict-aware read-modify-write commits, row-level MERGE
  * copy-on-write byte-identity, partition + multi-column pruning, the
  * post-cleanup vacuum census, and the ADVICE-r9 loud-failure /
  * null-padding contracts. */
class LogStoreSpec extends AnyFunSuite with SparkSpec {

  private def withScratch(body: String => Unit): Unit = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_logstore_").toString
    try body(root)
    finally graft.core.Fixtures.deleteRecursively(new java.io.File(root))
  }

  private def hadoopLog: TxnLogOps =
    new TxnLogOps(new HadoopLogStore(
      spark.sparkContext.hadoopConfiguration))

  /** Every store binding the protocol runs against, by name — the
    * storage matrix (r11: local hard link, Hadoop no-overwrite
    * rename, object-store conditional put). A fresh ops handle per
    * call so the in-memory store never leaks state across tests. */
  private def allStores: Seq[(String, TxnLogOps)] = Seq(
    "local" -> TxnLog,
    "hadoop" -> hadoopLog,
    "condput" -> new TxnLogOps(new ConditionalPutLogStore),
    "objectstore" -> new TxnLogOps(new graft.sources.ObjectStoreLogStore(
      new graft.sources.LocalFakeObjectStore)))

  // ----------------------------------------------------- store parity

  /** The full-protocol exercise every non-default store must pass:
    * schema-publishing and evolving appends, reads at versions,
    * checkpoint crossing, log cleanup, timestamp resolution. */
  private def fullProtocol(log: TxnLogOps): Unit = {
    import spark.implicits._
    withScratch { root =>
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/f0")
      Seq((3L, 30.0, "x")).toDF("k", "v", "tag")
        .coalesce(1).write.parquet(s"$root/f1")
      assert(log.commitAppend(root, Seq("f0"), "k BIGINT,v DOUBLE",
        "hs") == 1)
      assert(log.commitAppend(root, Seq("f1"),
        "k BIGINT,v DOUBLE,tag STRING", "hs", evolve = true) == 2)
      assert(log.schemaAt(root, 2).map(_.toDDL)
        .contains("k BIGINT,v DOUBLE,tag STRING"))
      assert(log.read(spark, root).count() == 3)
      assert(log.read(spark, root, 1).columns.toSeq == Seq("k", "v"))
      // cross the checkpoint interval; state resolves from the
      // checkpoint alone after cleanup — all through this store
      for (i <- 3 to 12)
        assert(log.tryCommit(root, i, Seq(TxnLog.add(s"g$i")), "hs",
          nowMs = i * 1000L))
      assert(log.checkpoints(root) == Seq(10))
      val before = log.stateAt(root, 12)
      assert(log.cleanupLog(root).nonEmpty)
      assert(log.stateAt(root, 12) == before)
      // v1/v2 committed on the wall clock, so later pinned nowMs got
      // clamped monotonic — probe with the ACTUAL timestamps
      assert(log.versionAsOf(root, log.commitTs(root, 10)) == 10)
      assert(log.versionAsOf(root, log.commitTs(root, 11) - 1) == 10)
      assert(log.tryCommit(root, 13, Seq(TxnLog.add("g13")), "hs"))
    }
  }

  test("hadoop store runs the full protocol: commit, checkpoint, read, evo") {
    fullProtocol(hadoopLog)
  }

  test("conditional-put store runs the full protocol: commit, checkpoint, read, evo") {
    fullProtocol(new TxnLogOps(new ConditionalPutLogStore))
  }

  test("store-selection flag: forName binds each store by name and " +
    "refuses unknowns; the unset default is local") {
    assert(graft.sources.LogStore.forName("local") eq
      graft.sources.LocalLogStore)
    assert(graft.sources.LogStore.forName("hadoop")
      .isInstanceOf[HadoopLogStore])
    assert(graft.sources.LogStore.forName("objectstore")
      .isInstanceOf[graft.sources.ObjectStoreLogStore])
    intercept[IllegalArgumentException](
      graft.sources.LogStore.forName("s3-direct"))
    // a flag-named binding runs a real commit round-trip
    val log = new TxnLogOps(graft.sources.LogStore.forName("objectstore"))
    withScratch { root =>
      assert(log.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      assert(log.liveFiles(root, 1) == Seq("f0"))
    }
    // the default TxnLog object came up on the unset flag = local
    assert(sys.props.get("graft.logstore").isEmpty)
  }

  test("object-store binding runs the full protocol over the S3-shaped " +
    "client (r13): commit, checkpoint, read, evo") {
    fullProtocol(new TxnLogOps(new graft.sources.ObjectStoreLogStore(
      new graft.sources.LocalFakeObjectStore)))
  }

  test("object-store binding: injected PUT fault surfaces, log " +
    "uncorrupted, retry lands; losers of a conditional-put race abort") {
    val client = new graft.sources.LocalFakeObjectStore
    val log = new TxnLogOps(new graft.sources.ObjectStoreLogStore(client))
    withScratch { root =>
      assert(log.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      client.failNextPuts(1)
      intercept[java.io.IOException](
        log.tryCommit(root, 2, Seq(TxnLog.add("f1")), "s"))
      assert(log.latestVersion(root) == 1)
      assert(log.liveFiles(root, 1) == Seq("f0"))
      assert(log.tryCommit(root, 2, Seq(TxnLog.add("f1")), "s"))
      assert(log.liveFiles(root, 2) == Seq("f0", "f1"))
      // of N racers on one slot, exactly one conditional PUT wins
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val wins = try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence((0 until 8).map(i =>
          scala.concurrent.Future(log.tryCommit(root, 3,
            Seq(TxnLog.add(s"r$i")), s"race$i")))),
        scala.concurrent.duration.Duration.Inf).count(identity)
      finally pool.shutdown()
      assert(wins == 1, s"conditional put arbitration broke: $wins wins")
    }
  }

  test("object-store existence checks ride the HEAD verb: zero body " +
    "reads (r14, VERDICT r13 #7)") {
    val client = new graft.sources.LocalFakeObjectStore
    val log = new TxnLogOps(new graft.sources.ObjectStoreLogStore(client))
    withScratch { root =>
      assert(log.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      assert(log.commitNext(root, Seq(TxnLog.add("f1")), "s") == 2)
      val before = client.bodyReads.get()
      assert(log.store.logExists(root, "v00000001.jsonl"))
      assert(log.store.logExists(root, "v00000002.jsonl"))
      assert(!log.store.logExists(root, "v00000009.jsonl"))
      assert(client.bodyReads.get() == before,
        s"existence checks GET'd ${client.bodyReads.get() - before} " +
          "bodies — logExists must use HEAD")
    }
  }

  test("all stores replay one pinned commit sequence to the identical state") {
    allStores.map { case (name, log) =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_parity_$name").toString
      try {
        assert(log.tryCommit(root, 1, Seq(TxnLog.add("f0"),
          TxnLog.add("f1")), "s", nowMs = 1000L))
        assert(log.tryCommit(root, 2, Seq(TxnLog.remove("f0"),
          TxnLog.AddStats("f2",
            TxnLog.FileStats("k", "1", "9", 9L))), "s", nowMs = 2000L))
        name -> (log.entriesAt(root, 1), log.entriesAt(root, 2),
          log.stateAt(root, 2))
      } finally graft.core.Fixtures.deleteRecursively(
        new java.io.File(root))
    }.sliding(2).foreach {
      case Seq((a, sa), (b, sb)) =>
        assert(sa == sb, s"stores $a and $b disagree:\n$sa\n$sb")
      case _ => ()
    }
  }

  test("local and hadoop stores read each other's tables byte-for-byte") {
    import spark.implicits._
    val log = hadoopLog
    withScratch { root =>
      Seq((1L, 1.0)).toDF("k", "v").coalesce(1).write.parquet(s"$root/f0")
      // written by the local binding, read by the hadoop one
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f0")), "loc") == 1)
      assert(log.liveFiles(root, 1) == Seq("f0"))
      // and the reverse: hadoop commit, local replay — one on-disk
      // format, two arbiters
      assert(log.tryCommit(root, 2, Seq(TxnLog.remove("f0"),
        TxnLog.add("f0")), "had"))
      assert(TxnLog.liveFiles(root, 2) == Seq("f0"))
      assert(TxnLog.entriesAt(root, 2) == log.entriesAt(root, 2))
    }
  }

  test("every store: two racers on one slot see exactly one winner") {
    for ((name, log) <- allStores) withScratch { root =>
      assert(log.commitNext(root, Seq(TxnLog.add("f0")), "seed") == 1)
      val slot = log.latestVersion(root) + 1
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val races = Seq("a", "b").map { who =>
        scala.concurrent.Future {
          gate.await()
          log.tryCommit(root, slot, Seq(TxnLog.add(s"f_$who")), who)
        }
      }
      gate.countDown()
      val wins = races.map(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration("30s")))
      pool.shutdown()
      assert(wins.count(identity) == 1,
        s"[$name] expected one winner, got $wins")
      assert(log.versions(root) == Seq(1, 2), s"[$name]")
      // no tmp litter in the log dir after the race (file-based
      // stores; the conditional-put store writes no tmp at all)
      val litter = Option(new java.io.File(root, "_log").listFiles())
        .toSeq.flatten.map(_.getName).filter(_.startsWith(".tmp_"))
      assert(litter.isEmpty, s"[$name] tmp litter: $litter")
    }
  }

  test("conditional-put: an injected put fault surfaces, log uncorrupted, retry lands") {
    val store = new ConditionalPutLogStore
    val log = new TxnLogOps(store)
    withScratch { root =>
      assert(log.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      store.failNextPuts(1)
      // the transient object-store fault must surface (never read as
      // a lost race) and leave the log exactly as it was
      intercept[java.io.IOException](
        log.tryCommit(root, 2, Seq(TxnLog.add("f1")), "s"))
      assert(log.latestVersion(root) == 1)
      assert(log.liveFiles(root, 1) == Seq("f0"))
      // a plain retry of the same commit lands
      assert(log.tryCommit(root, 2, Seq(TxnLog.add("f1")), "s"))
      assert(log.liveFiles(root, 2) == Seq("f0", "f1"))
    }
  }

  // --------------------------------------------------- shallow clone

  test("shallow clone: zero-copy create, copy-on-write privatization, isolation") {
    import spark.implicits._
    withScratch { src =>
      withScratch { dst =>
        // source: two stats-carrying files + a deletion vector
        (0L to 4L).map(k => (k, k * 10.0)).toDF("k", "v")
          .coalesce(1).write.parquet(s"$src/f0")
        (5L to 9L).map(k => (k, k * 10.0)).toDF("k", "v")
          .coalesce(1).write.parquet(s"$src/f1")
        assert(TxnLog.commitNext(src, Seq("f0", "f1").map(f =>
          TxnLog.AddStats(f, TxnLog.statsFor(spark, src, f, "k"))) :+
          TxnLog.MetaData("k BIGINT,v DOUBLE"), "s") == 1)
        assert(TxnLog.deleteRangeDV(spark, src, "k", "7", "8", "s")
          .contains(2))
        val srcRows = TxnLog.read(spark, src).collect().toSet
        assert(srcRows.size == 8)

        // clone = ONE metadata commit; no data dir appears under dst
        assert(TxnLog.cloneTable(src, dst, "c") == 1)
        val dataDirs = Option(new java.io.File(dst).listFiles())
          .toSeq.flatten.filter(_.isDirectory).map(_.getName)
          .filterNot(_ == "_log")
        assert(dataDirs.isEmpty, s"clone wrote data: $dataDirs")
        assert(TxnLog.read(spark, dst).collect().toSet == srcRows)
        val st1 = TxnLog.stateAt(dst, 1)
        assert(st1.live == Set("f0", "f1"))
        assert(st1.ext.keySet.contains("f0") &&
          st1.ext.keySet.contains("f1"))
        assert(st1.dvs.contains("f1"), "cloned vector lost")
        // stats carried: pruning works on the clone from its own log
        assert(TxnLog.prune(dst, 1, "k", "0", "4")._2 == Seq("f1"))

        // copy-on-write on the CLONE privatizes only the touched file
        assert(TxnLog.deleteRange(spark, dst, "k", "0", "2", "w")
          .contains(2))
        val st2 = TxnLog.stateAt(dst, 2)
        assert(!st2.live.contains("f0") && st2.live.contains("f1"))
        assert(st2.live.exists(f => !st2.ext.contains(f)),
          "rewrite output should be a LOCAL file")
        assert(st2.ext.contains("f1"), "untouched file stays ext")
        // the source never moved
        assert(TxnLog.read(spark, src).collect().toSet == srcRows)
        assert(TxnLog.latestVersion(src) == 2)
        assert(TxnLog.read(spark, dst).collect().toSet ==
          srcRows.filterNot(r => r.getLong(0) <= 2))

        // clone-of-clone: still-ext files resolve to the ORIGINAL
        withScratch { dst2 =>
          assert(TxnLog.cloneTable(dst, dst2, "c2") == 1)
          val stc = TxnLog.stateAt(dst2, 1)
          val srcAbs = new java.io.File(src).getAbsolutePath
          assert(stc.ext("f1") == s"$srcAbs/f1",
            s"chained ref: ${stc.ext("f1")}")
          assert(TxnLog.read(spark, dst2).collect().toSet ==
            TxnLog.read(spark, dst).collect().toSet)
        }

        // the clone's vacuum cannot reclaim source data
        TxnLog.vacuum(dst, retainVersions = 1, listingGraceMs = 0L)
        assert(new java.io.File(src, "f0").exists &&
          new java.io.File(src, "f1").exists,
          "clone vacuum reclaimed SOURCE data")
        assert(TxnLog.read(spark, src).collect().toSet == srcRows)

        // CDF on the clone announces exactly its own delete
        val cdf = TxnLog.readChanges(spark, dst, 1, 2)
        assert(cdf.where(col("_change_type") === "delete")
          .select(col("k")).collect().map(_.getLong(0)).toSet ==
          Set(0L, 1L, 2L))

        // restore the clone to v1: ext refs + vector re-attach
        assert(TxnLog.restore(dst, 1, "r").contains(3))
        assert(TxnLog.read(spark, dst).collect().toSet == srcRows)
        val st3 = TxnLog.stateAt(dst, 3)
        assert(st3.ext.contains("f0") && st3.dvs.contains("f1"))
      }
    }
  }

  test("relative-ref clone survives moving the whole tree") {
    import spark.implicits._
    withScratch { tree =>
      val src = s"$tree/src"; val dst = s"$tree/clone"
      new java.io.File(src).mkdirs(); new java.io.File(dst).mkdirs()
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$src/f0")
      assert(TxnLog.commitAppend(src, Seq("f0"), "k BIGINT,v DOUBLE",
        "s") == 1)
      assert(TxnLog.cloneTable(src, dst, "c", relativeRefs = true) == 1)
      assert(TxnLog.stateAt(dst, 1).ext("f0") == "../src/f0")
      assert(TxnLog.read(spark, dst).count() == 2)
      // move the WHOLE tree: a relative clone keeps reading
      val moved = s"${tree}_moved"
      assert(new java.io.File(tree).renameTo(new java.io.File(moved)))
      try assert(TxnLog.read(spark, s"$moved/clone").count() == 2)
      finally {
        // move back so withScratch's cleanup finds the dir
        assert(new java.io.File(moved).renameTo(new java.io.File(tree)))
      }
    }
  }

  test("clone carries constraints; checked writes on the clone enforce them") {
    import spark.implicits._
    withScratch { src =>
      withScratch { dst =>
        Seq((1L, 1.0)).toDF("k", "v").coalesce(1)
          .write.parquet(s"$src/base")
        assert(TxnLog.commitAppend(src, Seq("base"),
          "k BIGINT,v DOUBLE", "s") == 1)
        assert(TxnLog.addConstraint(spark, src, "k_pos", "k > 0",
          "s") == 2)
        assert(TxnLog.cloneTable(src, dst, "c") == 1)
        Seq((-1L, 2.0)).toDF("k", "v").coalesce(1)
          .write.parquet(s"$dst/bad")
        val e = intercept[IllegalArgumentException](
          TxnLog.commitAppendChecked(spark, dst, Seq("bad"),
            "k BIGINT,v DOUBLE", "s"))
        assert(e.getMessage.contains("k_pos"))
        assert(TxnLog.latestVersion(dst) == 1)
      }
    }
  }

  // --------------------------------------------------- column mapping

  test("rename column: metadata-only, time-travels, chains, prunes, rewrites privatize") {
    import spark.implicits._
    withScratch { root =>
      // two stats-carrying files under the ORIGINAL name `k`
      (0L to 4L).map(k => (k, k * 1.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/f0")
      (5L to 9L).map(k => (k, k * 1.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/f1")
      assert(TxnLog.tryCommit(root, 1, Seq("f0", "f1").map(f =>
        TxnLog.AddStats(f, TxnLog.statsFor(spark, root, f, "k"))) :+
        TxnLog.MetaData("k BIGINT,v DOUBLE"), "s"))
      // rename k -> id: zero data I/O (no new data dir appears)
      val dirsBefore = Option(new java.io.File(root).listFiles())
        .toSeq.flatten.count(_.isDirectory)
      assert(TxnLog.renameColumn(root, "k", "id", "s") == 2)
      assert(Option(new java.io.File(root).listFiles())
        .toSeq.flatten.count(_.isDirectory) == dirsBefore)
      // tip reads the new name with the OLD files' values
      val tip = TxnLog.read(spark, root)
      assert(tip.columns.toSeq == Seq("id", "v"))
      assert(tip.agg(sum(col("id"))).head().getLong(0) == 45L)
      // ...while v1 still reads the old name: names time-travel
      assert(TxnLog.read(spark, root, 1).columns.toSeq == Seq("k", "v"))
      // stats logged under `k` keep pruning a predicate on `id`
      assert(TxnLog.prune(root, 2, "id", "0", "4")._2 == Seq("f1"))
      // a post-rename append writes the NEW name; both generations read
      (10L to 11L).map(k => (k, k * 1.0)).toDF("id", "v")
        .coalesce(1).write.parquet(s"$root/f2")
      assert(TxnLog.tryCommit(root, 3, Seq(TxnLog.AddStats("f2",
        TxnLog.statsFor(spark, root, "f2", "id"))), "s"))
      assert(TxnLog.read(spark, root).agg(sum(col("id")))
        .head().getLong(0) == 66L)
      // chained rename: id -> key still reads ALL THREE generations
      // (f0/f1 carry physical k, f2 carries physical id)
      assert(TxnLog.renameColumn(root, "id", "key", "s") == 4)
      assert(TxnLog.read(spark, root).agg(sum(col("key")))
        .head().getLong(0) == 66L)
      assert(TxnLog.prune(root, 4, "key", "0", "4")._2.toSet ==
        Set("f1", "f2"))
      // row-level ops speak the logical name across generations
      assert(TxnLog.deleteRange(spark, root, "key", "10", "11", "d")
        .contains(5))
      assert(TxnLog.read(spark, root).agg(sum(col("key")))
        .head().getLong(0) == 45L)
      // a rewrite of an old file privatizes the rename: merge on the
      // logical key rewrites f1's rows under the CURRENT names
      assert(TxnLog.mergeUpsert(spark, root,
        Seq((5L, 50.0)).toDF("key", "v"), "key", "m").isDefined)
      val rw = TxnLog.read(spark, root)
      assert(rw.where(col("key") === 5L).head().getDouble(1) == 50.0)
      assert(rw.agg(sum(col("key"))).head().getLong(0) == 45L)
      // tombstones: neither retired spelling can come back
      val e1 = intercept[IllegalArgumentException](
        TxnLog.commitAppend(root, Seq("fx"),
          "key BIGINT,v DOUBLE,k STRING", "s", evolve = true))
      assert(e1.getMessage.contains("retired"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](
        TxnLog.renameColumn(root, "key", "id", "s"))
      assert(e2.getMessage.contains("retired"), e2.getMessage)
      // the mapping survives checkpoints (v1..v6 so far; cross 10)
      for (i <- 7 to 11)
        assert(TxnLog.tryCommit(root, i,
          Seq(TxnLog.SetTxn("pad", i)), "s"))
      assert(TxnLog.cleanupLog(root).nonEmpty)
      assert(TxnLog.read(spark, root).columns.head == "key")
      assert(TxnLog.stateAt(root, TxnLog.latestVersion(root))
        .colmap("key").toSet == Set("k", "id"))
    }
  }

  test("drop column: metadata-only, constraint-guarded, restore brings names back") {
    import spark.implicits._
    withScratch { root =>
      (1L to 4L).map(k => (k, k * 2.0, s"t$k")).toDF("k", "v", "tag")
        .coalesce(1).write.parquet(s"$root/f0")
      assert(TxnLog.commitAppend(root, Seq("f0"),
        "k BIGINT,v DOUBLE,tag STRING", "s") == 1)
      assert(TxnLog.addConstraint(spark, root, "v_pos", "v > 0",
        "s") == 2)
      // a constraint referencing the column blocks rename AND drop
      val e1 = intercept[IllegalArgumentException](
        TxnLog.renameColumn(root, "v", "value", "s"))
      assert(e1.getMessage.contains("v_pos"))
      val e2 = intercept[IllegalArgumentException](
        TxnLog.dropColumn(root, "v", "s"))
      assert(e2.getMessage.contains("v_pos"))
      // dropping an unreferenced column is one metadata commit
      assert(TxnLog.dropColumn(root, "tag", "s") == 3)
      val tip = TxnLog.read(spark, root)
      assert(tip.columns.toSeq == Seq("k", "v"))
      // time travel still reads it; evolve cannot re-admit it
      assert(TxnLog.read(spark, root, 2).columns.contains("tag"))
      val e3 = intercept[IllegalArgumentException](
        TxnLog.commitAppend(root, Seq("fy"),
          "k BIGINT,v DOUBLE,tag STRING", "s", evolve = true))
      assert(e3.getMessage.contains("retired"))
      // RESTORE to before the drop: schema, values, and the name's
      // usability all come back (the tombstone is lifted)
      assert(TxnLog.restore(root, 2, "r").contains(4))
      val back = TxnLog.read(spark, root)
      assert(back.columns.toSeq == Seq("k", "v", "tag"))
      assert(back.where(col("k") === 2L).select(col("tag"))
        .head().getString(0) == "t2")
      assert(TxnLog.stateAt(root, 4).dropped.isEmpty)
      // restore ACROSS a rename rolls the mapping back too
      assert(TxnLog.renameColumn(root, "tag", "label", "s") == 5)
      assert(TxnLog.read(spark, root).columns.toSeq ==
        Seq("k", "v", "label"))
      assert(TxnLog.restore(root, 4, "r2").contains(6))
      val undone = TxnLog.read(spark, root)
      assert(undone.columns.toSeq == Seq("k", "v", "tag"))
      assert(undone.agg(sum(col("v"))).head().getDouble(0) == 20.0)
      assert(TxnLog.stateAt(root, 6).colmap.isEmpty)
      assert(TxnLog.stateAt(root, 6).dropped.isEmpty)
    }
  }

  test("deletion vectors and CDF work across a rename") {
    import spark.implicits._
    withScratch { root =>
      (0L to 9L).map(k => (k, k * 1.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/f0")
      assert(TxnLog.commitAppend(root, Seq("f0"), "k BIGINT,v DOUBLE",
        "s") == 1)
      assert(TxnLog.renameColumn(root, "k", "id", "s") == 2)
      // merge-on-read delete through the LOGICAL name on a physical-k
      // file: the vector applies and the read drops the rows
      assert(TxnLog.deleteRangeDV(spark, root, "id", "3", "5", "d")
        .contains(3))
      assert(TxnLog.read(spark, root).agg(sum(col("id")))
        .head().getLong(0) == (0L to 9L).sum - 3 - 4 - 5)
      // CDF announces the vectored rows under the CURRENT schema
      val cdf = TxnLog.readChanges(spark, root, 2, 3)
      assert(cdf.columns.contains("id") && !cdf.columns.contains("k"))
      assert(cdf.where(col("_change_type") === "delete")
        .select(col("id")).collect().map(_.getLong(0)).toSet ==
        Set(3L, 4L, 5L))
      // the rollup reads the renamed value column across generations
      val roll = TxnLog.versionsRollup(spark, root, "v")
      assert(roll.where(col("version") === 3).head().getLong(2) == 7L)
    }
  }

  // --------------------------------------------------- bloom skipping

  test("bloom point-lookup skipping: exact-arithmetic, conservative, carried") {
    import spark.implicits._
    withScratch { root =>
      // two files of distinct key populations on a column whose
      // min/max overlap completely — range stats are USELESS here
      (0L until 50L).map(k => (k * 2, k)).toDF("c", "x")
        .coalesce(1).write.parquet(s"$root/even")
      (0L until 50L).map(k => (k * 2 + 1, k)).toDF("c", "x")
        .coalesce(1).write.parquet(s"$root/odd")
      val adds = Seq("even", "odd").flatMap(f => Seq[TxnLog.Entry](
        TxnLog.add(f), TxnLog.bloomFor(spark, root, f, "c", m = 1024)))
      assert(TxnLog.tryCommit(root, 1, adds, "s"))
      // the builder's positions and the driver-side hash agree: a
      // PRESENT value's bits are always set (no false negatives over
      // every key — the bloom correctness invariant)
      for (k <- 0L until 100L) {
        val (scanned, _) = TxnLog.pruneEq(root, 1, "c", k.toString)
        val holder = if (k % 2 == 0) "even" else "odd"
        assert(scanned.contains(holder),
          s"bloom LOST key $k (false negative)")
      }
      // and they do prune: most absent probes drop the other file
      val prunes = (0L until 100L).count { k =>
        TxnLog.pruneEq(root, 1, "c", k.toString)._2.nonEmpty
      }
      assert(prunes > 50, s"bloom never prunes (got $prunes/100)")
      // absent-everywhere probes prune both files (mod false pos.)
      val far = (1000L until 1100L).count { k =>
        TxnLog.pruneEq(root, 1, "c", k.toString)._1.isEmpty
      }
      assert(far > 50, s"absent probes rarely fully pruned ($far/100)")
      // filters survive checkpoints and log cleanup
      for (i <- 2 to 11)
        assert(TxnLog.tryCommit(root, i,
          Seq(TxnLog.SetTxn("pad", i)), "s"))
      assert(TxnLog.cleanupLog(root).nonEmpty)
      assert(TxnLog.stateAt(root, 11).blooms.keySet ==
        Set(("even", "c"), ("odd", "c")))
      // a re-add clears the filter (metadata dies with the file)
      assert(TxnLog.tryCommit(root, 12, Seq(TxnLog.add("even")), "s"))
      assert(TxnLog.stateAt(root, 12).blooms.keySet ==
        Set(("odd", "c")))
      // RESTORE re-attaches it
      assert(TxnLog.restore(root, 11, "r").contains(13))
      assert(TxnLog.stateAt(root, 13).blooms.keySet ==
        Set(("even", "c"), ("odd", "c")))
      // a clone carries filters
      withScratch { dst =>
        assert(TxnLog.cloneTable(root, dst, "c") == 1)
        assert(TxnLog.stateAt(dst, 1).blooms.keySet ==
          Set(("even", "c"), ("odd", "c")))
        assert(TxnLog.pruneEq(dst, 1, "c", "2")._1 == Seq("even"))
      }
    }
  }

  // ----------------------------------------------- protocol versions

  test("protocol gate: old engines fail loudly, upgrades are monotonic and carried") {
    import spark.implicits._
    // an "old engine": understands only protocol v1
    val oldEngine = new TxnLogOps(LocalLogStore) {
      override protected def supportedReader: Int = 1
      override protected def supportedWriter: Int = 1
    }
    withScratch { root =>
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/f0")
      assert(TxnLog.commitAppend(root, Seq("f0"), "k BIGINT,v DOUBLE",
        "s") == 1)
      // an undeclared table reads and writes everywhere
      assert(oldEngine.read(spark, root).count() == 2)
      // upgrade to (2, 2); downgrade and over-reach are refused
      assert(TxnLog.upgradeProtocol(root, 2, 2, "s") == 2)
      intercept[IllegalArgumentException](
        TxnLog.upgradeProtocol(root, 1, 1, "s"))
      intercept[IllegalArgumentException](
        TxnLog.upgradeProtocol(root, 3, 3, "s"))
      assert(TxnLog.stateAt(root, 2).protocol == ((2, 2)))
      // the old engine now fails LOUDLY on every surface, naming
      // both versions; the current engine keeps working
      val er = intercept[IllegalArgumentException](
        oldEngine.read(spark, root))
      assert(er.getMessage.contains("reader version 2") &&
        er.getMessage.contains("supports 1"), er.getMessage)
      intercept[IllegalArgumentException](
        oldEngine.readChanges(spark, root, 1))
      intercept[IllegalArgumentException](
        oldEngine.versionsRollup(spark, root, "v"))
      val ew = intercept[IllegalArgumentException](
        oldEngine.commitNext(root, Seq(TxnLog.add("fX")), "old"))
      assert(ew.getMessage.contains("writer version 2"), ew.getMessage)
      assert(TxnLog.latestVersion(root) == 2, "old engine moved the tip")
      assert(TxnLog.read(spark, root).count() == 2)
      // survives checkpoints + cleanup; clones carry it; restore
      // keeps it (monotonic — features touched the log shape)
      for (i <- 3 to 11)
        assert(TxnLog.tryCommit(root, i,
          Seq(TxnLog.SetTxn("pad", i)), "s"))
      assert(TxnLog.cleanupLog(root).nonEmpty)
      assert(TxnLog.stateAt(root, 11).protocol == ((2, 2)))
      withScratch { dst =>
        assert(TxnLog.cloneTable(root, dst, "c") == 1)
        assert(TxnLog.stateAt(dst, 1).protocol == ((2, 2)))
        intercept[IllegalArgumentException](
          oldEngine.read(spark, dst))
      }
      assert(TxnLog.commitNext(root,
        Seq(TxnLog.remove("f0")), "s") == 12)
      assert(TxnLog.restore(root, 11, "r").contains(13))
      assert(TxnLog.stateAt(root, 13).protocol == ((2, 2)))
      assert(TxnLog.read(spark, root).count() == 2)
      // an unknown action from a future writer names the seam
      withScratch { r2 =>
        assert(TxnLog.commitNext(r2, Seq(TxnLog.add("f0")), "s") == 1)
        assert(LocalLogStore.putIfAbsent(r2, "v00000002.jsonl",
          Seq("""{"action":"futureThing","x":1}"""), "s"))
        val eu = intercept[IllegalArgumentException](
          TxnLog.stateAt(r2, 2))
        assert(eu.getMessage.contains("newer engine"), eu.getMessage)
      }
    }
  }

  // ------------------------------------------- batch DataSource (V1)

  test("graft-txn batch source: reads, SQL, pushdown prunes files, time travel") {
    import spark.implicits._
    import graft.sources.TxnTableRelation
    withScratch { root =>
      // four key-range files with stats on k and blooms on c (c's
      // min/max spans every file — only the bloom can prune it)
      val rows = (0L until 40L).map(k => (k, k % 10, s"s$k"))
      for (b <- 0 until 4) {
        rows.filter(_._1 / 10 == b).toDF("k", "c", "tag")
          .coalesce(1).write.parquet(s"$root/f$b")
      }
      val adds = (0 until 4).flatMap(b => Seq[TxnLog.Entry](
        TxnLog.AddStats(s"f$b",
          TxnLog.statsFor(spark, root, s"f$b", "k")),
        TxnLog.bloomFor(spark, root, s"f$b", "c", m = 256)))
      assert(TxnLog.tryCommit(root, 1,
        adds :+ TxnLog.MetaData("k BIGINT,c BIGINT,tag STRING"), "s"))
      Seq((100L, 100L, "late")).toDF("k", "c", "tag")
        .coalesce(1).write.parquet(s"$root/f4")
      assert(TxnLog.commitNext(root, Seq(TxnLog.AddStats("f4",
        TxnLog.statsFor(spark, root, "f4", "k"))), "s") == 2)

      def load(opts: (String, String)*) = {
        val r = spark.read
          .format(classOf[graft.sources.TxnTableProvider].getName)
          .option("path", root)
        opts.foldLeft(r) { case (x, (k, v)) => x.option(k, v) }.load()
      }
      // plain read equals the native read
      assert(load().collect().toSet ==
        TxnLog.read(spark, root).collect().toSet)
      // the short name resolves through META-INF/services
      assert(spark.read.format("graft-txn").option("path", root)
        .load().count() == 41)
      // SQL face + range pushdown: only f2 (k 20-29) scans
      load().createOrReplaceTempView("txn_t")
      val s1 = spark.sql(
        "SELECT CAST(SUM(k) AS BIGINT) FROM txn_t " +
          "WHERE k BETWEEN 20 AND 29").head().getLong(0)
      assert(s1 == (20L until 30L).sum)
      assert(TxnTableRelation.lastScan.get()._1 == Seq("f2"),
        s"range pushdown scanned ${TxnTableRelation.lastScan.get()}")
      // equality pushdown uses stats AND blooms: k = 5 pins f0 by
      // stats; c = 100 lives only in f4, every other file's bloom
      // lacks it (mod deterministic false positives)
      assert(load().where(col("k") === 5L).count() == 1)
      assert(TxnTableRelation.lastScan.get()._1 == Seq("f0"))
      assert(load().where(col("c") === 100L)
        .select(col("tag")).head().getString(0) == "late")
      val eqScan = TxnTableRelation.lastScan.get()._1
      assert(eqScan.contains("f4") && eqScan.size < 5,
        s"bloom equality pushdown scanned $eqScan")
      // one-sided bound on a STRING column must not mis-prune
      // (tag has no stats: everything must scan, conservatively)
      assert(load().where(col("tag") >= "s").count() == 40)
      assert(TxnTableRelation.lastScan.get()._1.size == 5,
        s"stats-less column mis-pruned ${TxnTableRelation.lastScan.get()}")
      // IN-list pushdown unions the admitted files
      val in = load().where(col("k").isin(5L, 25L)).count()
      assert(in == 2)
      assert(TxnTableRelation.lastScan.get()._1.toSet
        .subsetOf(Set("f0", "f2")))
      // time travel: versionAsOf reads v1's 40 rows
      assert(load("versionAsOf" -> "1").count() == 40)
      // an unknown-filter-only query scans everything, correctly
      assert(load().where(col("tag").contains("late")).count() == 1)
      assert(TxnTableRelation.lastScan.get()._1.size == 5)
    }
  }

  // ------------------------------------------- schema-evolve lost race

  test("two concurrent evolving appends both land: no schema lost update") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    withScratch { root =>
      assert(TxnLog.commitAppend(root, Seq("f0"), "a BIGINT", "seed") == 1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      // each writer widens by a DIFFERENT column from the same base;
      // the loser must re-read + re-merge, not commit its stale merge
      // (ADVICE r9 medium: the lost update dropped the winner's column)
      val races = Seq("a BIGINT,c1 DOUBLE" -> "e1",
        "a BIGINT,c2 STRING" -> "e2").map { case (ddl, who) =>
        scala.concurrent.Future {
          gate.await()
          TxnLog.commitAppend(root, Seq(s"f_$who"), ddl, who,
            evolve = true)
        }
      }
      gate.countDown()
      val vs = races.map(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration("60s")))
      pool.shutdown()
      assert(vs.toSet == Set(2, 3), s"expected v2+v3, got $vs")
      val tip = TxnLog.schemaAt(root, 3).get.fieldNames.toSet
      assert(tip == Set("a", "c1", "c2"),
        s"schema lost update: tip has $tip")
    }
  }

  // ------------------------------------------------- row-level MERGE

  test("mergeUpsert rewrites only touched files; untouched bytes identical") {
    import spark.implicits._
    withScratch { root =>
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/f0")
      Seq((10L, 100.0), (11L, 110.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/f1")
      assert(TxnLog.commitNext(root,
        Seq(TxnLog.add("f0"), TxnLog.add("f1")), "s") == 1)
      def bytesOf(dir: String): Seq[(String, Long, Long)] =
        Option(new java.io.File(root, dir).listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .map(f => (f.getName, f.length(),
            java.nio.file.Files.readAllBytes(f.toPath)
              .foldLeft(17L)((h, b) => h * 31 + b)))
      val f1Before = bytesOf("f1")
      // update k=2 (lives in f0), insert k=99 (nowhere)
      val src = Seq((2L, 21.0), (99L, 990.0)).toDF("k", "v")
      val v = TxnLog.mergeUpsert(spark, root, src, "k", "m")
      assert(v.contains(2), s"merge did not commit: $v")
      // f0 was rewritten (removed+replaced), f1 untouched on disk
      val acts = TxnLog.actionsAt(root, 2)
      assert(acts.collect { case TxnLog.Action("remove", f) => f } ==
        Seq("f0"))
      assert(bytesOf("f1") == f1Before,
        "merge rewrote an untouched file")
      val got = TxnLog.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set((1L, 10.0), (2L, 21.0), (10L, 100.0),
        (11L, 110.0), (99L, 990.0)), s"merge content: $got")
      // idempotence-ish: merging the same source again touches the
      // NEW holder of k=2 and yields the same table content
      assert(TxnLog.mergeUpsert(spark, root, src, "k", "m2").contains(3))
      val again = TxnLog.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(again == got)
    }
  }

  test("mergeUpsert conflicts: appends commute, touched-file removal aborts") {
    import spark.implicits._
    withScratch { root =>
      Seq((1L, 10.0)).toDF("k", "v").coalesce(1).write.parquet(s"$root/f0")
      Seq((5L, 50.0)).toDF("k", "v").coalesce(1).write.parquet(s"$root/f1")
      Seq((9L, 90.0)).toDF("k", "v").coalesce(1).write.parquet(s"$root/fx")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      val src = Seq((1L, 11.0)).toDF("k", "v")
      // an interleaved APPEND commutes: merge retries at the new tip
      val v = TxnLog.mergeUpsert(spark, root, src, "k", "m",
        beforeCommit = () =>
          assert(TxnLog.commitNext(root, Seq(TxnLog.add("f1")), "sneak")
            == 2))
      assert(v.contains(3), s"merge racing an append must commit: $v")
      val got = TxnLog.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set((1L, 11.0), (5L, 50.0)))
      // removing the TOUCHED file mid-merge is a true conflict: abort,
      // and the merge's rewrite output is deleted
      val v2 = TxnLog.mergeUpsert(spark, root,
        Seq((5L, 55.0)).toDF("k", "v"), "k", "m2",
        beforeCommit = () => {
          val tip = TxnLog.latestVersion(root)
          assert(TxnLog.tryCommit(root, tip + 1,
            Seq(TxnLog.remove("f1"), TxnLog.add("fx")), "rival"))
        })
      assert(v2.isEmpty, "merge must abort when its touched file died")
      val names = Option(new java.io.File(root).listFiles()).toSeq
        .flatten.map(_.getName)
      assert(!names.exists(_.startsWith("m00000004")),
        s"aborted merge left output: $names")
      val after = TxnLog.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(after == Set((1L, 11.0), (9L, 90.0)))
    }
  }

  test("mergeUpsert enforces unique source keys and no-ops on empty") {
    import spark.implicits._
    withScratch { root =>
      Seq((1L, 1.0)).toDF("k", "v").coalesce(1).write.parquet(s"$root/f0")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      val dup = Seq((1L, 1.0), (1L, 2.0)).toDF("k", "v")
      val e = intercept[IllegalArgumentException](
        TxnLog.mergeUpsert(spark, root, dup, "k", "m"))
      assert(e.getMessage.contains("duplicate"))
      assert(TxnLog.mergeUpsert(spark, root,
        Seq.empty[(Long, Double)].toDF("k", "v"), "k", "m").isEmpty)
      assert(TxnLog.latestVersion(root) == 1)
    }
  }

  test("mergeUpsert collapses a key duplicated across files to one row") {
    import spark.implicits._
    withScratch { root =>
      Seq((7L, 1.0)).toDF("k", "v").coalesce(1).write.parquet(s"$root/fa")
      Seq((7L, 2.0), (8L, 8.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/fb")
      assert(TxnLog.commitNext(root,
        Seq(TxnLog.add("fa"), TxnLog.add("fb")), "s") == 1)
      assert(TxnLog.mergeUpsert(spark, root,
        Seq((7L, 70.0)).toDF("k", "v"), "k", "m").contains(2))
      val got = TxnLog.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set((7L, 70.0), (8L, 8.0)), s"collapse: $got")
      // both holders were rewritten
      assert(TxnLog.actionsAt(root, 2)
        .collect { case TxnLog.Action("remove", f) => f }.sorted ==
        Seq("fa", "fb"))
    }
  }

  test("mergeClauses: delete clause pure-removes full-match files, rewrites boundaries") {
    import spark.implicits._
    withScratch { root =>
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/fa")
      Seq((3L, 30.0), (4L, 40.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/fb")
      assert(TxnLog.commitNext(root,
        Seq(TxnLog.add("fa"), TxnLog.add("fb")), "s") == 1)
      // WHEN MATCHED DELETE, no update, no insert: matches ALL of fa
      // (pure remove — deleteRange's metadata-only trick) and half of
      // fb (narrow rewrite)
      val src = Seq((1L, 0.0), (2L, 0.0), (3L, 0.0)).toDF("k", "v")
      val v = TxnLog.mergeClauses(spark, root, src, "k", "m",
        updateWhen = None, deleteWhen = Some(lit(true)),
        insertUnmatched = false)
      assert(v.contains(2), s"clause merge did not commit: $v")
      val acts = TxnLog.actionsAt(root, 2)
      assert(acts.collect { case TxnLog.Action("remove", f) => f }
        .sorted == Seq("fa", "fb"))
      val added = acts.collect { case TxnLog.Action("add", f) => f }
      assert(added.size == 1 && added.head.contains("_u"),
        s"fa must pure-remove without a rewrite: $added")
      assert(TxnLog.read(spark, root).select("k")
        .collect().map(_.getLong(0)).toSeq == Seq(4L))
    }
  }

  test("mergeClauses: conditional update/delete over both sides, precedence, no-insert") {
    import spark.implicits._
    withScratch { root =>
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
        .toDF("k", "v").coalesce(1).write.parquet(s"$root/f0")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      // k=1: source newer -> update fires;  k=2: source older -> no
      // clause fires, row survives UNCHANGED;  k=3: tombstone ->
      // delete fires;  k=4: BOTH fire -> delete has precedence;
      // k=9: unmatched and insertUnmatched=false -> dropped
      val src = Seq((1L, 11.0), (2L, 5.0), (3L, -1.0), (4L, 50.0),
        (9L, 99.0)).toDF("k", "v")
      val v = TxnLog.mergeClauses(spark, root, src, "k", "m",
        updateWhen = Some(col("__src_v") > col("v")),
        deleteWhen = Some(col("__src_v") < 0 || col("__src_v") > 45),
        insertUnmatched = false)
      assert(v.contains(2), s"clause merge did not commit: $v")
      val got = TxnLog.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set((1L, 11.0), (2L, 20.0)), s"clause merge: $got")
      assert(!TxnLog.liveFiles(root, 2).exists(_.endsWith("_ins")),
        "insertUnmatched=false must not write an insert file")
    }
  }

  test("mergeClauses: a null condition never fires; all-no-op merge is a no-op") {
    import spark.implicits._
    withScratch { root =>
      Seq((1L, 10.0)).toDF("k", "v").coalesce(1).write.parquet(s"$root/f0")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      val src = Seq((1L, 99.0)).toDF("k", "v")
      // SQL clause semantics: a condition evaluating to null is NOT
      // TRUE — the clause must not fire, and with no insert either the
      // whole merge is a no-op (no new version)
      val v = TxnLog.mergeClauses(spark, root, src, "k", "m",
        updateWhen = Some(lit(null).cast("boolean")),
        deleteWhen = Some(lit(null).cast("boolean")),
        insertUnmatched = false)
      assert(v.isEmpty, s"no-op clause merge committed: $v")
      assert(TxnLog.latestVersion(root) == 1)
      val got = TxnLog.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set((1L, 10.0)))
    }
  }

  test("deleteRange takes the cheapest action per file: skip, pure-remove, rewrite") {
    import spark.implicits._
    withScratch { root =>
      // r0=[0,9] untouched, r1=[10,19] boundary rewrite, r2=[20,29]
      // fully inside -> pure remove, nostats always probed
      for ((name, lo) <- Seq(("r0", 0L), ("r1", 10L), ("r2", 20L))) {
        (lo until lo + 10).map(k => (k, k * 2.0)).toDF("k", "v")
          .coalesce(1).write.parquet(s"$root/$name")
      }
      (40L to 44L).map(k => (k, 0.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/nostats")
      val adds: Seq[TxnLog.Entry] = Seq("r0", "r1", "r2").map(n =>
        TxnLog.AddStats(n, TxnLog.statsFor(spark, root, n, "k"))) :+
        TxnLog.add("nostats")
      assert(TxnLog.tryCommit(root, 1, adds, "s"))
      def hashOf(dir: String): Seq[Long] =
        Option(new java.io.File(root, dir).listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .map(f => java.nio.file.Files.readAllBytes(f.toPath)
            .foldLeft(17L)((h, b) => h * 31 + b))
      val (r0Before, noBefore) = (hashOf("r0"), hashOf("nostats"))
      val v = TxnLog.deleteRange(spark, root, "k", "15", "29", "s")
      assert(v.contains(2), s"delete did not commit: $v")
      val acts = TxnLog.actionsAt(root, 2)
      val removed = acts.collect { case TxnLog.Action("remove", f) => f }
      val added = acts.collect { case TxnLog.Action("add", f) => f }
      assert(removed.sorted == Seq("r1", "r2"),
        s"wrong touch set: $removed")
      assert(added.size == 1 && added.head.startsWith("d00000002_s_k"),
        s"expected exactly one boundary rewrite: $added")
      // untouched files byte-identical (r0 stats-pruned; nostats
      // probed but holds no match)
      assert(hashOf("r0") == r0Before && hashOf("nostats") == noBefore)
      val got = TxnLog.read(spark, root).select("k")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == ((0L to 14L) ++ (40L to 44L)),
        s"delete content wrong: $got")
      // the boundary rewrite RECOMPUTED its stats: survivors are
      // [10,14], so a probe inside the deleted range now prunes it
      val (scanAfter, pruneAfter) =
        TxnLog.prune(root, 2, "k", "16", "19")
      assert(scanAfter == Seq("nostats"),
        s"rewrite stats not recomputed: scanned $scanAfter")
      assert(pruneAfter.exists(_.startsWith("d00000002_s_k")))
      // no matching rows -> no-op, no new version
      assert(TxnLog.deleteRange(spark, root, "k", "100", "200", "s")
        .isEmpty)
      assert(TxnLog.latestVersion(root) == 2)
      // conflict: an interleaved append commutes and the delete lands
      val v3 = TxnLog.deleteRange(spark, root, "k", "40", "44", "s2",
        beforeCommit = () => {
          Seq((77L, 7.0)).toDF("k", "v")
            .coalesce(1).write.parquet(s"$root/f77")
          assert(TxnLog.commitNext(root, Seq(TxnLog.add("f77")),
            "sneak") == 3)
        })
      assert(v3.contains(4), s"delete racing an append must land: $v3")
      assert(TxnLog.read(spark, root).select("k")
        .collect().map(_.getLong(0)).sorted.toSeq ==
        ((0L to 14L) :+ 77L))
    }
  }

  test("RESTORE undoes a COW delete and an append in one metadata commit") {
    import spark.implicits._
    withScratch { root =>
      for ((name, lo) <- Seq(("r0", 0L), ("r1", 10L), ("r2", 20L))) {
        (lo until lo + 10).map(k => (k, k * 2.0)).toDF("k", "v")
          .coalesce(1).write.parquet(s"$root/$name")
      }
      val adds: Seq[TxnLog.Entry] = Seq("r0", "r1", "r2").map(n =>
        TxnLog.AddStats(n, TxnLog.statsFor(spark, root, n, "k")))
      assert(TxnLog.tryCommit(root, 1, adds, "s"))
      // v2: COW delete rewrites r1's boundary, pure-removes r2;
      // v3: an unrelated append
      assert(TxnLog.deleteRange(spark, root, "k", "15", "29", "s")
        .contains(2))
      Seq((77L, 7.0)).toDF("k", "v").coalesce(1)
        .write.parquet(s"$root/f77")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f77")), "s") == 3)
      def keys(v: Int = -1): Seq[Long] =
        TxnLog.read(spark, root, v).select("k")
          .collect().map(_.getLong(0)).sorted.toSeq
      assert(keys() == ((0L to 14L) :+ 77L))
      // restore to v1: the rewrite output and f77 retire, the
      // originals re-add WITH their stats — zero data I/O
      assert(TxnLog.restore(root, 1, "r").contains(4))
      assert(keys() == (0L to 29L), "restored content wrong")
      val st4 = TxnLog.stateAt(root, 4)
      assert(st4.live == Set("r0", "r1", "r2"))
      assert(st4.stats.get("r2").exists(_.nonEmpty),
        "re-added file lost its stats through the restore")
      // the restored-away versions stay readable (history intact)
      assert(keys(3) == ((0L to 14L) :+ 77L))
      assert(keys(2) == (0L to 14L))
      // restore forward again to v3's content
      assert(TxnLog.restore(root, 3, "r").contains(5))
      assert(keys() == ((0L to 14L) :+ 77L))
      // a restore that changes nothing is a no-op
      assert(TxnLog.restore(root, 5, "r").isEmpty)
      assert(TxnLog.latestVersion(root) == 5)
    }
  }

  test("CHECK constraints: add validates existing, checked writes enforce, drop restores") {
    import spark.implicits._
    withScratch { root =>
      (0L to 9L).map(k => (k, Option(k * 2.0))).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/base")
      assert(TxnLog.commitAppend(root, Seq("base"),
        "k BIGINT,v DOUBLE", "s") == 1)
      // adding a constraint the EXISTING data satisfies lands; one
      // it violates is rejected naming the constraint
      assert(TxnLog.addConstraint(spark, root, "k_nonneg", "k >= 0",
        "s") == 2)
      val e1 = intercept[IllegalArgumentException](
        TxnLog.addConstraint(spark, root, "small", "k < 5", "s"))
      assert(e1.getMessage.contains("small") &&
        e1.getMessage.contains("violates"), e1.getMessage)
      // a checked append of violating rows is refused; the table
      // version does not move
      Seq((-1L, Option(1.0))).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/bad")
      val e2 = intercept[IllegalArgumentException](
        TxnLog.commitAppendChecked(spark, root, Seq("bad"),
          "k BIGINT,v DOUBLE", "s"))
      assert(e2.getMessage.contains("k_nonneg"), e2.getMessage)
      assert(TxnLog.latestVersion(root) == 2)
      // NULL passes (SQL CHECK): a null-v row under `v > -1` lands
      assert(TxnLog.addConstraint(spark, root, "v_pos", "v > -1",
        "s") == 3)
      Seq((100L, Option.empty[Double])).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/ok")
      assert(TxnLog.commitAppendChecked(spark, root, Seq("ok"),
        "k BIGINT,v DOUBLE", "s") == 4)
      // a merge whose source violates is refused before any write
      val e3 = intercept[IllegalArgumentException](
        TxnLog.mergeUpsert(spark, root,
          Seq((-5L, Option(1.0))).toDF("k", "v"), "k", "m"))
      assert(e3.getMessage.contains("k_nonneg"), e3.getMessage)
      // so is a partitioned append
      val e4 = intercept[IllegalArgumentException](
        TxnLog.commitPartitionedAppend(spark, root,
          Seq((-7L, Option(1.0))).toDF("k", "v"), Seq("k"),
          Seq.empty, "s"))
      assert(e4.getMessage.contains("k_nonneg"), e4.getMessage)
      // constraints survive checkpoint + log cleanup
      for (i <- 5 to 10) {
        Seq((200L + i, Option(1.0))).toDF("k", "v")
          .coalesce(1).write.parquet(s"$root/pad$i")
        assert(TxnLog.commitNext(root, Seq(TxnLog.add(s"pad$i")),
          "s") == i)
      }
      assert(TxnLog.cleanupLog(root).nonEmpty)
      assert(TxnLog.stateAt(root, TxnLog.latestVersion(root))
        .constraints.keySet == Set("k_nonneg", "v_pos"),
        "constraints lost through checkpoint replay")
      val e5 = intercept[IllegalArgumentException](
        TxnLog.commitAppendChecked(spark, root, Seq("bad"),
          "k BIGINT,v DOUBLE", "s"))
      assert(e5.getMessage.contains("k_nonneg"), e5.getMessage)
      // dropping the constraint re-admits the file; dropping a
      // missing name is loud
      assert(TxnLog.dropConstraint(root, "k_nonneg", "s") == 11)
      assert(TxnLog.commitAppendChecked(spark, root, Seq("bad"),
        "k BIGINT,v DOUBLE", "s") == 12)
      intercept[IllegalArgumentException](
        TxnLog.dropConstraint(root, "nope", "s"))
    }
  }

  // ------------------------------- partition + multi-column pruning

  test("pruneWhere: partition equality first, then conjunctive stats") {
    import spark.implicits._
    withScratch { root =>
      // 2 partitions x 2 key ranges, each with stats on k AND w
      val files = for (p <- Seq("eu", "us"); b <- 0 to 1) yield {
        val name = s"d_${p}_$b"
        val lo = b * 10L
        ((lo until lo + 10).map(k => (k, k * 100L, p)))
          .toDF("k", "w", "region")
          .coalesce(1).write.parquet(s"$root/$name")
        TxnLog.AddFile(name, Seq("region" -> p),
          Seq(TxnLog.statsFor(spark, root, name, "k"),
            TxnLog.statsFor(spark, root, name, "w")))
      }
      assert(TxnLog.tryCommit(root, 1, files, "s"))
      // partition equality alone
      val (s1, p1) = TxnLog.pruneWhere(root, 1,
        Seq("region" -> "eu"), Seq.empty)
      assert(s1 == Seq("d_eu_0", "d_eu_1") && p1.size == 2)
      // conjunctive stats: k range hits bucket 0, w range hits bucket 1
      // -> nothing survives both
      val (s2, _) = TxnLog.pruneWhere(root, 1, Seq.empty,
        Seq(("k", "0", "5"), ("w", "1500", "1800")))
      assert(s2.isEmpty, s"conjunction should prune all, scanned $s2")
      // partition + stats together
      val (s3, _) = TxnLog.pruneWhere(root, 1,
        Seq("region" -> "us"), Seq(("k", "12", "13")))
      assert(s3 == Seq("d_us_1"))
      // an unknown partition key or stats column never prunes
      val (s4, p4) = TxnLog.pruneWhere(root, 1,
        Seq("tenant" -> "z"), Seq(("nosuch", "0", "1")))
      assert(p4.isEmpty && s4.size == 4)
      // skipping never changes results (random probes)
      val full = TxnLog.read(spark, root)
      for (seed <- 1 to 6) {
        val rnd = new scala.util.Random(seed)
        val a = rnd.nextLong(25) - 2
        val b2 = a + rnd.nextLong(12)
        val region = Seq("eu", "us")(rnd.nextInt(2))
        val (df, _, _) = TxnLog.readPrunedWhere(spark, root,
          Seq("region" -> region), Seq(("k", a.toString, b2.toString)))
        val got = df.where(col("region") === region &&
          col("k").between(a, b2)).count()
        val want = full.where(col("region") === region &&
          col("k").between(a, b2)).count()
        assert(got == want, s"pruning changed results for $region [$a,$b2]")
      }
      // AddFile round-trips through the checkpoint writer's rich form
      for (i <- 2 to 10)
        assert(TxnLog.tryCommit(root, i, Seq(TxnLog.add(s"pad$i")), "s"))
      assert(TxnLog.checkpoints(root) == Seq(10))
      for (v <- 1 to 10)
        assert(new java.io.File(root, f"_log/v$v%08d.jsonl").delete())
      val st = TxnLog.stateAt(root, 10)
      assert(st.parts("d_eu_0") == Seq("region" -> "eu"),
        "partition tuple lost through the checkpoint")
      assert(st.stats("d_eu_0").map(_.col) == Seq("k", "w"),
        "multi-column stats lost through the checkpoint")
    }
  }

  test("commitPartitionedAppend: one slice per tuple, rich adds, pruning works") {
    import spark.implicits._
    withScratch { root =>
      val df = Seq((1L, "eu", 10L), (2L, "eu", 20L), (3L, "us", 30L),
        (4L, "us", 40L), (5L, "us", 50L)).toDF("k", "region", "w")
      assert(TxnLog.commitPartitionedAppend(spark, root, df,
        partCols = Seq("region"), statsCols = Seq("k", "w"), "s") == 1)
      val st = TxnLog.stateAt(root, 1)
      assert(st.live.size == 2, s"expected one file per tuple: ${st.live}")
      val byRegion = st.parts.map { case (f, p) => p.head._2 -> f }
      assert(byRegion.keySet == Set("eu", "us"))
      assert(st.stats(byRegion("eu")) == Seq(
        TxnLog.FileStats("k", "1", "2", 2L),
        TxnLog.FileStats("w", "10", "20", 2L)),
        s"eu stats wrong: ${st.stats(byRegion("eu"))}")
      // the read reassembles the whole frame
      assert(TxnLog.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
        Set((1L, "eu", 10L), (2L, "eu", 20L), (3L, "us", 30L),
          (4L, "us", 40L), (5L, "us", 50L)))
      // partition + stats pruning straight off the written log
      val (s1, p1) = TxnLog.pruneWhere(root, 1,
        Seq("region" -> "eu"), Seq(("w", "15", "25")))
      assert(s1 == Seq(byRegion("eu")) && p1.size == 1)
      // a second append with new tuples lands as a blind commit at v2
      assert(TxnLog.commitPartitionedAppend(spark, root,
        Seq((6L, "ap", 60L)).toDF("k", "region", "w"),
        Seq("region"), Seq("k", "w"), "s2") == 2)
      assert(TxnLog.liveFiles(root, 2).size == 3)
    }
  }

  test("commitPartitionedAppend: a stats column all-null in one slice " +
    "publishes that slice without its bound") {
    import spark.implicits._
    withScratch { root =>
      val df = Seq((1L, "eu", Some(10L)), (2L, "eu", Some(20L)),
        (3L, "us", Option.empty[Long])).toDF("k", "region", "w")
      assert(TxnLog.commitPartitionedAppend(spark, root, df,
        partCols = Seq("region"), statsCols = Seq("k", "w"), "s") == 1)
      val st = TxnLog.stateAt(root, 1)
      val byRegion = st.parts.map { case (f, p) => p.head._2 -> f }
      assert(st.stats(byRegion("eu")) == Seq(
        TxnLog.FileStats("k", "1", "2", 2L),
        TxnLog.FileStats("w", "10", "20", 2L)))
      assert(st.stats(byRegion("us")) == Seq(
        TxnLog.FileStats("k", "3", "3", 1L)))
      assert(TxnLog.read(spark, root).count() == 3)
      // the missing bound only costs a scan: a w predicate keeps us
      val (scanned, _) = TxnLog.pruneWhere(root, 1, Seq.empty,
        Seq(("w", "30", "40")))
      assert(scanned == Seq(byRegion("us")))
    }
  }

  test("OPTIMIZE compacts within partitions and keeps pruning metadata") {
    import spark.implicits._
    withScratch { root =>
      // two appends -> two files per region, all with k/w bounds
      for ((lo, s) <- Seq((0L, "s1"), (100L, "s2")))
        assert(TxnLog.commitPartitionedAppend(spark, root,
          Seq((lo + 1, "eu", lo + 10), (lo + 2, "us", lo + 20))
            .toDF("k", "region", "w"),
          Seq("region"), Seq("k", "w"), s) > 0)
      assert(TxnLog.liveFiles(root, 2).size == 4)
      // OPTIMIZE must not merge across regions: 2 outputs, one per
      // partition tuple, each still carrying the tuple AND recomputed
      // bounds — pruning survives the rewrite
      val v = TxnLog.compact(spark, root, "opt")
      assert(v.contains(3))
      val st = TxnLog.stateAt(root, 3)
      assert(st.live.size == 2,
        s"expected one output per partition: ${st.live}")
      for (f <- st.live) {
        assert(st.parts(f).size == 1 &&
          Set("eu", "us")(st.parts(f).head._2),
          s"output lost its partition tuple: $f -> ${st.parts.get(f)}")
        assert(st.stats(f).map(_.col) == Seq("k", "w"),
          s"output lost its stats: $f -> ${st.stats.get(f)}")
      }
      val eu = st.live.find(f => st.parts(f) == Seq("region" -> "eu")).get
      assert(st.stats(eu) == Seq(TxnLog.FileStats("k", "1", "101", 2L),
        TxnLog.FileStats("w", "10", "110", 2L)),
        s"eu bounds not merged: ${st.stats(eu)}")
      // partition + stats pruning still cut after OPTIMIZE
      val (s1, p1) = TxnLog.pruneWhere(root, 3,
        Seq("region" -> "eu"), Seq(("w", "100", "120")))
      assert(s1 == Seq(eu) && p1.size == 1,
        s"pruning degraded after OPTIMIZE: scanned=$s1 pruned=$p1")
      // and content is intact
      assert(TxnLog.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
        Set((1L, "eu", 10L), (2L, "us", 20L),
          (101L, "eu", 110L), (102L, "us", 120L)))
    }
  }

  test("statsFor fails loudly on zero-row files and all-null columns") {
    import spark.implicits._
    withScratch { root =>
      Seq.empty[(Long, Double)].toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/empty")
      val e1 = intercept[IllegalArgumentException](
        TxnLog.statsFor(spark, root, "empty", "k"))
      assert(e1.getMessage.contains("zero rows"))
      Seq((Some(1L), Option.empty[Long])).toDF("k", "n")
        .coalesce(1).write.parquet(s"$root/nulls")
      val e2 = intercept[IllegalArgumentException](
        TxnLog.statsFor(spark, root, "nulls", "n"))
      assert(e2.getMessage.contains("all-null"))
    }
  }

  test("read null-pads a metaData column whose files were all removed") {
    import spark.implicits._
    withScratch { root =>
      Seq((1L, 1.0)).toDF("k", "v").coalesce(1).write.parquet(s"$root/f0")
      Seq((2L, 2.0, "t")).toDF("k", "v", "tag")
        .coalesce(1).write.parquet(s"$root/f1")
      assert(TxnLog.commitAppend(root, Seq("f0"), "k BIGINT,v DOUBLE",
        "s") == 1)
      assert(TxnLog.commitAppend(root, Seq("f1"),
        "k BIGINT,v DOUBLE,tag STRING", "s", evolve = true) == 2)
      // retire the ONLY file carrying `tag`: the metaData contract
      // still promises the column — reads must null-pad, not throw
      assert(TxnLog.tryCommit(root, 3, Seq(TxnLog.remove("f1")), "s"))
      val df = TxnLog.read(spark, root)
      assert(df.columns.toSeq == Seq("k", "v", "tag"))
      assert(df.schema("tag").dataType ==
        org.apache.spark.sql.types.StringType)
      assert(df.where(col("tag").isNull).count() == 1)
      val (pdf, _, _) = TxnLog.readPruned(spark, root, "k", "0", "9")
      assert(pdf.columns.toSeq == Seq("k", "v", "tag"))
    }
  }

  test("OPTIMIZE lands under a live append stream (no starvation)") {
    import spark.implicits._
    withTxnStress { root =>
      for (i <- 0 to 2)
        Seq((i.toLong, i * 1.0)).toDF("k", "v")
          .coalesce(1).write.parquet(s"$root/f$i")
      assert(TxnLog.commitNext(root,
        (0 to 2).map(i => TxnLog.add(s"f$i")), "seed") == 1)
      // three appenders fire 5 commits each while the compactor
      // rewrites and retries: the r9 blanket-abort would abort on the
      // FIRST interleaved append; the conflict checker must instead
      // retry past every commuting append and land the swap
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      // the appenders are released from compact's beforeCommit seam:
      // the rewrite covers EXACTLY {f0,f1,f2}, and all 15 appends
      // contend with the commit-retry loop itself
      val gate = new java.util.concurrent.CountDownLatch(1)
      val appenders = (1 to 3).map { a =>
        scala.concurrent.Future {
          gate.await()
          for (j <- 1 to 5) {
            assert(TxnLog.commitNext(root,
              Seq(TxnLog.add(s"app_${a}_$j")), s"app$a",
              maxAttempts = 100) > 0)
            Thread.sleep(5L * a)
          }
        }
      }
      val compactor = scala.concurrent.Future {
        TxnLog.compact(spark, root, "opt", maxAttempts = 100,
          beforeCommit = () => { gate.countDown(); Thread.sleep(30) })
      }
      appenders.foreach(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration("120s")))
      val won = scala.concurrent.Await.result(compactor,
        scala.concurrent.duration.Duration("120s"))
      pool.shutdown()
      assert(won.isDefined, "compaction starved by the append stream")
      // every append survives; the seed files were swapped for the
      // rewrite; total content is intact
      val tip = TxnLog.latestVersion(root)
      val live = TxnLog.liveFiles(root, tip).toSet
      val appended = (for (a <- 1 to 3; j <- 1 to 5)
        yield s"app_${a}_$j").toSet
      assert(appended.subsetOf(live),
        s"lost appended files: ${appended -- live}")
      assert(!live.exists(_.startsWith("f")),
        s"compacted inputs still live: ${live.filter(_.startsWith("f"))}")
      assert(TxnLog.versions(root).size == tip &&
        TxnLog.versions(root) == (1 to tip),
        "version sequence has holes")
      val ks = spark.read
        .parquet(live.filterNot(appended).map(f => s"$root/$f").toSeq: _*)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(ks == Set(0L, 1L, 2L), s"rewrite content wrong: $ks")
    }
  }

  test("replay with rich adds equals a reference fold across checkpoints") {
    withTxnStress { root =>
      // random 25-commit logs mixing plain adds, removes, stats adds,
      // and rich adds (partition tuple + multi-column bounds) — the
      // r10 codec must fold exactly like a reference model through
      // parse, checkpoint write, checkpoint replay, and log cleanup
      val rnd = new scala.util.Random(11)
      var refLive = Map.empty[String, (Seq[(String, String)],
        Seq[TxnLog.FileStats])]
      var refDvs = Map.empty[String, (String, Long)]
      var refCons = Map.empty[String, String]
      var refExt = Map.empty[String, String]
      var refCm = Map.empty[String, Seq[String]]
      var refDrop = Set.empty[String]
      var refBloom = Map.empty[(String, String), (Int, String)]
      var refProto = (1, 1)
      val perVersion = scala.collection.mutable.ArrayBuffer
        .empty[(Map[String, (Seq[(String, String)],
          Seq[TxnLog.FileStats])], Map[String, (String, Long)],
          Map[String, String], Map[String, String],
          Map[String, Seq[String]], Set[String],
          Map[(String, String), (Int, String)], (Int, Int))]
      for (v <- 1 to 25) {
        val acts: Seq[TxnLog.Entry] = (0 until 1 + rnd.nextInt(3)).map { _ =>
          val f = s"f${rnd.nextInt(8)}"
          rnd.nextInt(10) match {
            case 0 => refLive += f -> (Seq.empty, Seq.empty)
              refDvs -= f
              refExt -= f
              refBloom = refBloom.filterNot(_._1._1 == f)
              TxnLog.add(f)
            case 1 => refLive -= f
              refDvs -= f
              refExt -= f
              refBloom = refBloom.filterNot(_._1._1 == f)
              TxnLog.remove(f)
            case 2 =>
              val st = TxnLog.FileStats("k", s"${rnd.nextInt(50)}",
                s"${50 + rnd.nextInt(50)}", 1L + rnd.nextInt(9))
              refLive += f -> (Seq.empty, Seq(st))
              refDvs -= f
              refExt -= f
              refBloom = refBloom.filterNot(_._1._1 == f)
              TxnLog.AddStats(f, st)
            case 3 =>
              val part = Seq("pri" -> s"p${rnd.nextInt(3)}")
              val cols = (0 to rnd.nextInt(2)).map(c =>
                TxnLog.FileStats(s"c$c", s"${rnd.nextInt(50)}",
                  s"${50 + rnd.nextInt(50)}", 1L + rnd.nextInt(9)))
              refLive += f -> (part, cols)
              refDvs -= f
              refExt -= f
              refBloom = refBloom.filterNot(_._1._1 == f)
              TxnLog.AddFile(f, part, cols)
            case 4 =>
              // r11: a deletion vector — attaches only to a LIVE
              // file (a dangling pointer is a protocol no-op)
              val dv = s"dv${rnd.nextInt(5)}"
              val n = 1L + rnd.nextInt(9)
              if (refLive.contains(f)) refDvs += f -> (dv, n)
              TxnLog.SetDV(f, dv, n)
            case 5 =>
              // r11: ext refs (shallow clone) set unconditionally and
              // clear on any add/remove of the name
              val src = s"/ext/src${rnd.nextInt(4)}/$f"
              refExt += f -> src
              TxnLog.ExtRef(f, src)
            case 8 =>
              // r11: protocol bumps — elementwise-max monotonic fold
              // (values stay <= this engine's own (2,2) support)
              val (r, w) = (1 + rnd.nextInt(2), 1 + rnd.nextInt(2))
              refProto = (math.max(refProto._1, r),
                math.max(refProto._2, w))
              TxnLog.Protocol(r, w)
            case 7 =>
              // r11: bloom filters — live-gated like a DV; cleared
              // by any add/remove of the file
              val bits = Seq.fill(4)("0123456789abcdef".charAt(
                rnd.nextInt(16))).mkString
              if (refLive.contains(f)) refBloom += (f, "c") -> (16, bits)
              TxnLog.SetBloom(f, "c", 16, bits)
            case 6 =>
              // r11: column mapping — spelling lists accumulate,
              // identity clears, drop tombstones + clears, undrop
              // lifts the tombstone
              val l = s"L${rnd.nextInt(3)}"
              rnd.nextInt(4) match {
                case 0 =>
                  val ph = s"P${rnd.nextInt(3)}"
                  refCm += l -> (refCm.getOrElse(l, Seq.empty)
                    .filterNot(_ == ph) :+ ph)
                  TxnLog.ColMap(l, ph)
                case 1 => refCm -= l; TxnLog.ColMap(l, l)
                case 2 => refDrop += l; refCm -= l; TxnLog.ColDrop(l)
                case _ => refDrop -= l; TxnLog.ColUndrop(l)
              }
            case _ =>
              // r11: CHECK constraints cycle through a small name
              // space, alternating add and drop
              val cn = s"c${rnd.nextInt(3)}"
              if (rnd.nextBoolean() || !refCons.contains(cn)) {
                val ex = s"k > ${rnd.nextInt(9)}"
                refCons += cn -> ex
                TxnLog.Constraint(cn, ex)
              } else {
                refCons -= cn
                TxnLog.DropConstraint(cn)
              }
          }
        }
        // r12 feature-triggered raise: a commit carrying any v2 action
        // auto-raises a sub-(2,2) table to (2,2) in the same commit
        // (NoDataChange is advisory — deliberately NOT in the set)
        val hasV2 = acts.exists {
          case _: TxnLog.SetDV | _: TxnLog.ExtRef | _: TxnLog.ColMap |
               _: TxnLog.ColDrop | _: TxnLog.ColUndrop |
               _: TxnLog.Constraint | _: TxnLog.DropConstraint |
               _: TxnLog.SetBloom => true
          case _ => false
        }
        if (hasV2) refProto = (math.max(refProto._1, 2),
          math.max(refProto._2, 2))
        assert(TxnLog.tryCommit(root, v, acts, "prop", nowMs = v * 100L))
        perVersion += ((refLive, refDvs, refCons, refExt, refCm,
          refDrop, refBloom, refProto))
      }
      assert(TxnLog.checkpoints(root) == Seq(10, 20))
      def check(v: Int): Unit = {
        val st = TxnLog.stateAt(root, v)
        val (ref, refDv, refCn, refEx, refMap, refDr, refBl, refPr) =
          perVersion(v - 1)
        assert(st.live == ref.keySet, s"live mismatch at v$v")
        for ((f, (part, cols)) <- ref) {
          assert(st.parts.getOrElse(f, Seq.empty) == part,
            s"parts mismatch at v$v/$f")
          assert(st.stats.getOrElse(f, Seq.empty) == cols,
            s"stats mismatch at v$v/$f")
        }
        assert(st.dvs == refDv, s"dvs mismatch at v$v")
        assert(st.constraints == refCn, s"constraints mismatch at v$v")
        assert(st.ext == refEx, s"ext mismatch at v$v")
        assert(st.colmap == refMap, s"colmap mismatch at v$v")
        assert(st.dropped == refDr, s"dropped mismatch at v$v")
        assert(st.blooms == refBl, s"blooms mismatch at v$v")
        assert(st.protocol == refPr, s"protocol mismatch at v$v")
      }
      (1 to 25).foreach(check)
      // cleanup floors the log at v20; the checkpoint alone must
      // reconstruct the rich metadata for every remaining version
      assert(TxnLog.cleanupLog(root).nonEmpty)
      (20 to 25).foreach(check)
    }
  }

  /** Scratch root for stress/property cases. */
  private def withTxnStress(body: String => Unit): Unit = withScratch(body)

  test("OPTIMIZE and MERGE work across schema generations") {
    import spark.implicits._
    withScratch { root =>
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/f0")
      Seq((3L, 30.0, "x")).toDF("k", "v", "tag")
        .coalesce(1).write.parquet(s"$root/f1")
      assert(TxnLog.commitAppend(root, Seq("f0"), "k BIGINT,v DOUBLE",
        "s") == 1)
      assert(TxnLog.commitAppend(root, Seq("f1"),
        "k BIGINT,v DOUBLE,tag STRING", "s", evolve = true) == 2)
      val before = TxnLog.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getDouble(1),
          Option(r.getString(2)))).toSet
      // a bin spanning both generations rewrites under the MERGED
      // column set (unionByName null-fill) — OPTIMIZE materializes
      // the evolution instead of failing the unionAll arity check
      val v = TxnLog.compact(spark, root, "opt")
      assert(v.contains(3), s"compaction failed on evolved table: $v")
      val out = TxnLog.liveFiles(root, 3)
      assert(out.size == 1)
      assert(spark.read.parquet(s"$root/${out.head}")
        .columns.toSet == Set("k", "v", "tag"),
        "rewrite did not materialize the merged schema")
      assert(TxnLog.read(spark, root).collect().map(r =>
        (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
        == before, "compaction changed an evolved table's content")
      // MERGE replacing a row that lives in an OLD-generation slice:
      // the rewrite must keep the source row's evolved column (a
      // rewrite under the file's own narrow schema would drop it)
      Seq((9L, 90.0)).toDF("k", "v").coalesce(1)
        .write.parquet(s"$root/g0")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("g0")), "s") == 4)
      val src = Seq((9L, 91.0, "new")).toDF("k", "v", "tag")
      assert(TxnLog.mergeUpsert(spark, root, src, "k", "m").contains(5))
      val got = TxnLog.read(spark, root).where(col("k") === 9L)
        .collect().map(r => (r.getDouble(1), Option(r.getString(2))))
      assert(got.toSeq == Seq((91.0, Some("new"))),
        s"merge dropped the evolved column through an old file: " +
          got.mkString(","))
    }
  }

  // ------------------------------------------- vacuum after cleanup

  test("vacuum after cleanupLog still reclaims pre-checkpoint orphans") {
    import spark.implicits._
    withScratch { root =>
      // f2 is added at v2 and removed at v5 — after cleanup its whole
      // lifecycle is below the checkpoint, invisible to the log census
      for (i <- 1 to 12) {
        Seq((i.toLong, 1.0)).toDF("k", "v")
          .coalesce(1).write.parquet(s"$root/f$i")
        val acts: Seq[TxnLog.Entry] =
          if (i == 5) Seq(TxnLog.add(s"f$i"), TxnLog.remove("f2"))
          else Seq(TxnLog.add(s"f$i"))
        assert(TxnLog.tryCommit(root, i, acts, "s", nowMs = i * 1000L))
      }
      assert(TxnLog.cleanupLog(root).nonEmpty)
      // DRY RUN first: same reclaim set, zero deletion — the preview
      // before the irreversible cleanup
      val preview = TxnLog.vacuum(root, retainVersions = 1,
        listingGraceMs = 0L, dryRun = true)
      assert(preview.contains("f2"))
      assert(new java.io.File(root, "f2").exists(),
        "dry-run vacuum deleted data")
      // the WRONG order (cleanup first) used to leak f2 forever; the
      // listing fallback census reclaims it (grace 0: test posture)
      val gone = TxnLog.vacuum(root, retainVersions = 1,
        listingGraceMs = 0L)
      assert(gone == preview, s"dry-run promised $preview, got $gone")
      assert(gone.contains("f2"),
        s"pre-checkpoint orphan f2 leaked; vacuum removed only $gone")
      assert(!new java.io.File(root, "f2").exists())
      // everything live at the tip survives
      for (f <- TxnLog.liveFiles(root, TxnLog.latestVersion(root)))
        assert(new java.io.File(root, f).isDirectory, s"lost live $f")
      // idempotent
      assert(TxnLog.vacuum(root, retainVersions = 1,
        listingGraceMs = 0L).isEmpty)
    }
  }

  test("vacuum reclaims a crashed writer's orphaned staging dir on a " +
    "NEVER-cleaned table (r12: the listing census always runs)") {
    import spark.implicits._
    withScratch { root =>
      Seq((1L, 1.0)).toDF("k", "v").coalesce(1)
        .write.parquet(s"$root/f1")
      assert(TxnLog.tryCommit(root, 1, Seq(TxnLog.add("f1")), "s"))
      // a killed SQL INSERT: bytes staged under the write face's
      // deterministic name, no log entry anywhere
      Seq((9L, 9.0)).toDF("k", "v").coalesce(1)
        .write.parquet(s"$root/w_deadbeef")
      val preview = TxnLog.vacuum(root, retainVersions = 1,
        listingGraceMs = 0L, dryRun = true)
      assert(preview == Seq("w_deadbeef"), preview.toString)
      assert(TxnLog.vacuum(root, retainVersions = 1,
        listingGraceMs = 0L) == Seq("w_deadbeef"))
      assert(!new java.io.File(root, "w_deadbeef").exists())
      assert(new java.io.File(root, "f1").isDirectory, "lost live f1")
      // with the default grace the same dir would have survived as
      // in-flight (the other spec pins that side)
    }
  }

  test("vacuum listing fallback respects the mtime grace window") {
    import spark.implicits._
    withScratch { root =>
      for (i <- 1 to 10) {
        Seq((i.toLong, 1.0)).toDF("k", "v")
          .coalesce(1).write.parquet(s"$root/f$i")
        assert(TxnLog.tryCommit(root, i, Seq(TxnLog.add(s"f$i")), "s",
          nowMs = i * 1000L))
      }
      assert(TxnLog.cleanupLog(root).nonEmpty)
      // an in-flight writer's uncommitted dir: fresh mtime, unknown to
      // the log — the grace window must keep the listing census away
      Seq((99L, 9.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/inflight_rewrite")
      val gone = TxnLog.vacuum(root, retainVersions = 1)
      assert(!gone.contains("inflight_rewrite"),
        "vacuum deleted an in-flight writer's uncommitted output")
      assert(new java.io.File(root, "inflight_rewrite").isDirectory)
    }
  }

  test("multi-bin OPTIMIZE keeps clustered key ranges disjoint per output") {
    import spark.implicits._
    withScratch { root =>
      // a z-order-style layout: 4 files named in key order, each
      // covering a disjoint range — the state layout_zorder pays a
      // sort to produce
      for (i <- 0 to 3)
        (i * 1000L until (i + 1) * 1000L).map(k => (k, k * 1.0))
          .toDF("k", "v").coalesce(1).write.parquet(s"$root/r$i")
      assert(TxnLog.commitNext(root,
        (0 to 3).map(i => TxnLog.add(s"r$i")), "s") == 1)
      val oneFile = graft.sources.LocalLogStore.dataBytes(root, "r0")
      // cap fits two files per bin -> 2 outputs; sequential name-order
      // packing must put (r0,r1) and (r2,r3) together, so each output
      // covers a CONTIGUOUS half of the key space — FFD-style
      // membership would be free to mix r0 with r3 and destroy the
      // clustering OPTIMIZE claims to preserve
      val v = TxnLog.compact(spark, root, "opt",
        targetBytes = oneFile * 2 + oneFile / 2)
      assert(v.contains(2))
      val outs = TxnLog.liveFiles(root, 2)
      assert(outs.size == 2, s"expected 2 bins, got $outs")
      val spans = outs.map { o =>
        val r = spark.read.parquet(s"$root/$o")
          .agg(min(col("k")), max(col("k")), count(lit(1))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }.sortBy(_._1)
      assert(spans == Seq((0L, 1999L, 2000L), (2000L, 3999L, 2000L)),
        s"bin membership mixed clustered ranges: $spans")
      // and within each output the rows stay in key order
      for (o <- outs) {
        val ks = spark.read.parquet(s"$root/$o")
          .select("k").collect().map(_.getLong(0))
        assert(ks.toSeq == ks.sorted.toSeq, s"$o lost row order")
      }
    }
  }

  // --------------------------------------- OPTIMIZE plan shape (r10)

  test("compact's bin rewrite plan is narrow: no Exchange anywhere") {
    import spark.implicits._
    withScratch { root =>
      for (i <- 0 to 2)
        (i * 100L until i * 100L + 100L).map(k => (k, k * 1.0))
          .toDF("k", "v").coalesce(1).write.parquet(s"$root/f$i")
      // the exact plan compact() executes per bin: per-file scans ->
      // union -> coalesce(1) -> write. repartition(k) here would be an
      // Exchange (the r9 shape); the bin path must stay a narrow
      // dependency so OPTIMIZE never re-shuffles the data it moves
      val bin = (0 to 2).map(i => spark.read.parquet(s"$root/f$i"))
        .reduce(_ unionAll _).coalesce(1)
      val plan = bin.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bin rewrite plan shuffles:\n$plan")
      assert(TxnLog.commitNext(root,
        (0 to 2).map(i => TxnLog.add(s"f$i")), "s") == 1)
      // and the committed rewrite preserves scan-order clustering:
      // each output holds whole input files, so a sorted input stays
      // sorted per output (z-order composability)
      val v = TxnLog.compact(spark, root, "opt", targetBytes = 1L << 40)
      assert(v.contains(2))
      val out = TxnLog.liveFiles(root, 2)
      assert(out == Seq("c00000002_opt"))
      val ks = spark.read.parquet(s"$root/${out.head}")
        .select("k").collect().map(_.getLong(0))
      assert(ks.toSeq == ks.sorted.toSeq,
        "single-bin rewrite lost the inputs' clustering")
    }
  }

  test("readChanges diffs the journal exactly and fails below the retention floor") {
    import spark.implicits._
    withScratch { root =>
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/f0")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      // v2 is a copy-on-write DELETE rewrite: its add re-writes the
      // surviving k=2 row, which must CANCEL in the diff — only the
      // actually-deleted row appears
      assert(TxnLog.deleteRange(spark, root, "k", "1", "1", "s")
        .contains(2))
      val ch = TxnLog.readChanges(spark, root, 0)
        .select(col("_commit_version"), col("_change_type"), col("k"))
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
      assert(ch == Set((1, "insert", 1L), (1, "insert", 2L),
        (2, "delete", 1L)), s"journal diff wrong: $ch")
      // a sub-range sees only its own versions
      val ch2 = TxnLog.readChanges(spark, root, 1)
        .select(col("_change_type"), col("k")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(ch2 == Set(("delete", 1L)), s"sub-range wrong: $ch2")
      // below the retention floor (cleanupLog retired the version
      // files) CDF must fail loudly, never return partial changes
      for (i <- 3 to 10)
        assert(TxnLog.tryCommit(root, i, Seq(TxnLog.add(s"g$i")), "s",
          nowMs = i * 1000L))
      assert(TxnLog.cleanupLog(root).nonEmpty)
      val e = intercept[IllegalArgumentException](
        TxnLog.readChanges(spark, root, 0))
      assert(e.getMessage.contains("retention"), e.getMessage)
      // above the floor the tail keeps working
      Seq((9L, 9.0)).toDF("k", "v").coalesce(1).write.parquet(s"$root/g11")
      assert(TxnLog.tryCommit(root, 11, Seq(TxnLog.add("g11")), "s"))
      val ch3 = TxnLog.readChanges(spark, root, 10)
        .select(col("k")).collect().map(_.getLong(0)).toSeq
      assert(ch3 == Seq(9L), s"post-floor tail wrong: $ch3")
    }
  }

  test("OPTIMIZE ZORDER creates the 2-D clustering pruneWhere exploits") {
    import spark.implicits._
    // the same unclustered ingest (4 interleaved slices, every file
    // spanning the full x AND y domains) lands in two tables; one
    // gets the default clustering-PRESERVING OPTIMIZE, the other the
    // clustering-CREATING zorder mode
    def mkTable(root: String): Unit = {
      val rows = (0 until 4096).map(i =>
        ((i.toLong * 37) % 1024, (i.toLong * 101) % 1024))
      for (s <- 0 until 4)
        rows.zipWithIndex.filter(_._2 % 4 == s).map(_._1)
          .toDF("x", "y").coalesce(1).write.parquet(s"$root/f$s")
      val adds: Seq[TxnLog.Entry] = (0 until 4).map { s =>
        TxnLog.AddFile(s"f$s", Seq.empty, Seq(
          TxnLog.statsFor(spark, root, s"f$s", "x"),
          TxnLog.statsFor(spark, root, s"f$s", "y")))
      }
      assert(TxnLog.tryCommit(root, 1, adds, "s"))
    }
    withScratch { plain =>
      withScratch { zed =>
        mkTable(plain); mkTable(zed)
        // r12: a sub-target-sized table is all single-file bins — the
        // default OPTIMIZE refuses the pointless 1:1 rewrite outright
        // (the ingest layout is all it could ever preserve anyway)
        assert(TxnLog.compact(spark, plain, "opt",
          targetBytes = 1L).isEmpty)
        assert(TxnLog.compactZorder(spark, zed, Seq("x", "y"), "opt",
          zBuckets = 16).contains(2))
        // 2-D predicate box: the bottom-left sixteenth of the domain
        val preds = Seq(("x", "0", "255"), ("y", "0", "255"))
        val (_, prunedPlain) = TxnLog.pruneWhere(plain, 1, Seq.empty, preds)
        val (zScan, zPruned) = TxnLog.pruneWhere(zed, 2, Seq.empty, preds)
        // plain OPTIMIZE can only preserve what the ingest had: every
        // bin still spans both domains, nothing prunes
        assert(prunedPlain.isEmpty,
          s"interleaved ingest should not prune: $prunedPlain")
        // the z-order rewrite cuts the space so the box touches few
        // cells — strictly more pruning, and most files skipped
        assert(zPruned.size > prunedPlain.size &&
          zPruned.size > zScan.size,
          s"zorder pruned ${zPruned.size} vs scanned ${zScan.size}")
        // re-layout may never change content (plain stayed at v1 —
        // the refused rewrite is also a refused version)
        val a = TxnLog.read(spark, plain).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val b = TxnLog.read(spark, zed).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(a == b, "zorder changed table content")
        // outputs carry BOTH columns' bounds (the point of the mode)
        val st = TxnLog.stateAt(zed, 2)
        assert(st.live.forall(f => st.stats.get(f)
          .exists(s => s.map(_.col).toSet == Set("x", "y"))),
          s"zorder outputs missing 2-D bounds: ${st.stats}")
      }
    }
  }

  test("OPTIMIZE ZORDER runs within partition tuples and keeps them") {
    import spark.implicits._
    withScratch { root =>
      // two partitions, each ingested as 2 interleaved slices
      val df = (0 until 512).map(i =>
        ((i.toLong * 37) % 256, (i.toLong * 101) % 256,
          if (i % 2 == 0) "a" else "b")).toDF("x", "y", "p")
      assert(TxnLog.commitPartitionedAppend(spark, root, df,
        partCols = Seq("p"), statsCols = Seq("x"), session = "s") == 1)
      val v = TxnLog.compactZorder(spark, root, Seq("x", "y"), "opt",
        zBuckets = 4)
      assert(v.contains(2), s"partitioned zorder did not commit: $v")
      val st = TxnLog.stateAt(root, 2)
      // every output still carries its partition tuple (zorder runs
      // WITHIN partitions) plus bounds on both z columns
      assert(st.live.nonEmpty)
      st.live.foreach { f =>
        val part = st.parts.getOrElse(f, Seq.empty)
        assert(part.size == 1 && part.head._1 == "p",
          s"zorder output $f lost its partition tuple: $part")
        assert(st.stats.get(f)
          .exists(s => s.map(_.col).toSet == Set("x", "y")),
          s"zorder output $f missing 2-D bounds: ${st.stats.get(f)}")
      }
      // partition pruning still cuts after the rewrite
      val (scanned, pruned) = TxnLog.pruneWhere(root, 2,
        Seq("p" -> "a"), Seq.empty)
      assert(pruned.nonEmpty && scanned.nonEmpty,
        s"partition pruning degraded: scanned=$scanned pruned=$pruned")
      // content survived
      val got = TxnLog.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
      val want = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
      assert(got.toSeq == want.toSeq, "partitioned zorder changed content")
    }
  }

  // --------------------------------------- r11 null-safety hardening

  test("deleteRange keeps null-keyed rows in a partially-matching file") {
    import spark.implicits._
    withScratch { root =>
      // DELETE k BETWEEN 10 AND 20: the null-keyed row does NOT match
      // (the predicate is not TRUE for it) and must survive the
      // rewrite — a bare `!pred` filter evaluates to null there and
      // silently destroys it (ADVICE r10 high: data loss)
      Seq(Some(5L), None, Some(15L)).map(k => (k, 1.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/f0")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      val v = TxnLog.deleteRange(spark, root, "k", "10", "20", "s")
      assert(v.contains(2), s"delete did not commit: $v")
      val got = TxnLog.read(spark, root).select("k").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
      assert(got == Set(Some(5L), None),
        s"range delete destroyed null-keyed rows: $got")
      // a file of ONLY null keys is never touched at all
      Seq(None: Option[Long]).map(k => (k, 9.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/fn")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("fn")), "s") == 3)
      assert(TxnLog.deleteRange(spark, root, "k", "0", "5", "s")
        .contains(4))
      assert(TxnLog.liveFiles(root, 4).contains("fn"),
        "all-null file must never be touched by a range delete")
      val after = TxnLog.read(spark, root).select("k").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
      assert(after == Seq(None, None), s"survivors wrong: $after")
    }
  }

  test("commitPartitionedAppend rejects null partition values loudly") {
    import spark.implicits._
    withScratch { root =>
      // `===` slicing would route null-partition rows into NO slice
      // (silent row loss) and render the tuple as the ambiguous
      // literal "null" — rejected up front instead (ADVICE r10 medium)
      val df = Seq((1L, Option("a")), (2L, None: Option[String]))
        .toDF("k", "p")
      val e = intercept[IllegalArgumentException](
        TxnLog.commitPartitionedAppend(spark, root, df,
          partCols = Seq("p"), statsCols = Seq("k"), session = "s"))
      assert(e.getMessage.contains("null"), e.getMessage)
      assert(TxnLog.latestVersion(root) == 0, "partial commit leaked")
    }
  }

  test("hadoop putIfAbsent: non-race IOException surfaces; taken slot is a loss") {
    withScratch { root =>
      @volatile var boom = false
      val store = new HadoopLogStore(
        spark.sparkContext.hadoopConfiguration) {
        override protected def renameNoOverwrite(
            tmp: org.apache.hadoop.fs.Path,
            dest: org.apache.hadoop.fs.Path): Unit = {
          if (boom) throw new java.io.IOException("disk quota exceeded")
          super.renameNoOverwrite(tmp, dest)
        }
      }
      val log = new TxnLogOps(store)
      assert(log.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      boom = true
      // slot v2 is EMPTY and the rename failed for a non-race reason:
      // the fault must surface, not read as a lost race (VERDICT r10
      // #3: maxAttempts exhaustion would misreport a real I/O fault)
      val e = intercept[java.io.IOException](
        log.tryCommit(root, 2, Seq(TxnLog.add("f1")), "s"))
      assert(e.getMessage.contains("quota"), e.getMessage)
      // slot v1 is TAKEN: the same failing rename classifies as a loss
      assert(!log.tryCommit(root, 1, Seq(TxnLog.add("f1")), "s"))
      boom = false
      assert(log.tryCommit(root, 2, Seq(TxnLog.add("f1")), "s"))
    }
  }

  test("mergeUpsert keeps pruning metadata; a changed partition value drops the tuple") {
    import spark.implicits._
    withScratch { root =>
      val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (5L, "b", 50.0),
        (6L, "b", 60.0)).toDF("k", "p", "v")
      assert(TxnLog.commitPartitionedAppend(spark, root, df,
        partCols = Seq("p"), statsCols = Seq("k"), session = "s") == 1)
      // update k=2 in place (p stays 'a'); insert k=9
      val src = Seq((2L, "a", 21.0), (9L, "b", 90.0)).toDF("k", "p", "v")
      assert(TxnLog.mergeUpsert(spark, root, src, "k", "m").contains(2))
      val st = TxnLog.stateAt(root, 2)
      val rewritten = TxnLog.liveFiles(root, 2)
        .filter(_.startsWith("m00000002_m_u"))
      assert(rewritten.size == 1, s"expected one rewrite: $rewritten")
      // the rewrite kept its partition tuple (every row still p='a')
      // and recomputed its k bounds (ADVICE r10: plain add() used to
      // strip both, degrading skipping to full scans after MERGE)
      assert(st.parts.get(rewritten.head).contains(Seq("p" -> "a")),
        s"merge rewrite lost its partition tuple: ${st.parts}")
      assert(st.stats.get(rewritten.head)
        .exists(_.exists(s => s.col == "k" && s.min == "1" &&
          s.max == "2")), s"merge rewrite lost stats: ${st.stats}")
      // the insert file publishes k bounds too (no tuple: it may span
      // partitions)
      val ins = TxnLog.liveFiles(root, 2).find(_.endsWith("_ins")).get
      assert(st.stats.get(ins)
        .exists(_.exists(s => s.col == "k" && s.min == "9" &&
          s.max == "9")), s"insert file lost stats: ${st.stats}")
      // partition pruning is still effective post-merge: planning
      // p='b' prunes the rewritten a-file from the log alone
      val (scanned, _) = TxnLog.pruneWhere(root, 2,
        Seq("p" -> "b"), Seq.empty)
      assert(!scanned.contains(rewritten.head),
        s"post-merge partition pruning degraded: scanned $scanned")
      // a merge that MOVES a key across partitions (k=5: b -> a) makes
      // the rewritten b-file mixed — the tuple must be dropped, not
      // inherited wrong (wrong metadata would prune live rows away)
      val src2 = Seq((5L, "a", 51.0)).toDF("k", "p", "v")
      assert(TxnLog.mergeUpsert(spark, root, src2, "k", "m2").contains(3))
      val st3 = TxnLog.stateAt(root, 3)
      val moved = TxnLog.liveFiles(root, 3)
        .filter(_.startsWith("m00000003_m2_u"))
      assert(moved.size == 1)
      assert(!st3.parts.contains(moved.head),
        s"mixed-partition rewrite kept a wrong tuple: ${st3.parts}")
      assert(st3.stats.get(moved.head)
        .exists(_.exists(s => s.col == "k" && s.min == "5" &&
          s.max == "6")), s"moved rewrite lost stats: ${st3.stats}")
      // correctness of content throughout
      val got = TxnLog.read(spark, root)
        .select("k", "p", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(got == Set((1L, "a", 10.0), (2L, "a", 21.0),
        (5L, "a", 51.0), (6L, "b", 60.0), (9L, "b", 90.0)), s"$got")
    }
  }
}
