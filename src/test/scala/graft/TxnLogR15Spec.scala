package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxnLog

/** Round-15 txn-log surface (the VERDICT/ADVICE r14 closures): the
  * size-gated broadcast valve on DML probe frames, the full-table-read
  * (nmbs) merge's concurrent-append conflict, ATOMIC schema evolution
  * through MERGE, the empty-subquery NOT IN fix, and the widened
  * subquery surface — EXISTS (constant + equality-correlated) and
  * multi-column IN. */
class TxnLogR15Spec extends AnyFunSuite with SparkSpec {

  private def withScratch(body: String => Unit): Unit = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_r15_").toString
    try body(root)
    finally graft.core.Fixtures.deleteRecursively(new java.io.File(root))
  }

  test("DML broadcast valve: probe frames hint only under the session " +
    "threshold; above it the join degrades instead of OOMing " +
    "(VERDICT r14 #2 / ADVICE r14 medium)") {
    import spark.implicits._
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst {
        case h: org.apache.spark.sql.catalyst.plans.logical
          .ResolvedHint if h.hints.strategy.exists(
            _.toString.contains("broadcast")) => h
      }.nonEmpty
    val small = (1L to 10L).toDF("k")
    // under the threshold: hinted; above it: the plain frame
    assert(hinted(TxnLog.maybeBroadcast(spark, small, 10L)))
    assert(!hinted(TxnLog.maybeBroadcast(spark, small, 1L << 40)))
    withThreshold(-1L) { // auto-broadcast disabled: never hint
      assert(!hinted(TxnLog.maybeBroadcast(spark, small, 10L)))
    }
    // end-to-end: a merge and a subquery DELETE stay EXACT with the
    // valve forced open (threshold below any frame) — the ladder
    // rides a shuffled join, results byte-identical
    withThreshold(1L) {
      val df = (1L to 40L).map(k => (k, k * 1.0)).toDF("k", "v")
      withScratch { root =>
        assert(TxnLog.writeAppend(spark, root, df, "s", "t0") == 1)
        val src = (30L to 50L).map(k => (k, -k * 1.0)).toDF("k", "v")
        assert(TxnLog.mergeUpsert(spark, root, src, "k", "m")
          .contains(2))
        val r = TxnLog.read(spark, root)
        assert(r.count() == 50)
        assert(r.where(col("k") >= 30L && col("v") > 0).count() == 0)
      }
      withScratch { root =>
        assert(TxnLog.writeAppend(spark, root, df, "s", "t0") == 1)
        (1L to 20L).map(_ * 2).toDF("kk")
          .createOrReplaceTempView("r15_valve_keys")
        assert(TxnLog.deletePredicate(spark, root,
          "k IN (SELECT kk FROM r15_valve_keys)", "s").contains(2))
        assert(TxnLog.read(spark, root).count() == 20)
      }
    }
  }

  test("full-table-read merge (nmbs) conflicts with a concurrent " +
    "append it never censused; append-only interleavers still " +
    "commute with plain merges (ADVICE r14 medium)") {
    import spark.implicits._
    val df = (1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v")
    // snapshot-sync + interleaved append: rows absent from the source
    // would survive a sync serialized after them — must abort
    withScratch { root =>
      assert(TxnLog.writeAppend(spark, root, df, "s", "t0") == 1)
      val src = (1L to 10L).map(k => (k, k * 1.0)).toDF("k", "v")
      val r = TxnLog.mergeClausesKeys(spark, root, src, Seq("k"), "m",
        updateWhen = Some(lit(true)), deleteWhen = None,
        nmbsDelete = Some(lit(true)),
        beforeCommit = () =>
          assert(TxnLog.writeAppend(spark,
            root, Seq((99L, 99.0)).toDF("k", "v"), "c", "t1") == 2))
      assert(r.isEmpty, s"nmbs merge committed over an uncensused append: $r")
      // aborted cleanly: the append stands, no merge output landed
      assert(TxnLog.latestVersion(root) == 2)
      assert(TxnLog.read(spark, root).count() == 21)
      // the strict (SQL) face is LOUD on the same race
      intercept[java.util.ConcurrentModificationException] {
        TxnLog.mergeClausesKeys(spark, root, src, Seq("k"), "m",
          updateWhen = Some(lit(true)), deleteWhen = None,
          nmbsDelete = Some(lit(true)), strictConflict = true,
          beforeCommit = () =>
            assert(TxnLog.writeAppend(spark,
              root, Seq((98L, 98.0)).toDF("k", "v"), "c", "t2") == 3))
      }
    }
    // control: a merge WITHOUT nmbs clauses retries past the same
    // append (file-level commutativity, the WriteSerializable posture)
    withScratch { root =>
      assert(TxnLog.writeAppend(spark, root, df, "s", "t0") == 1)
      val src = Seq((1L, 11.0)).toDF("k", "v")
      assert(TxnLog.mergeUpsert(spark, root, src, "k", "m",
        beforeCommit = () =>
          assert(TxnLog.writeAppend(spark,
            root, Seq((99L, 99.0)).toDF("k", "v"), "c", "t1") == 2))
        .contains(3))
      assert(TxnLog.read(spark, root).count() == 21)
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION is atomic: an aborted merge " +
    "leaves the schema untouched; a concurrent identical widening " +
    "folds clean (ADVICE r14 medium)") {
    import spark.implicits._
    val df = (1L to 5L).map(k => (k, k * 1.0)).toDF("k", "v")
    // CHECK violation: the widened DDL must NOT land with the failure
    withScratch { root =>
      assert(TxnLog.writeAppend(spark, root, df, "s", "t0") == 1)
      assert(TxnLog.addConstraint(spark, root, "vcap", "v < 100",
        "s") == 2)
      val bad = Seq((9L, 999.0, "z")).toDF("k", "v", "tag")
      intercept[IllegalArgumentException] {
        TxnLog.mergeClausesKeys(spark, root, bad, Seq("k"), "m",
          updateWhen = Some(lit(true)), deleteWhen = None,
          evolveSchema = true)
      }
      val st = TxnLog.stateAt(root, TxnLog.latestVersion(root))
      assert(TxnLog.latestVersion(root) == 2)
      assert(!st.schemaDdl.get.contains("tag"),
        "failed evolving merge stranded its widened schema")
    }
    // lost strict conflict: same invariant through the abort path
    withScratch { root =>
      assert(TxnLog.writeAppend(spark, root, df, "s", "t0") == 1)
      val f0 = TxnLog.liveFiles(root, 1).head
      val src = Seq((1L, 11.0, "a")).toDF("k", "v", "tag")
      intercept[java.util.ConcurrentModificationException] {
        TxnLog.mergeClausesKeys(spark, root, src, Seq("k"), "m",
          updateWhen = Some(lit(true)), deleteWhen = None,
          evolveSchema = true, strictConflict = true,
          beforeCommit = () =>
            assert(TxnLog.commitNext(root,
              Seq(TxnLog.remove(f0)), "c") == 2))
      }
      val st = TxnLog.stateAt(root, TxnLog.latestVersion(root))
      assert(!st.schemaDdl.exists(_.contains("tag")),
        "aborted evolving merge stranded its widened schema")
    }
    // a concurrent writer widening IDENTICALLY between resolve and
    // commit: the re-resolution folds to no-DDL and the merge lands
    withScratch { root =>
      assert(TxnLog.writeAppend(spark, root, df, "s", "t0") == 1)
      val src = Seq((1L, 11.0, "a")).toDF("k", "v", "tag")
      val v = TxnLog.mergeClausesKeys(spark, root, src, Seq("k"), "m",
        updateWhen = Some(lit(true)), deleteWhen = None,
        evolveSchema = true,
        beforeCommit = () =>
          assert(TxnLog.writeAppend(spark, root,
            Seq((50L, 5.0, "w")).toDF("k", "v", "tag"), "c", "t1",
            evolve = true) == 2))
      assert(v.contains(3), s"merge lost to a commuting widening: $v")
      val r = TxnLog.read(spark, root).where(col("k") === 1L).head()
      assert(r.getDouble(1) == 11.0 && r.getString(2) == "a")
    }
  }

  test("IN over an EMPTY subquery is FALSE for every probe — NOT IN " +
    "deletes null-keyed rows too (ADVICE r14 low)") {
    import spark.implicits._
    val df = ((1L to 5L).map(k => (Some(k), k * 1.0)) :+
      ((Option.empty[Long], -1.0))).toDF("k", "v")
    spark.sql("SELECT CAST(NULL AS BIGINT) AS kk WHERE 1 = 0")
      .createOrReplaceTempView("r15_empty")
    withScratch { root =>
      assert(TxnLog.writeAppend(spark, root, df, "s", "t0") == 1)
      // k IN (empty) = FALSE everywhere: delete fires on nothing
      assert(TxnLog.deletePredicate(spark, root,
        "k IN (SELECT kk FROM r15_empty)", "s").isEmpty)
      // k NOT IN (empty) = TRUE everywhere — the null-keyed row
      // deletes too (the r14 probe-null branch kept it)
      assert(TxnLog.deletePredicate(spark, root,
        "k NOT IN (SELECT kk FROM r15_empty)", "s").contains(2))
      assert(TxnLog.read(spark, root).count() == 0)
    }
  }

  test("EXISTS in DML predicates (VERDICT r14 #5): uncorrelated is a " +
    "constant; equality-correlated probes membership; NOT EXISTS is " +
    "two-valued") {
    import spark.implicits._
    val df = ((1L to 10L).map(k => (Some(k), k * 1.0)) :+
      ((Option.empty[Long], -1.0))).toDF("k", "v")
    Seq((2L, 1), (4L, 1), (6L, 0)).toDF("kk", "flag")
      .createOrReplaceTempView("r15_m")
    // equality-correlated EXISTS with an inner-only conjunct: only
    // flagged keys fire; the null-keyed row never matches
    withScratch { root =>
      assert(TxnLog.writeAppend(spark, root, df, "s", "t0") == 1)
      assert(TxnLog.deletePredicate(spark, root,
        "EXISTS (SELECT 1 FROM r15_m WHERE r15_m.kk = k AND " +
          "r15_m.flag = 1)", "s").contains(2))
      val r = TxnLog.read(spark, root)
      assert(r.count() == 9, r.collect().mkString(","))
      assert(r.where(col("k").isin(2L, 4L)).count() == 0)
      assert(r.where(col("k") === 6L).count() == 1,
        "inner-only conjunct lost: unflagged key fired")
      assert(r.where(col("k").isNull).count() == 1)
      // NOT EXISTS is two-valued: a miss is FALSE, so NOT EXISTS
      // fires — null-keyed rows DELETE under NOT EXISTS (unlike the
      // NOT IN trap)
      assert(TxnLog.deletePredicate(spark, root,
        "NOT EXISTS (SELECT 1 FROM r15_m WHERE r15_m.kk = k AND " +
          "r15_m.flag = 1)", "s").contains(3))
      assert(TxnLog.read(spark, root).count() == 0)
    }
    // uncorrelated EXISTS: a constant — nonempty fires everywhere,
    // empty is a clean no-op
    withScratch { root =>
      assert(TxnLog.writeAppend(spark, root, df, "s", "t0") == 1)
      assert(TxnLog.deletePredicate(spark, root,
        "EXISTS (SELECT 1 FROM r15_m WHERE flag = 9)", "s").isEmpty)
      assert(TxnLog.deletePredicate(spark, root,
        "EXISTS (SELECT 1 FROM r15_m)", "s").contains(2))
      assert(TxnLog.read(spark, root).count() == 0)
    }
    // the GRAFT SQL face drives the same seam
    withScratch { root =>
      assert(TxnLog.writeAppend(spark, root, df, "s", "t0") == 1)
      assert(spark.sql(s"GRAFT UPDATE '$root' SET v = 0 WHERE " +
        "EXISTS (SELECT 1 FROM r15_m WHERE r15_m.kk = k)")
        .head().getInt(0) == 2)
      assert(TxnLog.read(spark, root).where(col("v") === 0.0)
        .count() == 3)
    }
  }

  test("multi-column IN subqueries: tuple-identity membership via a " +
    "struct key (VERDICT r14 #5)") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a"), 1.0), (Some(1L), Some("b"), 2.0),
      (Some(2L), Some("a"), 3.0), (Some(2L), Some("b"), 4.0),
      (Option.empty[Long], Some("a"), 5.0),
      (Some(3L), Option.empty[String], 6.0)
    ).toDF("k", "t", "v")
    spark.sql("SELECT CAST(1 AS BIGINT) AS kk, 'a' AS tt UNION ALL " +
      "SELECT CAST(2 AS BIGINT), 'b' UNION ALL " +
      "SELECT CAST(NULL AS BIGINT), 'a'")
      .createOrReplaceTempView("r15_pairs")
    withScratch { root =>
      assert(TxnLog.writeAppend(spark, root, df, "s", "t0") == 1)
      assert(TxnLog.deletePredicate(spark, root,
        "(k, t) IN (SELECT kk, tt FROM r15_pairs)", "s").contains(2))
      val left = TxnLog.read(spark, root).collect()
        .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
      // (1,a) and (2,b) match exactly; (null,a) matches the set's
      // (null,'a') under tuple identity (the documented divergence
      // from per-field three-valued row IN); (1,b), (2,a), (3,null)
      // survive
      assert(left == Set((Some(1L), Some("b")), (Some(2L), Some("a")),
        (Some(3L), None)), left.toString)
      // empty multi-column set: FALSE everywhere
      assert(TxnLog.deletePredicate(spark, root,
        "(k, t) IN (SELECT kk, tt FROM r15_pairs WHERE 1 = 0)", "s")
        .isEmpty)
    }
  }

  test("artifact-log writers re-check constraint drift at commit: a " +
    "CHECK added between enforcement and the won slot aborts the " +
    "advance (VERDICT r14 #6)") {
    import spark.implicits._
    withScratch { scratch =>
      val corpus = s"$scratch/corpus"
      val art = s"$scratch/art"
      val df = (1L to 50L).map(k => (k, k * 1.0)).toDF("k", "v")
      assert(TxnLog.writeAppend(spark, corpus, df, "s", "t0") == 1)
      // enforcement through the seam: a standing CHECK on the
      // ARTIFACT table the trained frame violates refuses the advance
      // and leaves the artifact table unmoved
      new java.io.File(art).mkdirs()
      assert(TxnLog.writeAppend(spark, art,
        Seq((0L, 0.0)).toDF("c", "w"), "s", "seed") == 1)
      assert(TxnLog.addConstraint(spark, art, "wcap", "w < 10",
        "s") == 2)
      intercept[IllegalArgumentException] {
        graft.llm.Similarity.advanceArtifactLog(spark, corpus, art,
          "a1", c => c.groupBy(lit(1).as("c"))
            .agg(sum(col("v")).as("w")))
      }
      assert(TxnLog.latestVersion(art) == 2)
      // DRIFT through the seam: the constraint lands WHILE the
      // retrained frame is being staged (after the writer read the
      // constraint set) — the commit loop's stability re-check must
      // refuse rather than land unchecked rows. The side effect rides
      // the training frame's own scan: commitNext is pure file I/O,
      // safe on a task thread.
      val art2 = s"$scratch/art2"
      new java.io.File(art2).mkdirs()
      val sneak = udf { (v: Double) =>
        if (TxnLog.latestVersion(art2) < 1 ||
            TxnLog.stateAt(art2,
              TxnLog.latestVersion(art2)).constraints.isEmpty) {
          try TxnLog.commitNext(art2,
            Seq(TxnLog.Constraint("wcap", "w < 10")), "c")
          catch { case _: Throwable => () }
        }
        v
      }
      intercept[IllegalArgumentException] {
        graft.llm.Similarity.advanceArtifactLog(spark, corpus, art2,
          "a2", c => c.select(sneak(col("v")).as("vv"))
            .groupBy(lit(1).as("c")).agg(sum(col("vv")).as("w")))
      }
      val msg = "drifted CHECK must abort the artifact advance"
      assert(TxnLog.stateAt(art2, TxnLog.latestVersion(art2))
        .live.isEmpty, msg)
    }
  }
}
