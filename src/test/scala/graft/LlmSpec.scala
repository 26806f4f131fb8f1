package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Similarity}

/** Semantic invariants of the LLM-pipeline operators beyond the
  * DuckDB hash gate: dedup ladder consistency, similarity sanity. */
class LlmSpec extends AnyFunSuite with SparkSpec {

  test("cache hygiene: no pinned RDDs survive the cache-heavy queries + drain") {
    graft.core.Caches.drain(spark) // isolate from earlier suites' caches
    // the cache-heavy ladder: LSH caches, fixpoint localCheckpoints,
    // simhash self-join cache, broadcast-under-apply
    Seq(Dedup.dedupFuzzy _, Dedup.dedupJaccard _, Dedup.dedupClusters _,
        Dedup.dedupApply _, Dedup.dedupSimhashNn _).foreach { q =>
      q(spark, sfDir).count()
      graft.core.Caches.drain(spark)
    }
    val pinned = spark.sparkContext.getPersistentRDDs
    assert(pinned.isEmpty,
      s"leaked pinned RDDs: ${pinned.values.map(_.toString).mkString("; ")}")
  }

  test("llm_dedup_index: verdicts equal the CDF recompute path; the " +
    "plan reads batch + signature index, never the base text") {
    graft.core.Caches.drain(spark)
    val idx = Dedup.dedupIndex(spark, sfDir)
    val idxRows = idx.collect().toSeq
    // byte-identical verdicts to the recompute-everything CDF client —
    // the index path must lose nothing
    val cdfRows = Dedup.dedupCdf(spark, sfDir).collect().toSeq
    assert(idxRows == cdfRows,
      s"index verdicts diverge from recompute (first few: " +
        s"${idxRows.take(3)} vs ${cdfRows.take(3)})")
    // the whole point: the standing corpus's TEXT is never rescanned —
    // the plan's scan roots are the increment file and the signature
    // table's files, and no scan of the base file exists anywhere
    val roots = idx.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources
        .LogicalRelation => l.relation match {
          case h: org.apache.spark.sql.execution.datasources
            .HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    assert(roots.nonEmpty, "no file scans found in the plan")
    assert(!roots.exists(_.contains("basefile")),
      s"index path rescanned the standing corpus's text: $roots")
    assert(roots.exists(_.contains("incfile")),
      s"expected the increment file in the plan: $roots")
    assert(roots.exists(_.contains("s00001")),
      s"expected the signature-index file in the plan: $roots")
    graft.core.Caches.drain(spark)
  }

  test("the signature index is a real txn-log table: OPTIMIZE compacts " +
    "its nightly appends without changing a verdict") {
    import graft.sources.TxnLog
    graft.core.Caches.drain(spark)
    val before = Dedup.dedupIndex(spark, sfDir).collect().toSeq
    graft.core.Caches.drain(spark)
    // the staged fixture's index root: resolve it the way the query
    // does (memoized), then OPTIMIZE the index table itself
    val idxRoot = {
      val probe = Dedup.dedupIndex(spark, sfDir)
      val roots = probe.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources
          .LogicalRelation => l.relation match {
            case h: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation => h.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      val s = roots.find(_.contains("/index/")).getOrElse(
        fail(s"no index root in $roots"))
      s.substring(s.indexOf("/tmp"), s.indexOf("/index/") + "/index".length)
    }
    graft.core.Caches.drain(spark)
    // the staged fixture persists across JVM runs, so the index may
    // arrive already compacted by an earlier suite run — r12's skip
    // rule then correctly refuses the 1:1 rewrite. Both states pin
    // real semantics: multi-file compacts once, and the nightly
    // re-run is ALWAYS a metadata no-op (no version, no rewrite).
    val tipBefore = TxnLog.latestVersion(idxRoot)
    val liveBefore = TxnLog.liveFiles(idxRoot, tipBefore)
    val v = TxnLog.compact(spark, idxRoot, "idxopt")
    if (liveBefore.size >= 2) {
      assert(v.contains(tipBefore + 1),
        s"index OPTIMIZE did not land: $v")
      assert(TxnLog.entriesAt(idxRoot, tipBefore + 1)
        .contains(TxnLog.NoDataChange))
    } else {
      assert(v.isEmpty, s"1:1 rewrite not skipped: $v")
      assert(TxnLog.latestVersion(idxRoot) == tipBefore)
    }
    assert(TxnLog.compact(spark, idxRoot, "idxopt2").isEmpty,
      "re-running OPTIMIZE on the compacted index must be a no-op")
    // verdicts must not move: reads at version 1 (pre-advance) and the
    // band algebra are content-addressed, and OPTIMIZE moved bytes only
    val after = Dedup.dedupIndex(spark, sfDir).collect().toSeq
    assert(after == before, "index compaction changed dedup verdicts")
    graft.core.Caches.drain(spark)
  }

  test("fixpoint releases round n-1 checkpoints while running (bounded pinned state)") {
    // the distributed fixpoint: a pair frame held on the driver pins nothing
    withThreshold(-1L) {
      graft.core.Caches.drain(spark) // isolate from earlier suites' caches
      // during clusterLabels itself, in-loop release keeps pinned blocks to
      // O(edges + 2 label frames); after the query's action + drain → zero
      Dedup.dedupClusters(spark, sfDir).count()
      // pre-drain: only the final round's checkpoint (+ the apply-side
      // frames for this invocation) may be pinned — not one per round.
      val live = spark.sparkContext.getPersistentRDDs.size
      assert(live <= 2, s"expected <=2 pinned RDDs pre-drain, found $live")
      graft.core.Caches.drain(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      // The fixture's components are pairs, which the one-hop seed settles
      // in a single round, so a per-round leak needs a deeper graph to
      // show: a 7-node path with its minimum mid-path takes 3 rounds, and
      // only the final round's labels may stay pinned.
      import spark.implicits._
      val path = Seq(17L, 12L, 19L, 11L, 15L, 14L, 20L)
      val labels = Dedup.connectedComponents(spark,
        path.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("doc_a", "doc_b"))
      val pinned = spark.sparkContext.getPersistentRDDs.size
      assert(pinned == 1, s"expected only the final labels pinned, found $pinned")
      assert(labels.collect().forall(_.getLong(1) == 11L))
      graft.core.Caches.drain(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    }
  }

  /** Runs `body` with a listener tracking the RDD ids that hold live
    * blocks (added on a block update, dropped on unpersist); returns the
    * peak count and the ids still live at the end. `getPersistentRDDs`
    * cannot stand in: it holds weak values, so a leaked checkpoint whose
    * frame is unreachable vanishes from it. */
  private def trackingPinned(body: => Unit): (Int, Set[Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
      SparkListenerUnpersistRDD}
    val live = scala.collection.mutable.Set.empty[Int]
    var peak = 0
    val l = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId.asRDDId.foreach { id =>
          if (e.blockUpdatedInfo.storageLevel.isValid) live += id.rddId
          else live -= id.rddId
          peak = math.max(peak, live.size)
        }
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        live -= e.rddId
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.StreamingShim.drainListenerBus(sc, 60000L)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.sql.graft.StreamingShim.drainListenerBus(sc, 60000L)
    } finally sc.removeSparkListener(l)
    (peak, live.toSet)
  }

  test("fixpoint peak pinned state is the edges plus two label rounds") {
    withThreshold(-1L) {
      import spark.implicits._
      graft.core.Caches.drain(spark)
      val path = Seq(17L, 12L, 19L, 11L, 15L, 14L, 20L)
      val (peak, left) = trackingPinned {
        val labels = Dedup.connectedComponents(spark,
          path.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("doc_a", "doc_b"))
        assert(labels.collect().forall(_.getLong(1) == 11L))
        graft.core.Caches.unpin(labels)
      }
      // three rounds: a round that kept its predecessor would reach 4
      assert(peak >= 2 && peak <= 3, s"peak pinned RDDs $peak")
      assert(left.isEmpty, s"still pinned: $left")
    }
  }

  test("an empty pair frame converges and leaves nothing pinned") {
    withThreshold(-1L) {
      import spark.implicits._
      graft.core.Caches.drain(spark)
      val (_, left) = trackingPinned {
        val labels = Dedup.connectedComponents(spark,
          Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
        assert(labels.collect().isEmpty)
        graft.core.Caches.unpin(labels)
      }
      assert(left.isEmpty, s"still pinned: $left")
    }
  }

  test("candidate plan equals a driver bucket reference: maxBucket edge, duplicated doc_id rows") {
    import spark.implicits._
    def words(tag: String) = (0 until 30).map(i => s"$tag$i").mkString(" ")
    val full = Dedup.maxBucket
    val nearC = words("c").replace("c29", "other")
    val docs = ((0 until full).map(i => (1000L + i, words("a"))) ++    // exactly maxBucket
      (0 until full + 1).map(i => (2000L + i, words("b"))) ++          // one over
      Seq(3000L -> words("c"), 3000L -> words("c"), 3001L -> words("c"),
        3000L -> nearC, 3002L -> nearC)).toDF("doc_id", "text")      // repeated ids
    val sigs = Dedup.signaturesNative(docs, "doc_id", "text")
    val got = Dedup.candidatePlan(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // the distinct (a < b, n_agree) of every row pair sharing a (b, v)
    // bucket of 2..maxBucket rows
    val expected = Dedup.bandsOfSigs(sigs).collect().toSeq
      .groupBy(r => (r.getInt(1), r.getString(2))).values
      .filter(m => m.size > 1 && m.size <= full)
      .flatMap(m => for (x <- m; y <- m if x.getLong(0) < y.getLong(0)) yield
        (x.getLong(0), y.getLong(0), x.getSeq[String](3).zip(y.getSeq[String](3))
          .count(p => p._1 == p._2)))
      .toSet
    assert(got == expected)
    assert(got.count(_._1 / 1000 == 1) == full * (full - 1) / 2)
    assert(!got.exists(_._1 / 1000 == 2))
    assert(got.contains((3000L, 3001L, 8)) && got.contains((3000L, 3002L, 8)))
  }

  test("jaccard-verified pairs are a subset of LSH candidates") {
    val cand = Dedup.dedupFuzzy(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.dedupJaccard(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.nonEmpty, "expected planted near-dups")
    assert(verified.subsetOf(cand))
  }

  test("estimator prune loses no reportable pair on the fixture (measured)") {
    // The n_agree >= 3 prune has a real boundary miss probability
    // (~14.5% at J = 0.5, documented on estPruneMinAgree). This
    // measures the loss on the fixture: exact-verify EVERY LSH
    // candidate with no prune and compare against the pruned query.
    // The fixture's planted near-dups sit well above the boundary, so
    // the measured loss must be zero — if corpus geometry ever drifts
    // toward the boundary, this fails loudly instead of silently.
    // Measured on both verify paths: held on the driver (the default
    // threshold) and distributed (auto-broadcast off).
    import org.apache.spark.sql.functions._
    def measure(path: String): Unit = {
      val docs = graft.core.Tables.documents(spark, sfDir)
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text").cache()
      // the SAME verify rung the production query uses (Dedup.exactJaccard),
      // fed every candidate instead of the pruned set
      val unpruned = Dedup.exactJaccard(docs, cand)
        .where(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pruned = Dedup.dedupJaccard(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.core.Caches.drain(spark)
      info(s"$path: unpruned reportable pairs: ${unpruned.size}, after prune: ${pruned.size}")
      assert(unpruned.nonEmpty)
      assert(pruned == unpruned,
        s"$path: prune lost ${(unpruned -- pruned).size} reportable pairs")
    }
    measure("held")
    withThreshold(-1L)(measure("distributed"))
  }

  /** Driver-side reference of the verify rung's per-document trigram
    * set: lower-cased, split on single spaces, empty tokens kept. */
  private def trigramSet(text: String): Set[String] = {
    val t = text.toLowerCase.split(" ", -1)
    (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
  }

  /** (doc_a, doc_b) -> (common, n_a, n_b, jaccard) from the verify kernel. */
  private def verifyRows(docs: org.apache.spark.sql.DataFrame,
                         cand: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long, Long, Double)] = {
    import spark.implicits._
    val out = Dedup.exactJaccard(docs, cand.toDF("doc_a", "doc_b"))
    assert(out.columns.toSeq == Seq("doc_a", "doc_b", "common", "n_a", "n_b", "jaccard"))
    Seq("common", "n_a", "n_b").foreach(c =>
      assert(out.schema(c).dataType == org.apache.spark.sql.types.LongType, s"$c type"))
    out.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
  }

  /** What the verify kernel must report for `cand` given per-doc sets. */
  private def verifyReference(sets: Map[Long, Set[String]],
                              cand: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long, Long, Double)] =
    cand.flatMap { case (a, b) =>
      val (x, y) = (sets(a), sets(b))
      val common = x.intersect(y).size.toLong
      if (common == 0) None
      else Some((a, b) -> (common, x.size.toLong, y.size.toLong,
        common.toDouble / (x.size + y.size - common)))
    }.toMap

  test("exactJaccard equals a driver-side set reference on edge-case texts") {
    import spark.implicits._
    val texts = Seq(
      1L -> "The quick brown fox jumps over the lazy dog",
      2L -> "the QUICK brown Fox jumps over THE lazy cat", // mixed case
      3L -> "a b a b a b a b",                            // repeated trigrams
      4L -> "a b a b a",
      5L -> "only two",                                   // < 3 tokens
      6L -> "",                                           // empty text
      7L -> "completely unrelated words here",
      8L -> "x  y z")                                     // empty token kept
    val docs = texts.toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (3L, 4L), (1L, 5L), (5L, 6L), (1L, 7L), (2L, 7L),
      (1L, 6L), (4L, 8L))
    val got = verifyRows(docs, cand)
    val expected = verifyReference(texts.toMap.map { case (k, v) => k -> trigramSet(v) }, cand)
    assert(got == expected)
    // the reference is not vacuous: repeats collapse, and pairs with no
    // common trigram (short, empty or unrelated docs) are absent
    assert(got((3L, 4L)) == ((2L, 2L, 2L, 1.0)))
    assert(got.keySet == Set((1L, 2L), (3L, 4L)))
    graft.core.Caches.drain(spark)
  }

  test("exactJaccard: duplicated doc_id rows do not inflate the counts") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta"
    val b = "alpha beta gamma delta epsilon theta iota"
    val unique = Seq(1L -> a, 2L -> b).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (2L, 3L))
    // doc 1 three times and doc 2 twice, as a re-ingested corpus holds
    // them; doc 3's two rows disagree, so its set is their union (the
    // oracle's DISTINCT (doc_id, g) semantics)
    val c1 = "theta iota kappa lambda"
    val c2 = "delta epsilon theta iota mu"
    val dup = Seq(1L -> a, 2L -> b, 1L -> a, 3L -> c1, 2L -> b, 1L -> a, 3L -> c2)
      .toDF("doc_id", "text").repartition(3)
    val base = verifyRows(unique, cand.take(1))
    val got = verifyRows(dup, cand)
    assert(got((1L, 2L)) == base((1L, 2L)))
    assert(got((1L, 2L)) == ((3L, 5L, 5L, 3.0 / 7)))
    val sets = Map(1L -> trigramSet(a), 2L -> trigramSet(b),
      3L -> (trigramSet(c1) ++ trigramSet(c2)))
    assert(got == verifyReference(sets, cand))
    graft.core.Caches.drain(spark)
  }

  test("one-hop seeded components equal a driver union-find: path, star, pairs") {
    import spark.implicits._
    // a 7-node path whose minimum sits mid-path, a star whose minimum is
    // a leaf, and two disjoint pairs; edges in mixed orientation
    val path = Seq(17L, 12L, 19L, 11L, 15L, 14L, 20L)
    val edges = path.sliding(2).map(p => (p(0), p(1))).toSeq ++
      Seq((30L, 25L), (31L, 30L), (30L, 32L), (33L, 30L)) ++
      Seq((41L, 40L), (50L, 51L))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.groupBy(find).values
      .flatMap(members => members.map(_ -> members.min)).toMap
    val got = Dedup.connectedComponents(spark, edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got(20L) == 11L && got(33L) == 25L && got(51L) == 50L)
    graft.core.Caches.drain(spark)
  }

  test("minhash estimator tracks exact Jaccard on verified pairs") {
    val exact = Dedup.dedupJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    val est = Dedup.dedupJaccardEst(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // every verified (exact >= 0.5) pair is an LSH candidate, so the
    // estimator covers it; with 8 hashes the estimate is coarse but
    // must sit in the right half for strongly-similar pairs
    assert(exact.keySet.subsetOf(est.keySet))
    exact.foreach { case (pair, j) =>
      assert(math.abs(est(pair) - j) <= 0.5, s"$pair est=${est(pair)} exact=$j")
    }
    val meanExact = exact.values.sum / exact.size
    // toSeq before mapping: keys is a Set, and the coarse 1/8-grained
    // estimator values would dedup away in a mapped Set
    val meanEst = exact.keys.toSeq.map(est).sum / exact.size
    assert(math.abs(meanEst - meanExact) < 0.25,
      s"meanEst=$meanEst meanExact=$meanExact")
  }

  test("near-dup pairs have close simhash fingerprints") {
    val fp = Dedup.dedupSimhash(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.dedupJaccard(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val hams = pairs.map { case (a, b) =>
      java.lang.Long.bitCount(fp(a) ^ fp(b))
    }
    // 16-bit fingerprints: near-dup docs should differ in few bits;
    // random pairs average 8.
    assert(hams.forall(_ <= 6), s"hamming distances: ${hams.toSeq}")
  }

  test("near-dup clusters assign both endpoints of every pair the same id") {
    val clusters = Dedup.dedupClusters(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.dedupFuzzy(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // every cluster id is the minimum member of its component
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid)
    }
  }

  test("tfidf: 3 keywords per doc, ranks dense, rare terms outscore common at equal tf") {
    val out = graft.llm.Text.tfidf(spark, sfDir)
    val perDoc = out.groupBy(col("doc_id")).count().collect()
    assert(perDoc.forall(_.getLong(1) == 3))
    val ranks = out.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("rank"))).as("rs"))
      .select(col("rs")).distinct().collect()
    assert(ranks.length == 1 && ranks(0).getSeq[Long](0) == Seq(1L, 2L, 3L))
    // scores within a doc are non-increasing with rank
    val bad = out.select(col("doc_id"), col("rank"), col("tfidf"))
      .withColumn("prev", lag(col("tfidf"), 1)
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("rank"))))
      .where(col("prev") < col("tfidf"))
    assert(bad.count() == 0)
  }

  test("stream_dedup keeps exactly one earliest event per (user, type)") {
    val out = graft.operators.Streams.streamDedup(spark, sfDir)
    assert(out.groupBy(col("user_id"), col("event_type")).count()
      .where(col("count") > 1).count() == 0)
    val e = graft.core.Tables.events(spark, sfDir)
    assert(out.count() ==
      e.select(col("user_id"), col("event_type")).distinct().count())
    // kept ts is the group minimum
    val mins = e.groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts")).as("min_ts"))
    assert(out.join(mins, Seq("user_id", "event_type"))
      .where(col("ts") =!= col("min_ts")).count() == 0)
  }

  test("mix plan quotas sum exactly to the budget and follow the weights") {
    val rows = graft.llm.Text.mixPlan(spark, sfDir).collect()
    assert(rows.map(_.getLong(3)).sum == 10000000L)
    // quota ordering follows weight ordering (strictly larger weight
    // never gets a smaller quota, modulo the ±1 remainder token)
    val byW = rows.sortBy(_.getLong(2))
    byW.sliding(2).foreach { w =>
      if (w.length == 2 && w(0).getLong(2) < w(1).getLong(2))
        assert(w(0).getLong(3) <= w(1).getLong(3) + 1)
    }
  }

  test("collocations: counts consistent, ranking monotone in PMI") {
    val rows = graft.llm.Text.collocations(spark, sfDir).collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      assert(r.getLong(1) >= 5)            // min-count gate
      assert(r.getLong(2) >= r.getLong(1)) // unigram ≥ bigram count
      assert(r.getLong(3) >= r.getLong(1))
    }
    val pmis = rows.map(_.getDouble(4))
    assert(pmis.sliding(2).forall(w => w(0) >= w(1)))
  }

  test("incremental dedup verdicts partition the batch; drop_exact iff digest in base") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val out = graft.llm.Dedup.incrementalDedup(spark, sfDir)
    assert(out.count() == docs.where(col("doc_id") % 10 === 0).count())
    val withDigest = docs.select(col("doc_id"),
      md5(lower(trim(col("text")))).as("digest"))
    val baseDigests = withDigest.where(col("doc_id") % 10 =!= 0)
      .select(col("digest")).distinct()
    val expectExact = withDigest.where(col("doc_id") % 10 === 0)
      .join(baseDigests, "digest").select(col("doc_id")).distinct().count()
    assert(out.where(col("verdict") === "drop_exact").count() == expectExact)
    // an exact dup against the base is never downgraded to near/keep
    assert(out.join(withDigest.where(col("doc_id") % 10 === 0), "doc_id")
      .join(baseDigests, "digest")
      .where(col("verdict") =!= "drop_exact").count() == 0)
  }

  test("exported JSONL parses back to the source fields") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("head", StringType),
      StructField("n_tokens", LongType)))
    val parsed = graft.llm.Text.exportJsonl(spark, sfDir)
      .select(col("doc_id"), from_json(col("jsonl"), schema).as("j"))
    assert(parsed.where(col("j").isNull || col("j.id") =!= col("doc_id"))
      .count() == 0)
    val src = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang").as("src_lang"))
    assert(parsed.join(src, "doc_id")
      .where(col("j.lang") =!= col("src_lang")).count() == 0)
  }

  test("boilerplate spans are complete 8-token windows with sane counts") {
    val rows = graft.llm.Text.boilerplate(spark, sfDir).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(r.getString(0).split(" ").length == 8)
      assert(r.getLong(2) >= r.getLong(1)) // occurrences ≥ distinct docs
      assert(r.getLong(1) >= 1)
    }
    // ranking is by doc count first
    val docCounts = rows.map(_.getLong(1))
    assert(docCounts.sliding(2).forall(w => w(0) >= w(1)))
  }

  test("embedding dim is the 64 the trained-codebook oracle hardcodes") {
    // lloydRoundSql zips unnest(embedding) with range(0, 64); a dim
    // change would silently corrupt the oracle's repacked codebook
    // instead of erroring — this guard turns that into a clear failure
    val dims = graft.core.Tables.embeddings(spark, sfDir)
      .select(size(col("embedding")).as("d")).distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(64),
      s"embedding dims $dims != 64 — update lloydRoundSql's range bound")
  }

  test("embed outliers: cells partition the corpus, outliers strictly minority") {
    val rows = graft.llm.Similarity.embedOutliers(spark, sfDir).collect()
    assert(rows.map(_.getLong(1)).sum ==
      graft.core.Tables.embeddings(spark, sfDir).count())
    rows.foreach { r =>
      val (n, out, mean, min) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(out >= 0 && out < n) // 2σ cut can never flag a whole cell
      assert(min <= mean + 1e-12)
    }
  }

  test("dataset card reconciles with its per-query sources") {
    val card = graft.llm.Text.datasetCard(spark, sfDir).head()
    val docs = graft.core.Tables.documents(spark, sfDir)
    assert(card.getLong(0) == docs.count())
    assert(card.getLong(5) ==
      docs.select(countDistinct(md5(col("text")))).head().getLong(0))
    val passed = graft.llm.Text.qualityScore(spark, sfDir)
      .where(col("passed")).count()
    assert(math.abs(card.getDouble(7) -
      passed.toDouble / card.getLong(0)) < 1e-12)
    assert(card.getDouble(6) >= 0.0 && card.getDouble(6) < 1.0)
  }

  test("quality-by-source pass counts reconcile with the per-doc gate") {
    val perDoc = graft.llm.Text.qualityScore(spark, sfDir)
      .where(col("passed")).count()
    val rows = graft.llm.Text.qualityBySource(spark, sfDir).collect()
    assert(rows.map(_.getLong(2)).sum == perDoc)
    assert(rows.map(_.getLong(1)).sum ==
      graft.core.Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("stratified sample takes exactly ceil(n/10) per stratum, deterministically") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val expect = docs.groupBy(col("lang")).count()
      .select(col("lang"), ((col("count") + 9) / 10).cast("long").as("quota"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = graft.llm.Text.sampleStratified(spark, sfDir)
      .groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect)
    val again = graft.llm.Text.sampleStratified(spark, sfDir)
      .agg(sum(col("doc_id"))).collect()(0).getLong(0)
    val first = graft.llm.Text.sampleStratified(spark, sfDir)
      .agg(sum(col("doc_id"))).collect()(0).getLong(0)
    assert(again == first)
  }

  test("filter funnel is monotone and starts at the corpus size") {
    val rows = graft.llm.Text.filterFunnel(spark, sfDir)
      .orderBy(col("stage")).collect()
    assert(rows.length == 4)
    val counts = rows.map(_.getLong(2))
    assert(counts(0) == graft.core.Tables.documents(spark, sfDir).count())
    assert(counts.sliding(2).forall(w => w(0) >= w(1)))
    rows.foreach(r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("exact dedup is idempotent") {
    val once = Dedup.dedupExact(spark, sfDir)
    assert(once.groupBy(col("text_hash")).count().where(col("count") > 1).count() == 0)
  }

  test("sim search: self-similarity excluded, cosine within [-1,1], k respected") {
    val rows = Similarity.simSearch(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, rank, cand, cos) =
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
      assert(q != cand)
      assert(rank >= 1 && rank <= 5)
      assert(cos >= -1.0000001 && cos <= 1.0000001)
    }
    val perQuery = rows.groupBy(_.getLong(0))
    assert(perQuery.values.forall(_.length == 5))
    // ranks ordered by descending cosine within each query
    perQuery.values.foreach { rs =>
      val byRank = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x >= y })
    }
  }

  test("chunks reconstruct the original token stream") {
    import org.apache.spark.sql.Row
    val toks = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        concat_ws(" ", filter(split(lower(col("text")), " "), t => t =!= ""))
          .as("joined"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rebuilt = graft.llm.Text.chunk(spark, sfDir)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows: Array[Row]) =>
        id -> rows.sortBy(_.getInt(1)).map(_.getString(2)).mkString(" ")
      }
    assert(rebuilt == toks)
  }

  test("pii redaction removes every planted email and phone") {
    val rows = graft.llm.Text.piiRedact(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) == 1 && r.getInt(2) == 1,
        s"expected 1 planted email+phone: $r")
      val head = r.getString(3)
      assert(head.contains("<EMAIL>") && head.contains("<PHONE>"))
      assert(!head.contains("@"))
    }
  }

  test("train/val/test split is deterministic, complete, and near 90/5/5") {
    import graft.llm.Text
    val a = Text.trainTestSplit(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2))
    val b = Text.trainTestSplit(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2))
    assert(a.toSeq == b.toSeq) // stable across invocations
    val n = a.length.toDouble
    val frac = a.groupBy(_._2).view.mapValues(_.length / n).toMap
    assert(frac.keySet.subsetOf(Set("train", "val", "test")))
    // 500 docs: binomial noise on 5% strata is a few points
    assert(frac("train") > 0.8 && frac("train") < 0.97, frac)
  }

  test("bm25: document frequencies consistent, scores positive and tf-sensitive") {
    import graft.llm.Text
    val rows = Text.bm25(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    // df = number of rows (docs) carrying each term
    val byTerm = rows.groupBy(_._2)
    byTerm.foreach { case (term, rs) =>
      assert(rs.map(_._4).distinct.sizeIs == 1, s"$term df not constant")
      assert(rs.head._4 == rs.length, s"$term df != doc count")
    }
    assert(rows.forall(_._6 > 0.0), "BM25 scores must be positive here")
    // within a term, at (near-)equal doc length the higher tf scores higher
    byTerm.foreach { case (_, rs) =>
      rs.groupBy(_._5).filter(_._2.length > 1).foreach { case (_, same) =>
        val sorted = same.sortBy(_._3)
        assert(sorted.zip(sorted.tail).forall { case (lo, hi) =>
          lo._3 == hi._3 || lo._6 < hi._6 })
      }
    }
  }

  test("repetition ratios are well-formed fractions") {
    import graft.llm.Text
    Text.repetition(spark, sfDir).collect().foreach { r =>
      val (nw, uw, nb, ub) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(uw >= 1 && uw <= nw)
      assert(ub >= 1 && ub <= nb)
      assert(nb == nw - 1, "every doc here has >=2 words")
      val (dw, db) = (r.getDouble(5), r.getDouble(6))
      assert(dw >= 0.0 && dw < 1.0 && db >= 0.0 && db < 1.0)
    }
  }

  test("generic API: minhash candidates + components + cosineTopK on a custom frame") {
    import spark.implicits._
    // a corpus that is NOT the documents table: 2 near-dup pairs + noise.
    // Long shared prefixes keep trigram Jaccard ~0.9 so the 4x2 bands
    // catch both pairs (deterministic here: fixed text, fixed md5).
    val base1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi"
    val base2 = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen " +
      "twenty twentyone twentytwo twentythree"
    val docs = Seq(
      (101L, base1 + " omega"),
      (102L, base1 + " OMEGA2"), // near-dup of 101 (differs in last word)
      (103L, base2 + " twentyfour"),
      (104L, base2 + " twentyfive"), // near-dup of 103
      (105L, "totally different words appear here only once in this corpus")
    ).toDF("id", "body")
    val pairs = Dedup.minhashCandidates(docs, "id", "body")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((101L, 102L)) && got.contains((103L, 104L)), got)
    assert(!got.exists(p => p._1 == 105L || p._2 == 105L), got)
    val labels = Dedup.connectedComponents(spark, pairs)
    val byDoc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc(101L) == byDoc(102L) && byDoc(103L) == byDoc(104L))
    assert(byDoc(101L) != byDoc(103L))
    // generic cosine top-k over a custom embedding frame
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.0f, 1.0f))
    ).toDF("vid", "v")
    val nn = graft.llm.Similarity
      .cosineTopK(vecs.where(col("vid") === 1L), "vid", "v", vecs, "vid", "v", 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(nn.toSeq == Seq((1L, 2L)))
    graft.core.Caches.drain(spark)
  }

  test("approx distinct within 5% of exact") {
    val approx = graft.operators.Relational.aggApproxDistinct(spark, sfDir)
      .collect()(0).getLong(0).toDouble
    val exact = graft.core.Tables.lineitem(spark, sfDir)
      .select(countDistinct(col("l_partkey"))).collect()(0).getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("bpe merges match a driver-side reference on the same word table") {
    // Reference: the identical greedy algorithm in plain Scala — word
    // freqs collected (vocab-sized, test-only), java.lang.String
    // .replace for the merge (same non-overlapping left-to-right
    // contract as Spark's UTF8String.replace and DuckDB's replace —
    // the semantics the operator's scaladoc pins).
    val wf = scala.collection.mutable.Map.empty[String, Long]
    graft.core.Tables.documents(spark, sfDir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")))
      .collect().foreach { r =>
        val w = r.getString(0); wf(w) = wf.getOrElse(w, 0L) + 1L
      }
    var words = wf.toMap.map { case (w, f) =>
      (" " + w.toCharArray.mkString(" ") + " ", f) }
    val expected = (1 to graft.llm.Text.BpeRounds).map { r =>
      val cnt = scala.collection.mutable.Map.empty[String, Long]
      for ((sp, f) <- words) {
        val syms = sp.split(" ").filter(_.nonEmpty)
        for (i <- 0 until syms.length - 1) {
          val p = syms(i) + " " + syms(i + 1)
          cnt(p) = cnt.getOrElse(p, 0L) + f
        }
      }
      val (pr, c) = cnt.toSeq.minBy { case (p, c) => (-c, p) }
      words = words.map { case (sp, f) =>
        (sp.replace(" " + pr + " ", " " + pr.replace(" ", "") + " "), f) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      (r, pr.split(" ")(0), pr.split(" ")(1), pr.replace(" ", ""), c)
    }
    val got = graft.llm.Text.bpeTrain(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    graft.core.Caches.drain(spark)
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("bpe apply: merged symbol counts shrink, never below word count") {
    val rows = graft.llm.Text.bpeApply(spark, sfDir).collect()
    graft.core.Caches.drain(spark)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nw, s0, s4, ratio) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      // merges only shrink; a word never drops below one symbol
      assert(s4 <= s0 && s4 >= nw && s0 >= nw)
      assert(math.abs(ratio - s4.toDouble / s0) == 0.0)
    }
  }

  test("vocab coverage: rates well-formed, oov zero for all-vocab docs") {
    val rows = graft.llm.Text.vocabCoverage(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, oov, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(n > 0 && oov >= 0 && oov <= n)
      assert(math.abs(rate - oov.toDouble / n) == 0.0)
    }
  }

  test("hash-rank sample is stable, uniform-ish, and shuffle-free") {
    import org.apache.spark.sql.functions._
    val a = graft.llm.Text.sampleHashrank(spark, sfDir)
    val b = graft.llm.Text.sampleHashrank(spark, sfDir)
    assert(a.count() == 100)
    assert(a.exceptAll(b).isEmpty, "sample not reproducible")
    val plan = a.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    // appending docs never evicts... smaller corpora: picks at sf0.001
    // must be a subset-stable rule, checked by hash threshold instead:
    // every picked hash is <= the 100th-smallest hash by construction
    val maxPick = a.agg(max(col("h"))).head.getString(0)
    val below = graft.core.Tables.documents(spark, sfDir)
      .select(md5(concat(lit("sample:"), col("doc_id").cast("string")))
        .as("h")).where(col("h") < lit(maxPick)).count()
    assert(below <= 100, "picked set is not the hash-smallest 100")
  }

  test("edit-distance verify: bounded metrics and a hand-checked pair") {
    import org.apache.spark.sql.functions._
    val out = graft.llm.Dedup.dedupEditDistance(spark, sfDir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val (d, m, s) = (r.getInt(2), r.getInt(3), r.getDouble(4))
      d >= 0 && d <= m && s >= 0.0 && s <= 1.0
    }, "edit distance or similarity out of bounds")
    // recompute one pair with a driver-side reference implementation
    val h = rows.head
    val get = graft.core.Tables.documents(spark, sfDir)
      .where(col("doc_id").isin(h.getLong(1), h.getLong(0)))
      .select(col("doc_id"), expr("substring(lower(text), 1, 200)"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val t = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(b.length)
    }
    assert(h.getInt(2) == lev(get(h.getLong(0)), get(h.getLong(1))),
      "levenshtein disagrees with reference implementation")
  }

  test("rank fusion: scores bounded, fused hits come from a source top-10") {
    import org.apache.spark.sql.functions._
    val out = graft.llm.Similarity.rankFusion(spark, sfDir)
    assert(out.count() == 50) // 10 queries x top-5
    assert(out.where(col("rrf") > 2.0 / 61 + 1e-12 ||
      col("rrf") <= 0.0).count() == 0, "rrf outside (0, 2/61]")
    assert(out.where(col("rk_cos") > 10 && col("rk_l2") > 10).count() == 0,
      "fused candidate absent from both top-10s")
    // a candidate ranked 1 by BOTH scorers must fuse to rank 1
    val doubleTop = out.where(col("rk_cos") === 1 && col("rk_l2") === 1)
    assert(doubleTop.where(col("rank") =!= 1).count() == 0,
      "double top-1 not fused first")
  }

  test("span corruption: ~15% of spans masked, sentinels dense from 0") {
    import org.apache.spark.sql.functions._
    val out = graft.llm.Text.spanCorrupt(spark, sfDir)
    val toks = graft.core.Tables.documents(spark, sfDir)
      .select(size(filter(split(lower(col("text")), " "), t => t =!= ""))
        .cast("long").as("n"))
      .agg(sum(col("n"))).head.getLong(0)
    val spans = (toks + 2) / 3 // upper bound; per-doc tails make it inexact
    val masked = out.agg(sum(col("n_spans_masked"))).head.getLong(0)
    val rate = masked.toDouble / spans
    assert(rate > 0.10 && rate < 0.20, s"mask rate $rate outside 10-20%")
    // sentinels in each doc count 0..k-1 exactly once, in order
    val bad = out.where(col("n_spans_masked") > 0).select(col("masked_text"),
        col("n_spans_masked")).collect().count { r =>
      val ids = "<extra_id_(\\d+)>".r.findAllMatchIn(r.getString(0))
        .map(_.group(1).toInt).toSeq
      ids != (0 until r.getLong(1).toInt)
    }
    assert(bad == 0, s"$bad docs with non-dense sentinel numbering")
    // unmasked docs round-trip their original text
    val orig = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_join(filter(split(lower(col("text")), " "), t => t =!= ""), " ")
          .as("norm"))
    val clean = out.where(col("n_spans_masked") === 0)
      .join(orig, "doc_id")
    assert(clean.where(col("masked_text") =!= col("norm")).count() == 0,
      "unmasked doc text altered")
  }

  test("containment dominates jaccard and contains every jaccard pair") {
    import org.apache.spark.sql.functions._
    val out = graft.llm.Dedup.dedupContainment(spark, sfDir).cache()
    // containment = common/min >= common/union = jaccard, always
    assert(out.where(col("containment") < col("jaccard")).count() == 0)
    assert(out.where(col("containment") < 0.5 ||
      col("containment") > 1.0).count() == 0)
    // every >=0.5-jaccard pair is a >=0.5-containment pair
    val jac = graft.llm.Dedup.dedupJaccard(spark, sfDir)
      .select("doc_a", "doc_b")
    assert(jac.exceptAll(out.select("doc_a", "doc_b")).isEmpty,
      "a jaccard pair is missing from the containment report")
    out.unpersist()
    graft.core.Caches.drain(spark)
  }

  test("span dedup: segment counts reconcile with token counts") {
    import org.apache.spark.sql.functions._
    val sd = graft.llm.Text.spanDedup(spark, sfDir)
    val toks = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(filter(split(lower(col("text")), " "), t => t =!= ""))
          .cast("long").as("n_tok"))
    val joined = sd.join(toks, "doc_id")
    // n_segs == ceil(n_tok / 10) (min 1), per doc
    assert(joined.where(col("n_segs") =!=
      greatest(expr("(n_tok + 9) DIV 10"), lit(1L))).count() == 0)
    assert(sd.where(col("n_dup_segs") > col("n_segs")).count() == 0)
    assert(sd.where(col("keep") =!=
      (col("n_dup_segs") * 2 <= col("n_segs"))).count() == 0)
    // the corpus has exact duplicates (dedup_exact finds them), so
    // duplicated segment mass must exist
    assert(sd.agg(sum(col("n_dup_segs"))).head.getLong(0) > 0)
    graft.core.Caches.drain(spark)
  }

  test("sft format: complete pairs only, template render exact") {
    import org.apache.spark.sql.functions._
    val out = graft.llm.Text.sftFormat(spark, sfDir).cache()
    val eligible = graft.core.Tables.documents(spark, sfDir)
      .where(size(filter(split(lower(col("text")), " "), t => t =!= "")) >= 48)
      .count()
    assert(out.count() == eligible, "kept-example count != eligible docs")
    assert(out.where(!col("prompt").startsWith(
      "### Instruction:\ncontinue the passage [")).count() == 0)
    assert(out.where(!col("prompt").endsWith("### Response:")).count() == 0)
    // completion is exactly 16 tokens on every kept example
    assert(out.where(size(split(col("completion"), " ")) =!= 16)
      .count() == 0)
    out.unpersist()
    graft.core.Caches.drain(spark)
  }

  test("curriculum manifest: partitions the corpus, bounded stages/shards") {
    import org.apache.spark.sql.functions._
    val out = graft.llm.Text.curriculum(spark, sfDir).cache()
    val total = graft.core.Tables.documents(spark, sfDir).count()
    assert(out.agg(sum(col("n_docs"))).head.getLong(0) == total)
    assert(out.where(col("stage") < 0 || col("stage") > 3).count() == 0)
    assert(out.where(col("shard") < 0 || col("shard") > 7).count() == 0)
    // char bounds must respect the stage's 256-char band
    assert(out.where(least(expr("min_chars DIV 256"), lit(3L))
      =!= col("stage")).count() == 0)
    out.unpersist()
    graft.core.Caches.drain(spark)
  }

  test("preference pairs: extremes of their cluster, positive margin") {
    import org.apache.spark.sql.functions._
    val pairs = graft.llm.Text.preferencePairs(spark, sfDir).cache()
    assert(pairs.where(col("margin") <= 0).count() == 0)
    assert(pairs.where(col("chosen_id") === col("rejected_id")).count() == 0)
    // chosen/rejected carry their cluster's max/min quality score:
    // reconcile against clusters joined with the quality query
    val q = graft.llm.Text.qualityScore(spark, sfDir)
      .select(col("doc_id"), col("score"))
    val ext = graft.llm.Dedup.dedupClusters(spark, sfDir)
      .join(q, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(max(col("score")).as("hi"), min(col("score")).as("lo"))
    val j = pairs.join(ext, "cluster_id")
    assert(j.where(col("chosen_score") =!= col("hi")).count() == 0)
    assert(j.where(col("rejected_score") =!= col("lo")).count() == 0)
    pairs.unpersist()
    graft.core.Caches.drain(spark)
  }

  test("tokenizer fertility reconciles with the token-count query") {
    import org.apache.spark.sql.functions._
    val f = graft.llm.Text.tokenizerFertility(spark, sfDir)
    val tc = graft.llm.Text.tokenCount(spark, sfDir)
      .agg(sum(col("n_ws")).as("ws"), sum(col("n_re")).as("re"))
      .head()
    val tot = f.agg(sum(col("n_ws")), sum(col("n_re"))).head()
    assert(tot.getLong(0) == tc.getLong(0) && tot.getLong(1) == tc.getLong(1))
    assert(f.where(col("pieces_per_word") <= 0).count() == 0)
    graft.core.Caches.drain(spark)
  }

  test("overlapping chunks: full coverage, exact stride reconstruction") {
    import org.apache.spark.sql.functions._
    val w = graft.llm.Text.chunkOverlap(spark, sfDir).cache()
    assert(w.where(col("window_tokens") <= 0).count() == 0)
    assert(w.where(col("start_tok") =!= col("win_id") * 25).count() == 0)
    // windows reconstruct the doc: driver check on the longest doc
    val docRow = graft.core.Tables.documents(spark, sfDir)
      .orderBy(col("n_chars").desc, col("doc_id")).head()
    val docId = docRow.getLong(0)
    val toks = docRow.getString(1).toLowerCase.split(" ").filter(_.nonEmpty)
    val wins = w.where(col("doc_id") === docId).orderBy("win_id").collect()
    // every k in 0..ceil(n/25)-1 starts before the end, so none filter
    assert(wins.length == (toks.length + 24) / 25)
    wins.foreach { r =>
      val k = r.getInt(1)
      val expect = toks.slice(k * 25, k * 25 + 50).mkString(" ")
      assert(r.getString(3) == expect, s"window $k of doc $docId")
    }
    // every token position is covered by some window
    val covered = wins.map(r => (r.getInt(1) * 25, r.getInt(4))).flatMap {
      case (s, n) => s until (s + n)
    }.toSet
    assert(covered == toks.indices.toSet)
    w.unpersist()
    graft.core.Caches.drain(spark)
  }

  test("threshold histogram and rung agreement partition the candidates") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sfDir)
    val nCand = graft.llm.Dedup.minhashCandidates(docs, "doc_id", "text")
      .count()
    graft.core.Caches.drain(spark)
    val hist = graft.llm.Dedup.dedupThresholdHist(spark, sfDir).collect()
    assert(hist.map(_.getLong(1)).sum == nCand,
      "histogram must cover every candidate pair exactly once")
    assert(hist.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 9))
    // cumulative column: at the lowest band it equals the total
    assert(hist.minBy(_.getLong(0)).getLong(2) == nCand)
    graft.core.Caches.drain(spark)
    val m = graft.llm.Dedup.dedupRungAgreement(spark, sfDir).collect()
    assert(m.map(_.getLong(2)).sum == nCand,
      "confusion matrix must cover every candidate pair exactly once")
    graft.core.Caches.drain(spark)
  }

  test("sft pipeline manifest reconciles with its standalone stages") {
    import org.apache.spark.sql.functions._
    val man = graft.llm.Pipeline.sftPipeline(spark, sfDir).cache()
    val keep = graft.llm.Text.spanDedup(spark, sfDir)
      .where(col("keep")).select("doc_id")
    val expected = graft.llm.Text.sftFormat(spark, sfDir)
      .join(keep, "doc_id").count()
    assert(man.agg(sum(col("n_examples"))).head.getLong(0) == expected)
    assert(man.where(col("shard") < 0 || col("shard") > 7).count() == 0)
    assert(man.where(col("first_doc") > col("last_doc")).count() == 0)
    man.unpersist()
    graft.core.Caches.drain(spark)
  }

  test("hard negatives: cross-label only, ranked, never beats the best overall") {
    import org.apache.spark.sql.functions._
    val hn = graft.llm.Similarity.hardNegatives(spark, sfDir).cache()
    assert(hn.where(col("q_label") === col("c_label")).count() == 0)
    val perQ = hn.groupBy("query_id").count()
    assert(perQ.where(col("count") =!= 5).count() == 0)
    // per query, cosine is non-increasing in rank
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy("rank")
    assert(hn.withColumn("prev", lag(col("cosine"), 1).over(w))
      .where(col("prev").isNotNull && col("prev") < col("cosine"))
      .count() == 0)
    // the best hard negative can never out-score the best unrestricted
    // neighbor from the same query
    val best = graft.llm.Similarity.simSearch(spark, sfDir)
      .where(col("rank") === 1)
      .select(col("query_id"), col("cosine").as("best_any"))
    val joined = hn.where(col("rank") === 1).join(best, "query_id")
    assert(joined.where(col("cosine") > col("best_any")).count() == 0)
    hn.unpersist()
    graft.core.Caches.drain(spark)
  }

  test("mix apply fills each quota greedily in deterministic hash order") {
    import org.apache.spark.sql.functions._
    val quotas = graft.llm.Text.mixPlan(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val rows = graft.llm.Text.mixApply(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq == quotas.keys.toSeq.sorted)
    // driver greedy fill over the same md5 order
    val md = java.security.MessageDigest.getInstance("MD5")
    def hk(id: Long): String =
      md.digest(s"mix:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.split(" ").count(_.nonEmpty).toLong))
    rows.foreach { r =>
      val src = r.getString(0)
      val ordered = docs.filter(_._2 == src).sortBy(d => (hk(d._1), d._1))
      var cum = 0L; var kept = 0L; var toks = 0L
      for ((_, _, t) <- ordered) {
        if (cum < quotas(src)) { kept += 1; toks += t }
        cum += t
      }
      assert(r.getLong(1) == kept, s"$src docs kept")
      assert(r.getLong(2) == toks, s"$src tokens kept")
      assert(r.getLong(3) == quotas(src), s"$src quota")
      // a filled quota is within one boundary doc of exact
      assert(r.getLong(2) >= math.min(quotas(src),
        ordered.map(_._3).sum), s"$src fill floor")
    }
    graft.core.Caches.drain(spark)
  }

  test("corpus drift KL reconciles with a driver census recompute") {
    import org.apache.spark.sql.functions._
    val row = graft.llm.Text.corpusDrift(spark, sfDir).head()
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val tokRe = "[a-z0-9]+".r
    val census = scala.collection.mutable
      .Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    for ((id, t) <- docs; m <- tokRe.findAllIn(t.toLowerCase)) {
      val (a, b) = census(m)
      census(m) = if (id % 2 == 0) (a + 1, b) else (a, b + 1)
    }
    val v = census.size.toLong
    val na = census.values.map(_._1).sum
    val nb = census.values.map(_._2).sum
    assert(row.getLong(0) == v && row.getLong(1) == na
      && row.getLong(2) == nb)
    def q(x: Double): Long = if (x < 0) -math.round(-x) else math.round(x)
    var klAb = 0L; var klBa = 0L
    for ((_, (ca, cb)) <- census) {
      val pa = (ca + 1).toDouble / (na + v)
      val pb = (cb + 1).toDouble / (nb + v)
      klAb += q(pa * math.log(pa / pb) * 1e6)
      klBa += q(pb * math.log(pb / pa) * 1e6)
    }
    assert(row.getLong(3) == klAb, "kl_ab")
    assert(row.getLong(4) == klBa, "kl_ba")
    // KL is non-negative up to quantization slack
    assert(klAb >= -v && klBa >= -v)
    graft.core.Caches.drain(spark)
  }

  test("band recall reconciles true pairs with a driver all-pairs sweep") {
    import org.apache.spark.sql.functions._
    val row = graft.llm.Dedup.bandRecall(spark, sfDir).head()
    val docs = graft.core.Tables.documents(spark, sfDir)
      .where(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(row.getLong(0) == docs.length.toLong, "n_sample")
    def grams(t: String): Set[String] =
      t.toLowerCase.split(" ").sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val gs = docs.map { case (id, t) => id -> grams(t) }
    val truePairs = (for {
      i <- gs.indices; j <- i + 1 until gs.length
      (a, ga) = gs(i); (b, gb) = gs(j)
      inter = (ga & gb).size
      if inter * 2 >= ga.size + gb.size - inter && (ga.nonEmpty || gb.nonEmpty)
    } yield (math.min(a, b), math.max(a, b))).toSet
    assert(row.getLong(1) == truePairs.size.toLong, "n_true")
    // hits bounded by both sides; recall formula closed
    assert(row.getLong(3) <= math.min(row.getLong(1), row.getLong(2)))
    if (row.getLong(1) == 0) assert(row.getLong(4) == 1000000L)
    else assert(row.getLong(4) == 1000000L * row.getLong(3) / row.getLong(1))
    graft.core.Caches.drain(spark)
  }

  test("lang confusion cells reconcile with the per-doc langId output") {
    import org.apache.spark.sql.functions._
    val preds = graft.llm.Text.langId(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getString(3)))
    val expect = preds.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = graft.llm.Text.langConfusion(spark, sfDir).collect()
    assert(rows.map(_.getLong(2)).sum == preds.length.toLong)
    rows.foreach { r =>
      val cell = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == expect(cell), s"cell $cell")
      val rowTotal = preds.count(_._1 == r.getString(0)).toLong
      assert(r.getLong(3) == rowTotal, s"actual total ${r.getString(0)}")
      assert(r.getLong(4) == 1000000L * r.getLong(2) / rowTotal)
    }
    graft.core.Caches.drain(spark)
  }

  test("ngram repeat gate reconciles with a driver max-count scan") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def maxRepeat(text: String): Long = {
      val t = text.toLowerCase.split(" ").filter(_.nonEmpty)
      if (t.length < 4) -1L
      else t.sliding(4).map(_.mkString(" ")).toSeq
        .groupBy(identity).values.map(_.length.toLong).max
    }
    val per = docs.map { case (s, txt) => (s, maxRepeat(txt)) }
      .filter(_._2 >= 0)
    val rows = graft.llm.Text.ngramRepeat(spark, sfDir).collect()
    val bySource = per.groupBy(_._1)
    rows.foreach { r =>
      val g = bySource(r.getString(0)).map(_._2)
      assert(r.getLong(1) == g.length.toLong, "n_docs")
      assert(r.getLong(2) == g.count(_ >= 3).toLong, "n_flagged")
      assert(r.getLong(3) == g.max, "worst_repeat")
    }
    graft.core.Caches.drain(spark)
  }

  test("ngram novelty reconciles with a driver first-occurrence scan") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(text: String): Set[String] = {
      val t = text.toLowerCase.split(" ").filter(_.nonEmpty)
      t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val firstDoc = scala.collection.mutable.Map.empty[String, Long]
    for ((id, _, text) <- docs.sortBy(_._1); g <- grams(text))
      if (!firstDoc.contains(g)) firstDoc(g) = id
    val bySource = docs.groupBy(_._2)
    val rows = graft.llm.Text.ngramNovelty(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq == bySource.keys.toSeq.sorted)
    rows.foreach { r =>
      val src = r.getString(0)
      val ds = bySource(src)
      val nGrams = ds.map(d => grams(d._3).size.toLong).sum
      val nNovel = ds.map { d =>
        grams(d._3).count(g => firstDoc(g) == d._1).toLong
      }.sum
      assert(r.getLong(1) == ds.length.toLong, s"$src n_docs")
      assert(r.getLong(2) == nGrams, s"$src n_grams")
      assert(r.getLong(3) == nNovel, s"$src n_novel")
      assert(r.getLong(4) == 1000000L * nNovel / nGrams, s"$src ppm")
    }
    graft.core.Caches.drain(spark)
  }

  test("code detection densities reconcile with a driver char count") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val symSet = "{}();=_<>#[]".toSet
    val rows = graft.llm.Text.codeDetect(spark, sfDir).collect()
    val bySource = docs.groupBy(_._1)
    assert(rows.map(_.getString(0)).toSeq == bySource.keys.toSeq.sorted)
    rows.foreach { r =>
      val ds = bySource(r.getString(0)).map(_._2)
      val sumSym = ds.map(_.count(symSet)).map(_.toLong).sum
      val sumChars = ds.map(_.length.toLong).sum
      def kw(t: String, w: String): Long =
        ((t.length - t.replace(w, "").length) / w.length).toLong
      val sumKw = ds.map(t => kw(t, "return") + kw(t, "import") +
        kw(t, "void")).sum
      assert(r.getLong(1) == ds.length.toLong, "n_docs")
      assert(r.getLong(3) == sumSym, "sum_sym")
      assert(r.getLong(4) == sumKw, "sum_kw")
      assert(r.getLong(5) == sumChars, "sum_chars")
      assert(r.getLong(6) == 1000000L * sumSym / math.max(sumChars, 1L),
        "mean_sym_ppm")
      // flagged docs are exactly those at or above the ppm threshold
      val nCode = ds.count(t => 1000000L * t.count(symSet) /
        math.max(t.length.toLong, 1L) >= 20000L).toLong
      assert(r.getLong(2) == nCode, "n_code")
    }
    graft.core.Caches.drain(spark)
  }

  test("dedup_embed cell cap at 512 is inert on the fixture") {
    // The r8 hub-style bound (cells grow linearly when the coarse
    // label set is fixed, so within-cell all-pairs went 7.6x at 5x
    // data): the candidate-side cap must be semantically invisible at
    // registry scale, where every cell is smaller than the cap.
    val cap = graft.llm.Dedup.dedupEmbedCapped(spark, sfDir, 512)
      .collect().toSeq
    val raw = graft.llm.Dedup
      .dedupEmbedCapped(spark, sfDir, Int.MaxValue).collect().toSeq
    assert(cap == raw, "dedup_embed output changed under the cell cap")
    graft.core.Caches.drain(spark)
  }
}
