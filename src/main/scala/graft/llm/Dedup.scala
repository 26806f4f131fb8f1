package graft.llm

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import graft.core.{Caches, Held, Tables}

/** Deduplication operators for LLM training-data pipelines
  * (SURVEY.md §2B `llm_dedup_*`): exact, MinHash+LSH, exact-Jaccard
  * verification of LSH candidates, SimHash fingerprints, and
  * embedding-cosine near-dup — the standard near-dedup ladder for a
  * 100 TB corpus.
  *
  * Scale design: nothing here is O(n²) on the full corpus. The MinHash
  * path shuffles once per aggregation keyed by doc or band; candidate
  * generation is a self-join on (band, signature) buckets, so cost
  * follows bucket occupancy (near-dup density), not pair count. Exact
  * Jaccard runs only on LSH candidates. The embedding path buckets by
  * the coarse `label` (an IVF-style partition) before the pairwise
  * step. All hashes are md5 — identical in every engine, so the DuckDB
  * oracle reproduces the exact hash algebra.
  */
object Dedup {

  /** Word trigrams of a token array `t`, one array element per window
    * position. try_element_at: out-of-range → NULL (matching DuckDB's
    * t[i]); plain element_at throws under ANSI on sub-3-token docs, whose
    * single window is a NULL gram. */
  private val gramsExpr =
    """transform(sequence(0, greatest(size(t)-3, 0)),
      |  i -> concat(try_element_at(t, i+1), ' ', try_element_at(t, i+2), ' ',
      |              try_element_at(t, i+3)))""".stripMargin

  /** Corpus-generic shingling: (doc_id, word-trigram) pairs of
    * lower-cased text from any (id, text) frame. Word trigrams (not
    * char shingles) keep random-document similarity low while near-dups
    * stay ≫ band threshold.
    *
    * `dedupe` makes each document's grams a set with a per-row
    * `array_distinct` before the explode (no shuffle). That equals a
    * global (doc_id, g) distinct only when `docs` holds one row per
    * doc_id, which every caller's corpus does; the verify kernel
    * [[exactJaccard]] merges duplicated doc_id rows itself. MinHash
    * signatures are invariant to duplicate shingles — min over a
    * multiset equals min over its set — so signature paths skip it. */
  private[graft] def trigramsOf(docs: DataFrame, idCol: String, textCol: String,
                         dedupe: Boolean): DataFrame = {
    val grams = if (dedupe) s"array_distinct($gramsExpr)" else gramsExpr
    docs.select(col(idCol).as("doc_id"), split(lower(col(textCol)), " ").as("t"))
      .select(col("doc_id"), explode(expr(grams)).as("g"))
      .where(col("g").isNotNull)
  }

  private val trigramsSql: String =
    """SELECT DISTINCT doc_id,
      |  unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |          for i in range(0, greatest(len(t)-2, 1))]) AS g
      |FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)""".stripMargin
      // NULL grams (docs shorter than 3 tokens) never join; Spark filters
      // them and DuckDB's unnest of [NULL] yields a NULL row dropped by
      // the band join, so both sides agree.

  private val nHashes = 8
  private val nBands = 4 // 2 hashes per band

  /** MinHash signature columns h0..h7: two md5 digests per trigram,
    * each split into four independent 8-hex (32-bit) chunks — the min
    * of a uniformly-hashed hex string over the trigram set ≡ min under
    * a random permutation of the trigram universe. The native kernel
    * [[graft.functions.MinHash8]] computes the same chunks in one pass
    * (MinHashSpec holds the two bit-equal). */
  private val signaturesSql: String = {
    val mins = (0 until nHashes).map { s =>
      val (m, off) = if (s < 4) ("m1", 8 * s + 1) else ("m2", 8 * (s - 4) + 1)
      s"min(substr($m, $off, 8)) AS h$s"
    }.mkString(", ")
    s"""SELECT doc_id, $mins
       |FROM (SELECT doc_id, md5(g) AS m1, md5('x:' || g) AS m2 FROM tg)
       |GROUP BY doc_id""".stripMargin
  }

  /** (doc_id, sig) projection on the single-pass native kernel
    * [[graft.functions.MinHash8]]; sig is null for trigram-less docs
    * (dropped downstream at the band filter). */
  private[graft] def signaturesNative(docs: DataFrame, idCol: String,
                                      textCol: String): DataFrame = {
    docs.select(col(idCol).as("doc_id"),
      expr(s"graft_minhash8(lower(`$textCol`))").as("sig"))
  }

  /** Bucket-size safety valve for every band bucket (r6 scale-cliff
    * finding): a redundancy-heavy corpus (templated/boilerplate mass,
    * heavy near-dup clusters) piles thousands of docs into one (band,
    * signature) bucket, and candidate generation then emits |bucket|²/2
    * pairs from that bucket alone — measured 8.45 M candidates on a
    * 25 k-doc corpus where every doc had 4 near-copies, a 12,000×
    * blow-up over the same corpus at constant near-dup density. A
    * bucket larger than this cap contributes no candidates: its mass
    * is by construction near-identical boilerplate, which exact-dedup
    * (digest groups) and per-source handling catch far cheaper than a
    * quadratic pair join. Inert below the cap — every driver-scale
    * bucket is ≤ 8 docs, so test-scale results are unchanged — and the
    * cut is deterministic (a pure bucket-count predicate), so the
    * DuckDB twins apply the identical rule via [[bandsSql]]. */
  private[graft] val maxBucket = 100

  /** (doc_id, b, v, sig) band rows of a (doc_id, sig) frame: 4 bands
    * of 2 signature chunks, each row still carrying its document's
    * whole signature. */
  private[graft] def bandsOfSigs(sigs: DataFrame): DataFrame =
    sigs
      .select(col("doc_id"), col("sig"), explode(array(
        (0 until nBands).map(b => struct(
          lit(b).as("b"),
          concat(element_at(col("sig"), 2 * b + 1),
                 element_at(col("sig"), 2 * b + 2)).as("v"))): _*)).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.v").as("v"), col("sig"))
      // trigram-less docs surface as null band values (element_at on a
      // null sig). Filtering v — not sig — keeps the kernel evaluated
      // once: an isnotnull(sig) predicate would be pushed into the scan
      // and recompute graft_minhash8 per row in the filter.
      .where(col("v").isNotNull)

  /** The candidate plan every LSH consumer reads: distinct
    * (doc_a < doc_b, n_agree) over the (b, v) buckets of a (doc_id, sig)
    * frame, where n_agree counts the signature chunks the pair agrees on
    * (the MinHash estimator's numerator). A bucket of 2..[[maxBucket]]
    * rows (every row counts, a null or repeated doc_id too) emits its
    * member pairs.
    *
    * Path choice ([[graft.core.Held]]): a signature frame that fits the
    * broadcast threshold, with a plain doc_id type, is HELD ON THE DRIVER
    * ([[candidatesHeld]]); any other runs the distributed bucket
    * aggregate ([[candidatesDistributed]]). Both return the same rows
    * under the same schema; the held one is a local relation sorted on
    * (doc_a, doc_b, n_agree), the distributed one is unordered. */
  private[graft] def candidatePlan(sigs: DataFrame): DataFrame = {
    val plan = candidatesDistributed(sigs)
    val stringSig = sigs.schema("sig").dataType match {
      case ArrayType(e, _) => e == StringType
      case _ => false
    }
    if (stringSig && Held.plainKey(sigs.schema("doc_id").dataType) && Held.fits(sigs))
      candidatesHeld(sigs, plan.schema)
    else plan
  }

  /** The held candidate path. Scale shape: one collect job reads each
    * document's (doc_id, sig), the kernel evaluated by Spark in that
    * job; the driver files each row under its 4 (b, v) band values and
    * emits every bucket's pairs, with no shuffle and no further job. */
  private def candidatesHeld(sigs: DataFrame, schema: StructType): DataFrame = {
    val idType = sigs.schema("doc_id").dataType
    val toKey = CatalystTypeConverters.createToCatalystConverter(idType)
    val ord = TypeUtils.getInterpretedOrdering(idType)
    val rows = sigs.select(col("doc_id"), col("sig")).collect()
    val ids = rows.map(r => toKey(r.get(0)))
    val sig = rows.map(r => if (r.isNullAt(1)) null else r.getSeq[String](1).toArray)
    val buckets = mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[Int]]
    for (i <- rows.indices if sig(i) != null; b <- 0 until nBands) {
      val (p, q) = (sig(i)(2 * b), sig(i)(2 * b + 1))
      if (p != null && q != null)
        buckets.getOrElseUpdate((b, p + q), mutable.ArrayBuffer.empty[Int]) += i
    }
    // zip_with pads the shorter signature with nulls, which never agree
    def agree(x: Array[String], y: Array[String]): Int =
      (0 until math.min(x.length, y.length)).count(k => x(k) != null && x(k) == y(k))
    val pairs = mutable.HashSet.empty[(Any, Any, Int)]
    for (m <- buckets.valuesIterator if m.size > 1 && m.size <= maxBucket; x <- m; y <- m) {
      val (a, b) = (ids(x), ids(y))
      if (a != null && b != null && ord.lt(a, b)) pairs += ((a, b, agree(sig(x), sig(y))))
    }
    val sorted = pairs.toSeq.sortWith { (x, y) =>
      val c = ord.compare(x._1, y._1)
      if (c != 0) c < 0 else {
        val d = ord.compare(x._2, y._2)
        if (d != 0) d < 0 else x._3 < y._3
      }
    }
    Held.local(sigs.sparkSession, schema, sorted.map { case (a, b, n) => InternalRow(a, b, n) })
  }

  /** The distributed candidate path: one groupBy(b, v) collects each
    * bucket's (doc_id, sig) members, and a qualifying bucket emits its
    * pairs and their n_agree from a nested lambda, so the estimator
    * needs no signature re-join and the bucket needs no self-join. Two
    * exchanges (the bucket groupBy and the distinct), nothing cached;
    * the kernel runs once per document. Unordered. */
  private def candidatesDistributed(sigs: DataFrame): DataFrame =
    bandsOfSigs(sigs)
      .groupBy(col("b"), col("v"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("m"))
      .where(size(col("m")) > 1 && size(col("m")) <= maxBucket)
      .select(explode(expr(
        """flatten(transform(m, x -> transform(filter(m, y -> x.doc_id < y.doc_id),
          |  y -> named_struct('doc_a', x.doc_id, 'doc_b', y.doc_id, 'n_agree',
          |    size(filter(zip_with(x.sig, y.sig, (p, q) -> p = q), e -> e))))))"""
          .stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.n_agree").as("n_agree"))
      .distinct()

  /** `df` ordered on (doc_a, doc_b). A held candidate or verify result,
    * with any projection or filter over it, is a local relation already
    * in that order, which a sort would only put through a range-shuffle
    * job again; the distributed plans aggregate, so the optimizer folds
    * one into a local relation only when it is empty. */
  private def byPair(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) df
    else df.orderBy(col("doc_a"), col("doc_b"))

  private val bandsSql: String = {
    val raw = (0 until nBands)
      .map(b => s"SELECT doc_id, $b AS b, h${2 * b} || h${2 * b + 1} AS v FROM mh")
      .mkString(" UNION ALL ")
    s"""SELECT doc_id, b, v FROM (
       |  SELECT doc_id, b, v, count(*) OVER (PARTITION BY b, v) AS bucket_n
       |  FROM ($raw) raw_bands) sized_bands
       |WHERE bucket_n <= $maxBucket""".stripMargin
  }

  /** Exact dedup: group by normalized-text hash; keep the smallest
    * doc_id per group. One hash-shuffle keyed by digest — the plain
    * 100 TB exact-dedup plan. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(lower(trim(col("text")))).as("text_hash"), col("doc_id"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("text_hash"))

  val dedupExactSql: String =
    """SELECT md5(lower(trim(text))) AS text_hash,
      |  min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY text_hash""".stripMargin

  /** MinHash+LSH near-dup candidates: trigram → 8 minhashes → 4 bands
    * of 2 → bucket self-join on (band, signature) → distinct pairs, off
    * the shared [[candidatePlan]]. */
  def dedupFuzzy(spark: SparkSession, dir: String): DataFrame =
    byPair(minhashCandidates(Tables.documents(spark, dir), "doc_id", "text"))

  val dedupFuzzySql: String =
    s"""WITH tg AS ($trigramsSql),
       |mh AS ($signaturesSql),
       |bands AS ($bandsSql)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Cross-source near-dup matrix — which corpus shards leak into
    * which: the LSH candidate pairs grouped by their docs' source
    * pair (unordered, so the matrix is upper-triangular). The report
    * a curator reads before deciding inter-shard dedup policy; at
    * 100 TB the candidate volume is the same band-bounded set the
    * dedup ladder already produces, plus two doc→source joins that
    * broadcast at any realistic shard-table size. */
  def docOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    minhashCandidates(docs, "doc_id", "text")
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  lazy val docOverlapSql: String =
    s"""WITH tg AS ($trigramsSql),
       |mh AS ($signaturesSql),
       |bands AS ($bandsSql),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id)
       |SELECT LEAST(da.source, db.source) AS source_a,
       |  GREATEST(da.source, db.source) AS source_b,
       |  COUNT(*) AS n_pairs
       |FROM pairs p
       |JOIN documents da ON p.doc_a = da.doc_id
       |JOIN documents db ON p.doc_b = db.doc_id
       |GROUP BY 1, 2
       |ORDER BY source_a, source_b""".stripMargin

  /** Incremental-ingest dedup — the nightly-batch shape: documents
    * arriving now (doc_id % 10 = 0 simulates the increment) are
    * checked against the standing corpus, NOT against each other, and
    * tagged `drop_exact` (digest already present), `drop_near` (MinHash
    * band candidate with a base doc), or `keep`. Reuses the SAME band
    * machinery as the full dedup ladder, so incremental and full runs
    * can never disagree on what "near" means. Scale shape: the base
    * digest set is a distinct semi-join (digest-keyed shuffle), band
    * candidates are the usual bucket-bounded join — cost scales with
    * the increment, not the corpus rescan. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val batchPred = col("doc_id") % 10 === 0
    val baseDigests = docs.where(!batchPred)
      .select(md5(lower(trim(col("text")))).as("digest")).distinct()
    val exactIds = docs.where(batchPred)
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("digest"))
      .join(baseDigests, "digest")
      .select(col("doc_id")).distinct()
    val pairs = minhashCandidates(docs, "doc_id", "text")
    val nearIds = pairs
      .where(col("doc_a") % 10 === 0 && col("doc_b") % 10 =!= 0)
      .select(col("doc_a").as("doc_id"))
      .union(pairs
        .where(col("doc_b") % 10 === 0 && col("doc_a") % 10 =!= 0)
        .select(col("doc_b").as("doc_id")))
      .distinct()
    docs.where(batchPred).select(col("doc_id"))
      .join(exactIds.withColumn("is_exact", lit(true)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("is_near", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact"), "drop_exact")
          .when(col("is_near"), "drop_near")
          .otherwise("keep").as("verdict"))
      .orderBy(col("doc_id"))
  }

  lazy val incrementalDedupSql: String =
    s"""WITH tg AS ($trigramsSql),
       |mh AS ($signaturesSql),
       |bands AS ($bandsSql),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id),
       |batch AS (
       |  SELECT doc_id, md5(lower(trim(text))) AS digest
       |  FROM documents WHERE doc_id % 10 = 0),
       |based AS (
       |  SELECT DISTINCT md5(lower(trim(text))) AS digest
       |  FROM documents WHERE doc_id % 10 <> 0),
       |ex AS (SELECT DISTINCT b.doc_id FROM batch b JOIN based d USING (digest)),
       |nr AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM pairs
       |    WHERE doc_a % 10 = 0 AND doc_b % 10 <> 0
       |    UNION ALL
       |    SELECT doc_b FROM pairs
       |    WHERE doc_b % 10 = 0 AND doc_a % 10 <> 0))
       |SELECT b.doc_id,
       |  CASE WHEN ex.doc_id IS NOT NULL THEN 'drop_exact'
       |       WHEN nr.doc_id IS NOT NULL THEN 'drop_near'
       |       ELSE 'keep' END AS verdict
       |FROM batch b
       |LEFT JOIN ex ON b.doc_id = ex.doc_id
       |LEFT JOIN nr ON b.doc_id = nr.doc_id
       |ORDER BY b.doc_id""".stripMargin

  private val txnFixtures =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), String]

  /** Incremental dedup CONSUMING THE TABLE FORMAT'S CHANGE FEED (r11
    * — the natural first client of `txn_log_cdf`): the corpus lives
    * in a [[graft.sources.TxnLog]] table (v1 = the standing corpus,
    * v2 = tonight's appended batch) and the increment is not a
    * mod-rule selection but whatever `TxnLog.readChanges` says
    * arrived — the exact wiring a nightly 100 TB ingest uses (the
    * stream/batch writers commit; the dedup job tails versions).
    * Verdict logic is IDENTICAL to [[incrementalDedup]] (same digest
    * rung, same band machinery, batch membership via joins on the
    * CDF-derived id set instead of the mod predicate), so the oracle
    * is the SAME SQL — proving the change-feed-driven increment
    * equals the declarative split row for row.
    *
    * Scale shape: the change feed is file-bounded (the append's own
    * files, shuffle-free fast path); the base digest set is a
    * digest-keyed semi-join; band candidates stay bucket-bounded —
    * cost scales with the increment, never a corpus rescan. */
  def dedupCdf(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = graft.core.Fixtures.memo(txnFixtures,
      (spark.sparkContext.applicationId, dir, "docstxn|cdf_v1")) {
        graft.core.Fixtures.staged(s"$dir/documents.parquet", "docstxn",
            codeTag = "cdf_v1") { target =>
          val d = Tables.documents(spark, dir)
            .select(col("doc_id"), col("text"))
          new java.io.File(target).mkdirs()
          d.where(col("doc_id") % 10 =!= 0)
            .coalesce(1).write.parquet(s"$target/base")
          d.where(col("doc_id") % 10 === 0)
            .coalesce(1).write.parquet(s"$target/inc")
          assert(TxnLog.commitAppend(target, Seq("base"),
            d.schema.toDDL, "stage") == 1)
          assert(TxnLog.commitAppend(target, Seq("inc"),
            d.schema.toDDL, "stage") == 2)
        }
      }
    val base = TxnLog.read(spark, root, 1)
    val batch = TxnLog.readChanges(spark, root, 1)
      .where(col("_change_type") === "insert")
      .select(col("doc_id"), col("text"))
    val baseDigests = base
      .select(md5(lower(trim(col("text")))).as("digest")).distinct()
    val exactIds = batch
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("digest"))
      .join(baseDigests, "digest")
      .select(col("doc_id")).distinct()
    val batchIds = batch.select(col("doc_id"))
    val pairs = minhashCandidates(base.unionByName(batch), "doc_id", "text")
    val nearIds = pairs
      .join(batchIds.withColumnRenamed("doc_id", "doc_a"),
        Seq("doc_a"), "left_semi")
      .join(batchIds.withColumnRenamed("doc_id", "doc_b"),
        Seq("doc_b"), "left_anti")
      .select(col("doc_a").as("doc_id"))
      .union(pairs
        .join(batchIds.withColumnRenamed("doc_id", "doc_b"),
          Seq("doc_b"), "left_semi")
        .join(batchIds.withColumnRenamed("doc_id", "doc_a"),
          Seq("doc_a"), "left_anti")
        .select(col("doc_b").as("doc_id")))
      .distinct()
    batchIds
      .join(exactIds.withColumn("is_exact", lit(true)),
        Seq("doc_id"), "left")
      .join(nearIds.withColumn("is_near", lit(true)),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact"), "drop_exact")
          .when(col("is_near"), "drop_near")
          .otherwise("keep").as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Incremental dedup off a PERSISTED SIGNATURE INDEX (r12 — VERDICT
    * r11 #2: `llm_dedup_cdf` recomputed the standing corpus's digests
    * and band signatures on every increment, so "cost scales with the
    * increment" held only for the change feed, not the base scans).
    * The index is ITSELF a txn-log table — (doc_id, digest, sig)
    * maintained by the same nightly job THROUGH the log:
    *
    *  - backfill: one signature pass over corpus v1 commits index v1;
    *  - advance: the job consumes the corpus CHANGE FEED, computes
    *    signatures for the INSERTED rows only, and appends them with
    *    [[graft.sources.TxnLog.commitStreamBatch]] keyed
    *    (`dedup_index`, consumed-corpus-version) — so a re-run of
    *    tonight's job is an idempotent no-op (the staging asserts it),
    *    and the index's own log RECORDS how far it has consumed;
    *  - being a txn-log table, the index inherits the whole
    *    maintenance surface: OPTIMIZE bin-packs its nightly appends,
    *    vacuum retires them, time travel reproduces any night's
    *    verdicts.
    *
    * The VERDICT query then reads: tonight's batch (the CDF insert
    * rows — file-bounded), the standing index AT ITS PRE-ADVANCE
    * version (parquet signatures, ~40 bytes/doc instead of the
    * document text), and NOTHING else — the base documents' text is
    * never rescanned (spec-pinned: the plan names no base file).
    * Verdict algebra is byte-identical to [[dedupCdf]] /
    * [[incrementalDedup]] (same digest rung, same band machinery over
    * index-sigs ∪ batch-sigs with the shared bucket valve), so the
    * oracle is the SAME SQL — proving the index path loses nothing.
    *
    * Scale shape at 100 TB: tonight's cost = signature pass over the
    * increment + a digest semi-join and band join against an index
    * whose size is docs × ~40 B (0.04% of a 100 KB-doc corpus) — the
    * difference between re-hashing 100 TB nightly and reading a
    * 40 GB index. */
  def dedupIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val sigDdl = "doc_id BIGINT,digest STRING,sig ARRAY<STRING>"
    def sigsOf(docs: DataFrame): DataFrame = {
      docs.select(col("doc_id"),
        md5(lower(trim(col("text")))).as("digest"),
        expr("graft_minhash8(lower(text))").as("sig"))
    }
    val root = graft.core.Fixtures.memo(txnFixtures,
      (spark.sparkContext.applicationId, dir, "docsidx|sig_index_v1")) {
        graft.core.Fixtures.staged(s"$dir/documents.parquet", "docsidx",
            codeTag = "sig_index_v1") { target =>
          val d = Tables.documents(spark, dir)
            .select(col("doc_id"), col("text"))
          val corpus = s"$target/corpus"
          val index = s"$target/index"
          Seq(corpus, index).foreach(p => new java.io.File(p).mkdirs())
          d.where(col("doc_id") % 10 =!= 0)
            .coalesce(1).write.parquet(s"$corpus/basefile")
          d.where(col("doc_id") % 10 === 0)
            .coalesce(1).write.parquet(s"$corpus/incfile")
          assert(TxnLog.commitAppend(corpus, Seq("basefile"),
            d.schema.toDDL, "stage") == 1)
          assert(TxnLog.commitAppend(corpus, Seq("incfile"),
            d.schema.toDDL, "stage") == 2)
          // index backfill from corpus v1 — the ONE full signature pass
          sigsOf(TxnLog.read(spark, corpus, 1))
            .coalesce(1).write.parquet(s"$index/s00001")
          assert(TxnLog.commitAppend(index, Seq("s00001"), sigDdl,
            "stage") == 1)
          // nightly advance: signatures for the CDF inserts only,
          // batch-keyed by the consumed corpus version (idempotent)
          sigsOf(TxnLog.readChanges(spark, corpus, 1, 2)
              .where(col("_change_type") === "insert")
              .select(col("doc_id"), col("text")))
            .coalesce(1).write.parquet(s"$index/s00002")
          assert(TxnLog.commitStreamBatch(index, "dedup_index", 2L,
            Seq(TxnLog.add("s00002")), "stage").contains(2))
          assert(TxnLog.commitStreamBatch(index, "dedup_index", 2L,
            Seq(TxnLog.add("s00002")), "stage").isEmpty,
            "re-delivered index advance must be a no-op")
        }
      }
    val corpus = s"$root/corpus"
    val index = s"$root/index"
    val batch = TxnLog.readChanges(spark, corpus, 1)
      .where(col("_change_type") === "insert")
      .select(col("doc_id"), col("text"))
    // the standing index at its PRE-advance version: base digests +
    // signatures WITHOUT touching base text
    val idx = TxnLog.read(spark, index, 1)
    val exactIds = batch
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("digest"))
      .join(idx.select(col("digest")).distinct(), "digest")
      .select(col("doc_id")).distinct()
    val batchIds = batch.select(col("doc_id"))
    // bands over index-sigs ∪ fresh batch-sigs: identical buckets (and
    // the identical bucket valve) to recomputing everything — by
    // construction, since the index holds the same kernel's output
    val combined = idx.select(col("doc_id"), col("sig"))
      .unionByName(signaturesNative(batch, "doc_id", "text"))
    val pairs = candidatePlan(combined).select(col("doc_a"), col("doc_b"))
    val nearIds = pairs
      .join(batchIds.withColumnRenamed("doc_id", "doc_a"),
        Seq("doc_a"), "left_semi")
      .join(batchIds.withColumnRenamed("doc_id", "doc_b"),
        Seq("doc_b"), "left_anti")
      .select(col("doc_a").as("doc_id"))
      .union(pairs
        .join(batchIds.withColumnRenamed("doc_id", "doc_b"),
          Seq("doc_b"), "left_semi")
        .join(batchIds.withColumnRenamed("doc_id", "doc_a"),
          Seq("doc_a"), "left_anti")
        .select(col("doc_b").as("doc_id")))
      .distinct()
    batchIds
      .join(exactIds.withColumn("is_exact", lit(true)),
        Seq("doc_id"), "left")
      .join(nearIds.withColumn("is_near", lit(true)),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact"), "drop_exact")
          .when(col("is_near"), "drop_near")
          .otherwise("keep").as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Minimum signature-chunk agreements for a candidate pair to reach
    * exact verification: est = n_agree/8 ≥ 3/8, under the 0.5 report
    * threshold, so most borderline-true pairs reach the exact rung
    * while the bulk of false LSH positives (single-band coincidences,
    * est ≤ 2/8) never get shingled. The oracle applies the identical
    * md5-algebra cut, so both engines verify the same pair set.
    *
    * HONEST RECALL COST: n_agree is ~Binomial(8, J) for true Jaccard
    * J, so the cut has estimator-induced false negatives the oracle
    * compare cannot see (it applies the same cut): a pair at exactly
    * J = 0.5 is pruned with probability P(X ≤ 2) ≈ 14.5%, falling to
    * ≈ 5% at J = 0.6 and ≈ 1.1% at J = 0.7. That is the standard
    * est-then-verify trade (prune cost ∝ candidate count, miss rate
    * concentrated at the report boundary); set this to 1 to verify
    * every multi-band candidate exactly and pay full shingling. */
  private val estPruneMinAgree = 3

  /** DuckDB twin of [[candidatePlan]]'s per-pair `n_agree`. */
  private lazy val agreeSql: String = (0 until nHashes)
    .map(j => s"(CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END)").mkString(" + ")

  /** Exact trigram-Jaccard verification of a given candidate pair set —
    * the verify rung as one set-intersection kernel, shared by every
    * exact rung ([[dedupJaccard]], [[dedupContainment]],
    * [[dedupThresholdHist]], [[dedupRungAgreement]]) and LlmSpec's
    * unpruned-baseline measurement, so the test measures THIS verify.
    *
    * `cand` is a set of pairs (distinct rows). Each document's trigram
    * set is the null-free union of its rows' grams, so a duplicated
    * doc_id's set is the union of its rows', as the oracle's DISTINCT
    * (doc_id, g) defines it. The pair reads common = |A ∩ B|,
    * n_a = |A| and n_b = |B| as BIGINT; pairs sharing no trigram (or
    * naming an absent doc) are absent, as under the oracle's inner gram
    * join. Output: cand's columns, then common, n_a, n_b and jaccard
    * (exact-int / exact-int, bit-identical across engines).
    *
    * Path choice ([[graft.core.Held]]): when `docs` and `cand` both fit
    * the broadcast threshold and doc_id, doc_a and doc_b share one plain
    * key type, the verify is HELD ON THE DRIVER ([[jaccardHeld]]), a
    * local relation sorted on (doc_a, doc_b); otherwise it runs the
    * distributed kernel ([[jaccardDistributed]]). Both return the same
    * rows under the same schema. */
  private[graft] def exactJaccard(docs: DataFrame, cand: DataFrame): DataFrame = {
    val plan = jaccardDistributed(docs, cand)
    val idType = docs.schema("doc_id").dataType
    if (Held.plainKey(idType) && Seq("doc_a", "doc_b").forall(cand.schema(_).dataType == idType) &&
        Held.fits(cand) && Held.fits(docs)) jaccardHeld(docs, cand, plan.schema)
    else plan
  }

  /** The held verify path. Scale shape: the pairs are collected (a
    * held candidate frame with no job), then one collect job probes the
    * docs scan with an `InSet` on the pairs' endpoints and shingles the
    * matched rows in Spark, so only candidate documents travel; the
    * driver merges each doc_id's rows into one set and intersects each
    * pair's sets in parallel across its cores, with no shuffle. */
  private def jaccardHeld(docs: DataFrame, cand: DataFrame, schema: StructType): DataFrame = {
    val idType = docs.schema("doc_id").dataType
    val toKey = CatalystTypeConverters.createToCatalystConverter(idType)
    val toRow = CatalystTypeConverters.createToCatalystConverter(cand.schema)
    val ord = TypeUtils.getInterpretedOrdering(idType)
    val (ia, ib) = (cand.schema.fieldIndex("doc_a"), cand.schema.fieldIndex("doc_b"))
    val pairs = cand.collect().distinct.map(r => toRow(r).asInstanceOf[InternalRow])
    val ends = pairs.flatMap(p => Seq(p.get(ia, idType), p.get(ib, idType))).filter(_ != null).toSet
    val grams: Map[Any, Set[String]] =
      if (ends.isEmpty) Map.empty
      else docs.where(Held.in(col("doc_id"), ends))
        .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
        .select(col("doc_id"), expr(gramsExpr).as("g"))
        .collect()
        .groupMapReduce(r => toKey(r.get(0)))(r =>
          if (r.isNullAt(1)) Set.empty[String] else r.getSeq[String](1).filter(_ != null).toSet)(_ ++ _)
    def gramsOf(id: Any): Set[String] = if (id == null) Set.empty else grams.getOrElse(id, Set.empty)
    val verified = pairs.par.flatMap { p =>
      val (a, b) = (gramsOf(p.get(ia, idType)), gramsOf(p.get(ib, idType)))
      val common = (if (a.size <= b.size) a.count(b) else b.count(a)).toLong
      if (common == 0) None
      else Some(InternalRow.fromSeq(p.toSeq(cand.schema) ++ Seq[Any](common, a.size.toLong,
        b.size.toLong, common.toDouble / (a.size + b.size - common).toDouble)))
    }.seq.sortWith { (x, y) =>
      val c = ord.compare(x.get(ia, idType), y.get(ia, idType))
      if (c != 0) c < 0 else ord.lt(x.get(ib, idType), y.get(ib, idType))
    }
    Held.local(docs.sparkSession, schema, verified.toSeq)
  }

  /** The distributed verify path. Its (pair, side, doc_id) endpoint
    * rows are broadcast; one docs scan probes them and shingles each
    * matched row, so only candidate documents are shingled. One groupBy
    * on cand's columns builds each side's null-free distinct trigram
    * array from its matched rows. Scale shape: the broadcast grows with
    * the (pruned) pair count, the one shuffle with the pairs' gram
    * arrays. */
  private def jaccardDistributed(docs: DataFrame, cand: DataFrame): DataFrame = {
    val keys = cand.columns.toSeq.map(col)
    val ends = cand.select(keys :+ posexplode(array(col("doc_a"), col("doc_b")))
      .as(Seq("side", "doc_id")): _*)
    def grams(side: Int): Column = array_compact(array_distinct(flatten(
      collect_list(when(col("side") === side, col("g"))))))
    val common = size(array_intersect(col("ga"), col("gb"))).cast("long")
    docs.select(col("doc_id"), col("text")).join(broadcast(ends), "doc_id")
      .select(keys ++ Seq(col("side"), split(lower(col("text")), " ").as("t")): _*)
      .select(keys ++ Seq(col("side"), expr(gramsExpr).as("g")): _*)
      .groupBy(keys: _*).agg(grams(0).as("ga"), grams(1).as("gb"))
      .select(keys ++ Seq(common.as("common"),
        size(col("ga")).cast("long").as("n_a"), size(col("gb")).cast("long").as("n_b")): _*)
      .where(col("common") > 0)
      .withColumn("jaccard", col("common") / (col("n_a") + col("n_b") - col("common")))
  }

  /** Exact n-gram Jaccard — the full dedup ladder in one query:
    * LSH candidates → MinHash-estimator prune ([[estPruneMinAgree]] on
    * the candidate plan's own n_agree: no text re-read, no signature
    * join) → exact trigram verification of the survivors. At 100 TB
    * the prune is what keeps the verify rung affordable: the kernel
    * shingles est-plausible pairs' documents only. */
  def dedupJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cand = candidatePlan(signaturesNative(docs, "doc_id", "text"))
      .where(col("n_agree") >= estPruneMinAgree)
      .select(col("doc_a"), col("doc_b"))
    byPair(exactJaccard(docs, cand).where(col("jaccard") >= 0.5))
  }

  lazy val dedupJaccardSql: String = {
    val agree = agreeSql
    s"""WITH tg AS ($trigramsSql),
       |mh AS ($signaturesSql),
       |bands AS ($bandsSql),
       |cand0 AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id),
       |cand AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand0 c
       |  JOIN mh a ON a.doc_id = c.doc_a
       |  JOIN mh b ON b.doc_id = c.doc_b
       |  WHERE ($agree) >= $estPruneMinAgree),
       |sz AS (SELECT doc_id, count(*) AS n FROM tg GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM cand c
       |  JOIN tg x ON x.doc_id = c.doc_a
       |  JOIN tg y ON y.doc_id = c.doc_b AND y.g = x.g
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT i.doc_a, i.doc_b, i.common, x.n AS n_a, y.n AS n_b,
       |  i.common / (x.n + y.n - i.common) AS jaccard
       |FROM inter i
       |JOIN sz x ON x.doc_id = i.doc_a
       |JOIN sz y ON y.doc_id = i.doc_b
       |WHERE i.common / (x.n + y.n - i.common) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** MinHash Jaccard estimator over the LSH candidates — the cheap rung
    * between candidate generation and exact verification: est = fraction
    * of the 8 signature chunks that agree (E[est] = true Jaccard, the
    * MinHash property; 1/8 granularity at this signature width). At
    * scale this prunes candidate pairs before the trigram-intersection
    * verify without touching document text again — the candidate plan
    * already counts each pair's agreeing chunks. */
  def dedupJaccardEst(spark: SparkSession, dir: String): DataFrame =
    byPair(candidatePlan(signaturesNative(Tables.documents(spark, dir), "doc_id", "text"))
      .withColumn("jaccard_est", col("n_agree").cast("double") / lit(8.0)))

  lazy val dedupJaccardEstSql: String = {
    val agree = agreeSql
    s"""WITH tg AS ($trigramsSql),
       |mh AS ($signaturesSql),
       |bands AS ($bandsSql),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id)
       |SELECT c.doc_a, c.doc_b,
       |  CAST($agree AS INT) AS n_agree,
       |  CAST($agree AS DOUBLE) / 8.0 AS jaccard_est
       |FROM cand c
       |JOIN mh a ON a.doc_id = c.doc_a
       |JOIN mh b ON b.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Edit-distance verification over the MinHash band candidates — the
    * character-level rung of the dedup verify ladder (trigram Jaccard
    * is set-based and order-blind; Levenshtein catches reorderings it
    * cannot). Cost is bounded two ways: pairs come from the band
    * candidates (never all-pairs), and the distance runs on a 200-char
    * prefix — Levenshtein is O(n·m) per pair, so the cap, not the
    * document length, fixes per-pair work at scale. Both engines'
    * `levenshtein` is the classic unit-cost edit distance, so the
    * distance is integer-exact and the similarity one IEEE division. */
  def dedupEditDistance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pref = docs.select(col("doc_id"),
      expr("substring(lower(text), 1, 200)").as("p"))
    minhashCandidates(docs, "doc_id", "text")
      .join(pref.select(col("doc_id").as("doc_a"), col("p").as("pa")),
        Seq("doc_a"))
      .join(pref.select(col("doc_id").as("doc_b"), col("p").as("pb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).as("edit_dist"),
        greatest(length(col("pa")), length(col("pb"))).as("max_len"))
      .withColumn("sim",
        lit(1.0) - col("edit_dist").cast("double") /
          col("max_len").cast("double"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  lazy val dedupEditDistanceSql: String =
    s"""WITH tg AS ($trigramsSql),
       |mh AS ($signaturesSql),
       |bands AS ($bandsSql),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id),
       |pref AS (
       |  SELECT doc_id, substring(lower(text), 1, 200) AS p
       |  FROM documents)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(levenshtein(a.p, b.p) AS INT) AS edit_dist,
       |  CAST(GREATEST(LEN(a.p), LEN(b.p)) AS INT) AS max_len,
       |  1.0 - CAST(levenshtein(a.p, b.p) AS DOUBLE)
       |      / CAST(GREATEST(LEN(a.p), LEN(b.p)) AS DOUBLE) AS sim
       |FROM cand c
       |JOIN pref a ON a.doc_id = c.doc_a
       |JOIN pref b ON b.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Asymmetric containment verify over the MinHash band candidates:
    * containment(A,B) = |A∩B| / min(|A|,|B|) over trigram sets — the
    * quote-inclusion / partial-copy detector Jaccard misses (a doc
    * mostly contained in a longer one has high containment but low
    * Jaccard, so a symmetric 0.5-Jaccard cut drops it). Reuses the
    * exact-intersection kernel of [[dedupJaccard]]; same shuffle
    * shape, different denominator. Honest recall note: the LSH bands
    * themselves are Jaccard-driven, so candidates only surface when
    * the two docs are of comparable size — the extreme
    * short-doc-inside-huge-doc case needs the sub-document span path
    * ([[Text.spanDedup]]), not set similarity. At 100 TB the verify
    * shuffle is bounded by the bucket-capped candidate volume, never
    * all-pairs. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cand = minhashCandidates(docs, "doc_id", "text")
    byPair(exactJaccard(docs, cand)
      .select(col("doc_a"), col("doc_b"), col("common"),
        col("n_a"), col("n_b"),
        (col("common") / least(col("n_a"), col("n_b"))).as("containment"),
        (col("common") / (col("n_a") + col("n_b") - col("common")))
          .as("jaccard"))
      .where(col("containment") >= 0.5))
  }

  lazy val dedupContainmentSql: String =
    s"""WITH tg AS ($trigramsSql),
       |mh AS ($signaturesSql),
       |bands AS ($bandsSql),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM tg GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM cand c
       |  JOIN tg x ON x.doc_id = c.doc_a
       |  JOIN tg y ON y.doc_id = c.doc_b AND y.g = x.g
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT i.doc_a, i.doc_b, i.common, x.n AS n_a, y.n AS n_b,
       |  i.common / LEAST(x.n, y.n) AS containment,
       |  i.common / (x.n + y.n - i.common) AS jaccard
       |FROM inter i
       |JOIN sz x ON x.doc_id = i.doc_a
       |JOIN sz y ON y.doc_id = i.doc_b
       |WHERE i.common / LEAST(x.n, y.n) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Similarity-threshold tuning histogram — the report a curator
    * reads BEFORE fixing the dedup cutoff: exact Jaccard over the
    * band candidates bucketed into 0.1 bands (counts + the cumulative
    * pair count at-or-above each band). Where [[dedupJaccard]] answers
    * "which pairs survive 0.5", this answers "what would 0.4 or 0.6
    * have done" in one pass over the SAME candidate-bounded verify
    * shuffle — no extra corpus work. Bucket arithmetic is exact
    * BIGINT (common·10 DIV union), so band edges cannot ulp-split
    * engines. */
  def dedupThresholdHist(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cand = minhashCandidates(docs, "doc_id", "text")
    val w = Window.orderBy(col("band").desc) // ≤10 band rows
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    exactJaccard(docs, cand)
      .select(least(expr("common * 10 DIV (n_a + n_b - common)"), lit(9L))
        .as("band"))
      .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
      .withColumn("pairs_at_or_above", sum(col("n_pairs")).over(w))
      .orderBy(col("band"))
  }

  lazy val dedupThresholdHistSql: String =
    s"""WITH tg AS ($trigramsSql),
       |mh AS ($signaturesSql),
       |bands AS ($bandsSql),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM tg GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM cand c
       |  JOIN tg x ON x.doc_id = c.doc_a
       |  JOIN tg y ON y.doc_id = c.doc_b AND y.g = x.g
       |  GROUP BY c.doc_a, c.doc_b),
       |banded AS (
       |  SELECT LEAST(i.common * 10 // (x.n + y.n - i.common), 9) AS band
       |  FROM inter i
       |  JOIN sz x ON x.doc_id = i.doc_a
       |  JOIN sz y ON y.doc_id = i.doc_b)
       |SELECT band, count(*) AS n_pairs,
       |  CAST(SUM(count(*)) OVER (ORDER BY band DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS pairs_at_or_above
       |FROM banded
       |GROUP BY band
       |ORDER BY band""".stripMargin

  /** Dedup-rung agreement matrix — the evaluation product behind
    * trusting the cheap rung: over the SAME candidate pairs, does the
    * 8-chunk MinHash estimator's ≥0.5 call agree with the exact
    * ≥0.5-Jaccard verify? Counts the 2×2 confusion matrix
    * (est_half × jac_half) — est-only cells are the estimator's false
    * positives at this granularity, jac-only its false negatives. The
    * verify kernel carries each candidate's n_agree through, so both
    * rungs come from one pass with no re-join. */
  def dedupRungAgreement(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    exactJaccard(docs, candidatePlan(signaturesNative(docs, "doc_id", "text")))
      .select((col("n_agree") >= 4).as("est_half"), (col("jaccard") >= 0.5).as("jac_half"))
      .groupBy(col("est_half"), col("jac_half"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("est_half"), col("jac_half"))
  }

  lazy val dedupRungAgreementSql: String = {
    val agree = agreeSql
    s"""WITH tg AS ($trigramsSql),
       |mh AS ($signaturesSql),
       |bands AS ($bandsSql),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id),
       |est AS (
       |  SELECT c.doc_a, c.doc_b, ($agree) >= 4 AS est_half
       |  FROM cand c
       |  JOIN mh a ON a.doc_id = c.doc_a
       |  JOIN mh b ON b.doc_id = c.doc_b),
       |sz AS (SELECT doc_id, count(*) AS n FROM tg GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM cand c
       |  JOIN tg x ON x.doc_id = c.doc_a
       |  JOIN tg y ON y.doc_id = c.doc_b AND y.g = x.g
       |  GROUP BY c.doc_a, c.doc_b),
       |jac AS (
       |  SELECT i.doc_a, i.doc_b,
       |    i.common / (x.n + y.n - i.common) >= 0.5 AS jac_half
       |  FROM inter i
       |  JOIN sz x ON x.doc_id = i.doc_a
       |  JOIN sz y ON y.doc_id = i.doc_b)
       |SELECT e.est_half, j.jac_half, count(*) AS n_pairs
       |FROM est e JOIN jac j ON e.doc_a = j.doc_a AND e.doc_b = j.doc_b
       |GROUP BY 1, 2
       |ORDER BY est_half, jac_half""".stripMargin
  }

  /** 16-bit SimHash fingerprint per document: md5 each distinct token,
    * take the first 16 bits, sum ±1 per bit position over tokens, keep
    * the sign bit. Pure integer/string ops — bit-identical in the
    * oracle. At scale: one explode + one groupBy shuffle keyed by doc;
    * near-dup pairs then band on fingerprint nibbles (pigeonhole for
    * hamming ≤ 3), never all-pairs. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashFingerprints(spark, dir).orderBy(col("doc_id"))

  /** Unordered (doc_id, simhash) fingerprint frame — shared by the
    * fingerprint dump and the nearest-neighbor query. Native
    * single-pass kernel ([[graft.functions.SimHash16]]): one
    * projection instead of explode → distinct → bit-sum groupBy (two
    * shuffles). The token-presence predicate reproduces the composable
    * pipeline's absence semantics for token-less docs without putting
    * the kernel itself into a pushdown-cloned filter. */
  private def simhashFingerprints(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .where(size(filter(split(lower(col("text")), " "), t => t =!= "")) > 0)
      .select(col("doc_id"), expr("graft_simhash16(lower(text))").as("simhash"))
  }

  /** Composable twin of [[simhashFingerprints]] — retained as the
    * bit-equality reference for MinHashSpec (the algebra the DuckDB
    * oracle reproduces). */
  private[graft] def simhashFingerprintsComposable(
      spark: SparkSession, dir: String): DataFrame =
    simhashComposableOf(Tables.documents(spark, dir), "doc_id", "text")

  private[graft] def simhashComposableOf(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .select(col("doc_id"),
        explode(filter(split(lower(col("text")), " "), t => t =!= "")).as("tok"))
      .distinct()
      .select(col("doc_id"), md5(col("tok")).as("h"))
    val bitSums = toks.groupBy(col("doc_id")).agg(
      expr(s"""sum(CASE WHEN ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) >> 3) & 1 = 1 THEN 1 ELSE -1 END)""").as("s0"),
      (1 until 16).map { j =>
        val pos = 1 + j / 4
        val shift = 3 - j % 4
        expr(s"""sum(CASE WHEN ((instr('0123456789abcdef', substr(h, $pos, 1)) - 1) >> $shift) & 1 = 1 THEN 1 ELSE -1 END)""").as(s"s$j")
      }: _*)
    val fp = (0 until 16)
      .map(j => when(col(s"s$j") > 0, lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _)
    bitSums.select(col("doc_id"), fp.cast("long").as("simhash"))
  }

  /** Nearest simhash neighbor per doc: candidates from two byte-wide
    * bands (pigeonhole: hamming ≤ 1 guarantees a shared byte; wider
    * recall is probabilistic), ranked by (hamming, neighbor id).
    *
    * R6 scale fix: the band self-join runs over DISTINCT fingerprints,
    * not docs. A 16-bit fingerprint space means a fixed 256 buckets
    * per band, so a doc-level join grows as n²/256 (measured 7× time
    * at 5× docs); fingerprint-level candidates saturate at 65,536
    * distinct values no matter how large the corpus — the pair space
    * is bounded forever, and per-doc work is one group lookup plus a
    * rank over ≤ 510 candidate fingerprints. The per-doc TOP-1 result
    * is unchanged, exactly: docs sharing a fingerprint resolve to
    * hamming 0 against their group's min member (second-min for the
    * min member itself — same (hamming, doc_b) order as the doc-level
    * rank), and singleton docs rank candidate fingerprints by
    * (hamming, group min id), which equals ranking every member doc
    * because each group's best representative IS its min id. */
  def dedupSimhashNn(spark: SparkSession, dir: String): DataFrame = {
    // Repartition before caching: the native-kernel fingerprint frame is
    // a projection over the scan, so on a small/few-file corpus the
    // cache inherits 1-2 partitions and the join map sides run
    // single-threaded. The shuffle moves only (id, fp) and is
    // partition-count-portable.
    // r16: explicit width — a column-only repartition is still
    // AQE-coalescable (REPARTITION_BY_COL origin), so the small-bytes
    // fingerprint frame could fold back to one partition anyway
    val fp = simhashFingerprints(spark, dir)
      .repartition(
        spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("doc_id")).cache() // reused by all three legs
    val groups = fp.groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("min_id"), count(lit(1)).as("m"))
      .cache()
    // second-smallest member id — the hamming-0 neighbor of the min
    // member in a shared-fingerprint group
    val second = fp.join(groups, "simhash")
      .where(col("doc_id") > col("min_id"))
      .groupBy(col("simhash")).agg(min(col("doc_id")).as("second_id"))
    val within = fp.join(groups.where(col("m") >= 2), "simhash")
      .join(second, "simhash")
      .select(col("doc_id"),
        when(col("doc_id") === col("min_id"), col("second_id"))
          .otherwise(col("min_id")).as("nn_id"),
        lit(0).as("hamming"))
    def bands(fpCol: String, repCol: String) =
      groups.select(col("simhash").as(fpCol), col("min_id").as(repCol),
        explode(array((0 until 2).map(b =>
          struct(lit(b).as("b"),
            shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L)).as("v"))): _*))
          .as("band"))
        .select(col(fpCol), col(repCol), col("band.b").as(s"b_$fpCol"),
          col("band.v").as(s"v_$fpCol"))
    val fa = bands("fp_a", "rep_a")
    val fb = bands("fp_b", "rep_b")
    val fpPairs = fa.join(fb, col("b_fp_a") === col("b_fp_b") &&
                              col("v_fp_a") === col("v_fp_b") &&
                              col("fp_a") =!= col("fp_b"))
      .select(col("fp_a"), col("rep_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .distinct()
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("hamming"), col("rep_b"))
    val cross = fp.join(groups.where(col("m") === 1), "simhash")
      .join(fpPairs, col("simhash") === col("fp_a"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("rep_b").as("nn_id"), col("hamming"))
    within.unionAll(cross).orderBy(col("doc_id"))
  }

  lazy val dedupSimhashNnSql: String = {
    val inner = dedupSimhashSql.linesIterator.toSeq
      .dropRight(1) // strip the trailing ORDER BY of the fingerprint query
      .mkString("\n")
    s"""WITH fp AS (
       |$inner
       |),
       |grp AS (
       |  SELECT simhash, min(doc_id) AS min_id, count(*) AS m
       |  FROM fp GROUP BY 1),
       |second AS (
       |  SELECT f.simhash, min(f.doc_id) AS second_id
       |  FROM fp f JOIN grp g ON g.simhash = f.simhash
       |  WHERE f.doc_id > g.min_id GROUP BY 1),
       |within AS (
       |  SELECT f.doc_id,
       |    CASE WHEN f.doc_id = g.min_id THEN s.second_id
       |         ELSE g.min_id END AS nn_id,
       |    0 AS hamming
       |  FROM fp f
       |  JOIN grp g ON g.simhash = f.simhash
       |  JOIN second s ON s.simhash = f.simhash
       |  WHERE g.m >= 2),
       |fbands AS (
       |  SELECT simhash, min_id, b, (simhash >> (b*8)) & 255 AS v
       |  FROM grp, unnest([0,1]) AS t(b)),
       |fpp AS (
       |  SELECT DISTINCT a.simhash AS fp_a, b.min_id AS rep_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM fbands a JOIN fbands b
       |    ON a.b = b.b AND a.v = b.v AND a.simhash <> b.simhash),
       |crossed AS (
       |  SELECT f.doc_id, p.rep_b AS nn_id, p.hamming,
       |    ROW_NUMBER() OVER (PARTITION BY f.doc_id
       |                       ORDER BY p.hamming, p.rep_b) AS rn
       |  FROM fp f
       |  JOIN grp g ON g.simhash = f.simhash AND g.m = 1
       |  JOIN fpp p ON p.fp_a = f.simhash)
       |SELECT doc_id, nn_id, hamming FROM within
       |UNION ALL
       |SELECT doc_id, nn_id, hamming FROM crossed WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
  }

  val dedupSimhashSql: String = {
    val sums = (0 until 16).map { j =>
      val pos = 1 + j / 4
      val shift = 3 - j % 4
      s"SUM(CASE WHEN ((instr('0123456789abcdef', substr(h, $pos, 1)) - 1) >> $shift) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(",\n  ")
    val fp = (0 until 16)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, md5(tok) AS h FROM toks),
       |bits AS (SELECT doc_id,
       |  $sums
       |FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($fp AS BIGINT) AS simhash
       |FROM bits
       |ORDER BY doc_id""".stripMargin
  }

  /** Unordered (doc_id, cluster_id) connected-component labels over the
    * LSH candidate pairs, by iterative min-label propagation — shared by
    * [[dedupClusters]] (sorted dump), [[dedupApply]] (broadcast join) and
    * [[dedupClusterStats]] (keyed agg), so no consumer recomputes the
    * fixpoint (VERDICT r2 #3, r3 #7).
    *
    * The fixpoint runs ONCE per source CONTENT: its result is staged
    * via [[graft.core.Fixtures.staged]] to a fingerprint-named tmp
    * parquet (immutable once renamed into place; re-staged only when
    * the source bytes change), and every call reads that fixture —
    * the shape a real pipeline uses (compute labels once, consume
    * them many times). Disk staging rather than a pinned cache means
    * the staging body can release every block it pinned once the write
    * completes: no RDD stays pinned after the query (LlmSpec).
    *
    * The labels come from [[connectedComponents]]: held on the driver
    * when the candidate pairs fit the broadcast threshold, else the
    * distributed fixpoint. On that path each round's localCheckpoint
    * truncates lineage (a plain cache doubles the plan every round);
    * the convergence count is folded into the checkpoint job (an
    * `Observation` on it). Round n-1's checkpoint blocks are released
    * as soon as round n materializes — peak pinned state is the edges
    * plus two label frames regardless of round count; the final
    * round's are released once the staging write completes. The staged
    * labels read back under their footer's schema ([[Tables.parquet]]),
    * with no job. */
  private val labelFixtures =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private[llm] def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.core.Fixtures.memo(labelFixtures,
      (spark.sparkContext.applicationId, dir)) {
        // Content-fingerprinted staging (ADVICE r4: the previous
        // shared stable path was overwritten on each JVM's first use,
        // so two concurrent JVMs on one source could clobber each
        // other mid-read). Fixtures.staged names the dir by the
        // source fingerprint and renames it into place atomically:
        // a pre-existing copy — this session's, a concurrent JVM's,
        // or a previous session's — is bit-identical by construction
        // (the fixpoint is deterministic), so reuse is always safe
        // and the fixpoint is skipped entirely when staged already.
        // v2: candidate generation gained the maxBucket cap — the
        // fixture content could differ on a redundancy-heavy corpus,
        // so the fingerprint must change with the code
        graft.core.Fixtures.staged(dir, "labels", codeTag = "cc_minlabel_v2") {
          target =>
            val labels = connectedComponents(spark,
              minhashCandidates(Tables.documents(spark, dir), "doc_id", "text"))
            labels.write.mode("overwrite").parquet(target)
            Caches.unpin(labels) // the staged copy supersedes the checkpoint
        }
      }
    Tables.parquet(spark, path)
  }

  /** PUBLIC corpus-generic surface: MinHash+LSH near-dup candidate
    * pairs over any (id, text) frame — the same trigram → 8-minhash →
    * 4-band pipeline the registry queries run on `documents`. Returns
    * unordered distinct (doc_a, doc_b) from [[candidatePlan]]; nothing
    * is cached. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    candidatePlan(signaturesNative(docs, idCol, textCol)).select(col("doc_a"), col("doc_b"))

  /** PUBLIC generic surface: connected-component labels over any
    * undirected (doc_a, doc_b) pair frame — (doc_id, cluster_id), each
    * node of a pair labelled by the least node of its component,
    * unordered. A pair with a null endpoint adds its other endpoint as
    * a node but no edge; a null node gets no label.
    *
    * Path choice ([[graft.core.Held]]): a pair frame that fits the
    * broadcast threshold, whose endpoints share one plain key type
    * ([[graft.core.Held.plainKey]]), is HELD ON THE DRIVER
    * ([[componentsHeld]]): one collect job, a driver union-find, a
    * local relation back. Any other frame runs the distributed
    * min-label fixpoint ([[componentsDistributed]]). Both paths return
    * the same rows under the same schema; only the distributed one
    * refuses a component whose diameter needs more than 20 rounds. */
  def connectedComponents(spark: SparkSession, pairFrame: DataFrame): DataFrame = {
    val types = Seq("doc_a", "doc_b").map(pairFrame.schema(_).dataType).distinct
    if (types.size == 1 && Held.plainKey(types.head) &&
        Held.fits(pairFrame)) componentsHeld(spark, pairFrame)
    else componentsDistributed(spark, pairFrame)
  }

  /** The held components path. Scale shape: the pair frame (at most the
    * broadcast threshold) is collected once; each endpoint's Catalyst
    * value gets a dense Int id once, a union-find over Int arrays joins
    * the pairs' components in near-linear time, and one pass over the
    * nodes finds each component's least node under Spark's ordering, with
    * no round bound; the labels come back as a local relation of
    * Catalyst rows, which Spark reads with no job and no generated code.
    * Nothing is pinned. */
  private def componentsHeld(spark: SparkSession, pairFrame: DataFrame): DataFrame = {
    val (a, b) = (pairFrame.schema("doc_a"), pairFrame.schema("doc_b"))
    val toKey = CatalystTypeConverters.createToCatalystConverter(a.dataType)
    val ord = TypeUtils.getInterpretedOrdering(a.dataType)
    val pairs = pairFrame.select(col("doc_a"), col("doc_b")).collect()
    val ids = new java.util.HashMap[Any, Integer](pairs.length)
    val nodes = mutable.ArrayBuffer.empty[Any]
    def idOf(v: Any): Int =
      if (v == null) -1
      else {
        val k = toKey(v)
        val i = ids.get(k)
        if (i != null) i.intValue
        else { ids.put(k, nodes.size); nodes += k; nodes.size - 1 }
      }
    val ends = pairs.map(p => (idOf(p.get(0)), idOf(p.get(1))))
    val parent = Array.range(0, nodes.size)
    val rank = new Array[Byte](nodes.size)
    def root(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    ends.foreach { case (x, y) =>
      if (x >= 0 && y >= 0) {
        val (rx, ry) = (root(x), root(y))
        if (rx != ry) {
          if (rank(rx) < rank(ry)) parent(rx) = ry
          else {
            parent(ry) = rx
            if (rank(rx) == rank(ry)) rank(rx) = (rank(rx) + 1).toByte
          }
        }
      }
    }
    val least = Array.fill(nodes.size)(-1)
    nodes.indices.foreach { i =>
      val r = root(i)
      if (least(r) < 0 || ord.lt(nodes(i), nodes(least(r)))) least(r) = i
    }
    // the distributed path's schema: the node keeps the endpoints'
    // nullability, the label is a `min`
    Held.local(spark, StructType(Seq(
        StructField("doc_id", a.dataType, a.nullable || b.nullable),
        StructField("cluster_id", a.dataType, nullable = true))),
      nodes.indices.map(i => InternalRow(nodes(i), nodes(least(root(i))))))
  }

  /** The distributed components path: min-label propagation, the edges
    * pinned once, then one checkpoint per round, whose job also counts
    * the changed labels (an `Observation`). Scale shape: labels and
    * edges stay distributed; a round costs a join and an aggregation
    * over the edges, rounds follow the component diameter, and more
    * than 20 rounds is refused. The returned frame is backed by the
    * final round's checkpoint: release it with
    * [[graft.core.Caches.unpin]] (or a harness drain) after consuming
    * it. */
  private def componentsDistributed(spark: SparkSession,
                                    pairFrame: DataFrame): DataFrame = {
    // both directions of every pair from one pass over the pair frame
    val edges = Caches.pin(pairFrame
      .select(explode(array(
        struct(col("doc_a"), col("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
      .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b")))
    // one-hop seed (least of self and neighbours: a pair component is
    // already fixed, so round 1 only checks it), planned inline, unpinned
    var labels = edges.groupBy(col("doc_a")).agg(min(col("doc_b")).as("m"))
      .select(col("doc_a").as("node"), least(col("doc_a"), col("m")).as("label"))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 20) {
      val prop = edges.join(labels, col("doc_a") === col("node"))
        .select(col("doc_b").as("node"), col("label"))
      val stepped = labels.union(prop)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .join(labels.select(col("node"), col("label").as("old")), "node")
      // the round's changed-label count rides on its checkpoint job
      val obs = Observation()
      val next = Caches.pin(stepped.observe(obs,
        count(when(col("label") =!= col("old"), 1)).as("changed")))
      changed = obs.get("changed").asInstanceOf[Long]
      if (iter > 0) Caches.unpin(labels) // the seed's only leaf is `edges`
      labels = next.select(col("node"), col("label"))
      iter += 1
    }
    require(changed == 0, s"label propagation did not converge in $iter rounds")
    Caches.unpin(edges)
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Near-dup clustering: connected components over the LSH candidate
    * pairs — the step real dedup pipelines need after pair generation
    * (keep one representative per component, not per pair). The oracle
    * reproduces the fixpoint with a recursive CTE. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).orderBy(col("doc_id"))

  /** Shared recursive-CTE fixpoint (trigram → minhash → bands → LSH
    * candidate pairs → undirected edges → label reachability) that the
    * clusters / cluster-stats / apply oracles all build on. Factored as
    * its own prefix so the three queries compose it structurally —
    * ADVICE r3: slicing the rendered clusters SQL by line count made
    * every reformat silently corrupt the other two oracles. */
  private[llm] lazy val clusterFixpointCteSql: String =
    s"""WITH RECURSIVE tg AS ($trigramsSql),
       |mh AS ($signaturesSql),
       |bands AS ($bandsSql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT doc_a, doc_b FROM cand
       |  UNION ALL SELECT doc_b, doc_a FROM cand),
       |nodes AS (SELECT DISTINCT doc_a AS node FROM edges),
       |reach AS (
       |  SELECT node, node AS label FROM nodes
       |  UNION
       |  SELECT e.doc_b AS node, r.label
       |  FROM reach r JOIN edges e ON e.doc_a = r.node)""".stripMargin

  /** The component-label CTE over the fixpoint's `reach` — single
    * source for every oracle that consumes cluster labels (clusters,
    * stats, apply, and the composed pipeline). */
  private[llm] val compCteSql: String =
    """comp AS (
      |  SELECT node AS doc_id, MIN(label) AS cluster_id
      |  FROM reach GROUP BY node)""".stripMargin

  lazy val dedupClustersSql: String =
    s"""$clusterFixpointCteSql,
       |$compCteSql
       |SELECT doc_id, cluster_id FROM comp
       |ORDER BY doc_id""".stripMargin

  /** Cluster-size report — the summarization a dedup operator reads
    * before picking thresholds: per near-dup component, member count
    * and id span. (The representative is the cluster_id itself — the
    * min-label fixpoint labels each component by its min doc_id, so a
    * separate min column would be pure redundancy; max_doc is the
    * non-derivable bound.) Same shared fixpoint as clusters/apply plus
    * one tiny keyed aggregation. */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("cluster_id"))

  lazy val dedupClusterStatsSql: String =
    s"""$clusterFixpointCteSql,
       |$compCteSql
       |SELECT cluster_id, COUNT(*) AS n_members, MAX(doc_id) AS max_doc
       |FROM comp
       |GROUP BY cluster_id
       |ORDER BY cluster_id""".stripMargin

  /** The apply step that closes the dedup ladder: every document
    * flagged keep/drop — drop iff it belongs to a near-dup component
    * and is not its representative (the min doc_id). This is the row
    * that actually filters a training corpus; at scale it is one
    * broadcast-able join of the (small) cluster table against the
    * corpus. */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    // unordered labels — no sort under the broadcast exchange
    val clusters = clusterLabels(spark, dir)
      .select(col("doc_id").as("cid_doc"), col("cluster_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(broadcast(clusters), col("doc_id") === col("cid_doc"), "left_outer")
      .select(col("doc_id"), col("source"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        (col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
          .as("kept"))
      .orderBy(col("doc_id"))
  }

  lazy val dedupApplySql: String =
    // reuse the recursive-CTE fixpoint + shared comp, left-join the corpus
    s"""$clusterFixpointCteSql,
       |$compCteSql
       |SELECT d.doc_id, d.source,
       |  COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       |  (c.cluster_id IS NULL OR c.cluster_id = d.doc_id) AS kept
       |FROM documents d LEFT OUTER JOIN comp c ON d.doc_id = c.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** 64-dim dot product as a single-pass left fold:
    * aggregate(zip_with(a, b, *), 0.0, +). The fold adds products in
    * element order, the same IEEE sequence as the oracle's explicit
    * left-associative 64-term chain, so results are bit-identical —
    * and each array is traversed once instead of 64 random
    * element_at accesses (the difference is ~6× on the pairwise
    * queries). */
  private[llm] def dotExpr(a: String, b: String): Column =
    aggregate(
      zip_with(col(a), col(b), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private[llm] def dotSql(a: String, b: String): String =
    (1 to 64).map(i =>
      s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")

  /** Embeddings with a precomputed L2 norm (same fold as [[dotExpr]]). */
  /** Note: a zero vector has nrm 0 and an UNDEFINED cosine — the
    * float cosine paths divide by nrm products, so corpora that may
    * contain zero embeddings should filter `nrm > 0` before search
    * (the int8 path pins that case to cosine 0 explicitly; the
    * fixture generator never emits zero vectors). */
  private[llm] def withNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
        sqrt(dotExpr("embedding", "embedding")).as("nrm"))

  private[llm] val withNormSql: String = {
    val sq = (1 to 64).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) * CAST(embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    s"SELECT vec_id, label, embedding, sqrt($sq) AS nrm FROM embeddings"
  }

  /** Candidate-side cell cap for [[dedupEmbed]] — the same
    * deterministic bound the LSH band buckets and the link-prediction
    * wedge carry: with a FIXED coarse-quantizer label set, cell sizes
    * grow linearly with the corpus, so within-cell all-pairs is
    * quadratic (measured 7.6× at 5× data in the r8 ratio pass —
    * cells 218 → 1090). Each cell's candidate side keeps only its
    * [[DedupEmbedCellCap]] md5-ordered vectors, so every vector
    * compares against ≤K cellmates — cost n × min(cell, K), linear in
    * the corpus. A production deployment instead re-trains the coarse
    * quantizer so nlist grows with n and cells stay bounded (the
    * [[Similarity]] trained-IVF posture); the cap is the safety valve
    * for the fixed-nlist window between re-trains. Inert at registry
    * SFs (max cell 218 < 512 — LlmSpec pins capped ≡ uncapped); NN
    * for a vector whose true neighbor falls outside a saturated
    * cell's sample degrades to the best of the K-sample — the
    * standard sampling estimator, deterministic in both engines. */
  private[graft] val DedupEmbedCellCap = 512

  /** Embedding-cosine near-dup: nearest neighbor per vector *within
    * its coarse cluster* (`label`) — the IVF pattern: partition by a
    * coarse quantizer, pairwise only inside a cell. Cost is
    * Σ cell × min(cell, [[DedupEmbedCellCap]]), never n²: on the
    * driver when the embeddings fit the broadcast threshold, else in a
    * join that shuffles on label ([[dedupEmbedOn]]). */
  def dedupEmbed(spark: SparkSession, dir: String): DataFrame =
    dedupEmbedCapped(spark, dir, DedupEmbedCellCap)

  private[graft] def dedupEmbedCapped(spark: SparkSession, dir: String,
                                      cap: Int): DataFrame =
    dedupEmbedOn(Tables.embeddings(spark, dir), cap)

  /** Frame-generic core of [[dedupEmbed]] — the spec seam (synthetic
    * corpora exercise the cap/recall trade the fixture cannot): per
    * (vec_id, label, embedding) row, the nearest capped cell-mate,
    * sorted by vec_id.
    *
    * Path choice ([[graft.core.Held]]): an embedding frame that fits
    * the broadcast threshold, with plain id and label types
    * ([[graft.core.Held.plainKey]]), is HELD ON THE DRIVER
    * ([[embedHeld]]); any other runs the distributed cell join
    * ([[embedDistributed]]). Both return the same rows under the same
    * schema. */
  private[graft] def dedupEmbedOn(e: DataFrame, cap: Int): DataFrame =
    if (Seq("vec_id", "label").forall(c =>
          Held.plainKey(e.schema(c).dataType)) &&
        Held.fits(e)) embedHeld(e, cap)
    else embedDistributed(e, cap)

  /** The held embedding path. Scale shape: one collect job reads the
    * vectors with their cap keys (n rows, at most the broadcast
    * threshold); the driver then scores n × min(cell, cap) pairs
    * across its cores with [[graft.functions.CosineSimilarity.of]] and
    * returns a local relation, with no shuffle and no generated code
    * past the scan. It keeps [[embedDistributed]]'s semantics:
    *  - each cell's candidates are its first `cap` rows by
    *    (md5('cap:' ‖ label ‖ ':' ‖ vec_id), vec_id), the window's own
    *    ordering, with the key computed by Spark in the collect;
    *  - the nearest is the highest cosine under Spark's double ordering
    *    (NaN first, −0.0 = 0.0, null last), ties to the lower nn_id;
    *  - a vector never pairs with its own id, duplicated ids merge into
    *    one row, and a null label or id yields nothing;
    *  - a null embedding element reads as 0, as in an unsafe array. */
  private def embedHeld(e: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
    import org.apache.spark.sql.types.DoubleType
    import scala.jdk.CollectionConverters._
    val Seq(idF, labelF, vecF) = Seq("vec_id", "label", "embedding").map(e.schema(_))
    val toId = CatalystTypeConverters.createToCatalystConverter(idF.dataType)
    val toLabel = CatalystTypeConverters.createToCatalystConverter(labelF.dataType)
    val toIdOut = CatalystTypeConverters.createToScalaConverter(idF.dataType)
    val toLabelOut = CatalystTypeConverters.createToScalaConverter(labelF.dataType)
    val idOrd = TypeUtils.getInterpretedOrdering(idF.dataType)
    final case class V(id: Any, label: Any, vec: UnsafeArrayData, capKey: String)
    val vs = e.select(col("vec_id"), col("label"), col("embedding"),
        md5(concat_ws(":", lit("cap"), col("label"), col("vec_id"))))
      .collect().map { r =>
        V(toId(r.get(0)), toLabel(r.get(1)),
          if (r.isNullAt(2)) null
          else UnsafeArrayData.fromPrimitiveArray(r.getSeq[Any](2)
            .map(x => if (x == null) 0f else x.asInstanceOf[Float]).toArray),
          r.getString(3))
      }
    // ascending ids, nulls first (a null id still takes a cap slot)
    def idCmp(x: Any, y: Any): Int =
      if (x == null) { if (y == null) 0 else -1 }
      else if (y == null) 1 else idOrd.compare(x, y)
    val cells = vs.filter(_.label != null).groupBy(_.label).map { case (l, m) =>
      l -> m.sortWith { (x, y) =>
        val c = x.capKey.compareTo(y.capKey)
        if (c != 0) c < 0 else idCmp(x.id, y.id) < 0
      }.take(cap).filter(_.id != null)
    }
    // < 0 when (cosine c, id n) ranks before (d, m): cosine descending
    // under Spark's ordering, null (`cNull`) last, then the lower id
    def rank(cNull: Boolean, c: Double, n: Any, dNull: Boolean, d: Double, m: Any): Int = {
      val k =
        if (cNull) { if (dNull) 0 else 1 }
        else if (dNull) -1
        else SQLOrderingUtil.compareDoubles(d, c)
      if (k != 0) k else idOrd.compare(n, m)
    }
    // a vector's nearest: candidate id, the probe's label, cosine (null
    // when either vector is null)
    final case class Nn(nn: Any, label: Any, cosine: java.lang.Double) {
      def before(o: Nn): Boolean = rank(cosine == null, if (cosine == null) 0.0 else cosine,
        nn, o.cosine == null, if (o.cosine == null) 0.0 else o.cosine, o.nn) < 0
    }
    def nearest(v: V): Option[Nn] = {
      val cands = cells(v.label)
      var (top, topNull, topCos) = (-1, true, 0.0)
      var i = 0
      while (i < cands.length) {
        val c = cands(i)
        if (c.id != v.id) {
          val isNull = v.vec == null || c.vec == null
          val cos = if (isNull) 0.0 else graft.functions.CosineSimilarity.of(v.vec, c.vec)
          if (top < 0 || rank(isNull, cos, c.id, topNull, topCos, cands(top).id) < 0) {
            top = i; topNull = isNull; topCos = cos
          }
        }
        i += 1
      }
      if (top < 0) None
      else Some(Nn(cands(top).id, v.label, if (topNull) null else topCos))
    }
    // probes score in parallel across the driver's cores; duplicated
    // ids then merge in one pass
    val best = scala.collection.mutable.HashMap.empty[Any, Nn]
    vs.filter(v => v.id != null && v.label != null).par
      .map(v => v.id -> nearest(v)).seq.foreach {
        case (id, Some(n)) if best.get(id).forall(n.before) => best(id) = n
        case _ => ()
      }
    val rows = best.toSeq.sortWith((x, y) => idOrd.lt(x._1, y._1)).map {
      case (id, n) => Row(toIdOut(id), toIdOut(n.nn), toLabelOut(n.label), n.cosine)
    }
    // the distributed path's schema; the flag is projected by Spark,
    // folded into the local relation with no job
    e.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
        idF, idF.copy(name = "nn_id"), labelF,
        StructField("cosine", DoubleType, vecF.nullable))))
      .select(col("vec_id"), col("nn_id"), col("label"), col("cosine"),
        (col("cosine") >= 0.9).as("is_near_dup"))
  }

  /** The distributed embedding path. Scale shape: the probe side is
    * repartitioned on label, the capped candidate side ranked by a
    * label window, the within-cell pairs scored by `graft_cosine` in
    * the join, and a vec_id window keeps each vector's nearest; cost is
    * Σ cell × min(cell, cap) across the session width, plus a shuffle
    * of the scored pairs. */
  private def embedDistributed(e: DataFrame, cap: Int): DataFrame = {
    // r16 (§2.2): the probe leg streamed the raw scan — one split on a
    // small-file corpus — so the within-cell cosine join ran
    // single-threaded. An explicit-width repartition on label (conf
    // value, AQE-coalesce-exempt) co-partitions it with the capped
    // leg's window exchange, so the join adds no exchange and the
    // cosine work spreads across the session width.
    val a = e.select(col("vec_id").as("va"), col("label"),
      col("embedding").as("ea"))
      .repartition(
        e.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("label"))
    val wc = Window.partitionBy(col("label2")).orderBy(
      md5(concat_ws(":", lit("cap"), col("label2"), col("vb"))), col("vb"))
    val b = e.select(col("vec_id").as("vb"), col("label").as("label2"),
      col("embedding").as("eb"))
      .withColumn("rk", row_number().over(wc))
      .where(col("rk") <= cap).drop("rk")
    val w = Window.partitionBy(col("va")).orderBy(col("cosine").desc, col("vb"))
    a.join(b, col("label") === col("label2") && col("va") =!= col("vb"))
      .select(col("va"), col("vb"), col("label"),
        // fused native kernel — bit-identical to the fold + oracle chain
        expr("graft_cosine(ea, eb)").as("cosine"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("va").as("vec_id"), col("vb").as("nn_id"), col("label"),
        col("cosine"), (col("cosine") >= 0.9).as("is_near_dup"))
      .orderBy(col("vec_id"))
  }

  val dedupEmbedSql: String =
    s"""WITH e AS ($withNormSql),
       |bcap AS (
       |  SELECT vec_id, label, embedding, nrm FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY label
       |      ORDER BY md5('cap:' || CAST(label AS VARCHAR) || ':' ||
       |        CAST(vec_id AS VARCHAR)), vec_id) AS rk
       |    FROM e) WHERE rk <= $DedupEmbedCellCap),
       |pairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb, a.label,
       |    (${dotSql("a.embedding", "b.embedding")}) / (a.nrm * b.nrm) AS cosine
       |  FROM e a JOIN bcap b ON a.label = b.label AND a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT va, vb, label, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY cosine DESC, vb) AS rn
       |  FROM pairs)
       |SELECT va AS vec_id, vb AS nn_id, label, cosine,
       |  cosine >= 0.9 AS is_near_dup
       |FROM ranked WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  /** [[bandRecall]] sample rule: ground truth is exact all-pairs
    * Jaccard over docs ≡ 0 (mod [[RecallSampleMod]]) — the bounded
    * audit set (all-pairs is affordable ON A SAMPLE; the sample size
    * scales as corpus/mod, so the pair count is (corpus/mod)²/2 — mod
    * is chosen so that stays audit-sized at any sf). */
  private val RecallSampleMod = 25L

  /** Measured candidate recall of the MinHash bands — the eval that
    * justifies the LSH rung: over a deterministic doc sample, ALL
    * true near-dup pairs (exact trigram Jaccard ≥ 0.5, computed via
    * the inverted-index gram join — never doc × doc) are compared
    * against the band-bucket candidate pairs restricted to the same
    * sample; one row reports sample size, true/candidate/hit counts
    * and recall in ppm (1e6 by convention when the sample holds no
    * true pair). [[dedupRungAgreement]] audits the estimator ON the
    * candidates; this audits what the bands MISS — the two
    * evaluations bracket the ladder from both sides.
    *
    * Scale shape: sample-scoped gram inverted index (cost ∝ sampled
    * gram co-occurrence), sample-scoped band self-join, two tiny
    * distinct-pair frames joined, ONE scalar row out. */
  def bandRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .where(col("doc_id") % RecallSampleMod === 0)
    val tg = trigramsOf(docs, "doc_id", "text", dedupe = true).cache()
    val sizes = tg.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val ga = tg.select(col("doc_id").as("doc_a"), col("g"))
    val gb = tg.select(col("doc_id").as("doc_b"), col("g"))
    // r15 (§2.4): truePairs feeds BOTH the n_true aggregate and the
    // n_hit semi-join; uncached, each consumer re-ran the gram
    // inverted-index join and the three joins above it (AQE's
    // exchange reuse shares the shuffle files, but all post-exchange
    // work — the pair aggregate, the size joins, the filter — re-ran
    // per consumer). Caching the tiny surviving pair set runs that
    // pipeline once (measured 2.35 s → 1.58 s at sf0.1, neutral at
    // x10; drained with the query). Caching `cand`/`bnd` as well was
    // MEASURED SLOWER at x10 (2.10 → 3.12 s): their exchanges are
    // already runtime-shared, so those caches only added
    // materialization cost — left uncached.
    val truePairs = ga.join(gb,
        Seq("g")).where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      // jaccard >= 0.5 in cross-multiplied integers
      .where(col("common") * 2 >= col("n_a") + col("n_b") - col("common"))
      .select(col("doc_a"), col("doc_b"))
      .cache()
    val cand = minhashCandidates(docs, "doc_id", "text")
    val nSample = docs.agg(count(lit(1)).as("n_sample"))
    val nTrue = truePairs.agg(count(lit(1)).as("n_true"))
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    val nHit = truePairs.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nSample.crossJoin(broadcast(nTrue)).crossJoin(broadcast(nCand))
      .crossJoin(broadcast(nHit))
      .select(col("n_sample"), col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_true") === 0, 1000000L)
          .otherwise(expr("(1000000L * n_hit) div n_true"))
          .as("recall_ppm"))
  }

  val bandRecallSql: String =
    s"""WITH docs_s AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % $RecallSampleMod = 0),
       |tg AS (
       |  SELECT DISTINCT doc_id,
       |    unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
       |            for i in range(0, greatest(len(t)-2, 1))]) AS g
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
       |        FROM docs_s)),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
       |          FROM tg GROUP BY doc_id),
       |truep AS (
       |  SELECT i.doc_a, i.doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(COUNT(*) AS BIGINT) AS common
       |    FROM tg a JOIN tg b ON a.g = b.g AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2) i
       |  JOIN sizes x ON x.doc_id = i.doc_a
       |  JOIN sizes y ON y.doc_id = i.doc_b
       |  WHERE i.common * 2 >= x.n + y.n - i.common),
       |mh AS ($signaturesSql),
       |bands AS ($bandsSql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id),
       |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sample FROM docs_s),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truep),
       |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
       |nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
       |       FROM truep t SEMI JOIN cand c
       |         ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
       |SELECT ns.n_sample, nt.n_true, nc.n_cand, nh.n_hit,
       |  CASE WHEN nt.n_true = 0 THEN 1000000
       |    ELSE (1000000 * nh.n_hit) // nt.n_true END AS recall_ppm
       |FROM ns, nt, nc, nh""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dedup_exact" -> dedupExact,
    "llm_dedup_fuzzy" -> dedupFuzzy,
    "llm_doc_overlap" -> docOverlap,
    "llm_incremental_dedup" -> incrementalDedup,
    "llm_dedup_cdf" -> dedupCdf,
    "llm_dedup_index" -> dedupIndex,
    "llm_dedup_jaccard" -> dedupJaccard,
    "llm_dedup_jaccard_est" -> dedupJaccardEst,
    "llm_dedup_edit_distance" -> dedupEditDistance,
    "llm_dedup_clusters" -> dedupClusters,
    "llm_dedup_cluster_stats" -> dedupClusterStats,
    "llm_dedup_apply" -> dedupApply,
    "llm_dedup_simhash" -> dedupSimhash,
    "llm_dedup_simhash_nn" -> dedupSimhashNn,
    "llm_dedup_embed" -> dedupEmbed,
    "llm_dedup_containment" -> dedupContainment,
    "llm_dedup_threshold_hist" -> dedupThresholdHist,
    "llm_dedup_rung_agreement" -> dedupRungAgreement,
    "llm_dedup_band_recall" -> bandRecall,
  )

  val oracleSql: Map[String, String] = Map(
    "llm_dedup_exact" -> dedupExactSql,
    "llm_dedup_fuzzy" -> dedupFuzzySql,
    "llm_doc_overlap" -> docOverlapSql,
    "llm_incremental_dedup" -> incrementalDedupSql,
    // IDENTICAL oracle by design: the CDF-driven increment must equal
    // the declarative mod-rule split row for row
    "llm_dedup_cdf" -> incrementalDedupSql,
    // IDENTICAL oracle again: the persisted-index path must lose
    // nothing vs recomputing every signature (same verdict algebra)
    "llm_dedup_index" -> incrementalDedupSql,
    "llm_dedup_jaccard" -> dedupJaccardSql,
    "llm_dedup_jaccard_est" -> dedupJaccardEstSql,
    "llm_dedup_edit_distance" -> dedupEditDistanceSql,
    "llm_dedup_clusters" -> dedupClustersSql,
    "llm_dedup_cluster_stats" -> dedupClusterStatsSql,
    "llm_dedup_apply" -> dedupApplySql,
    "llm_dedup_simhash" -> dedupSimhashSql,
    "llm_dedup_simhash_nn" -> dedupSimhashNnSql,
    "llm_dedup_embed" -> dedupEmbedSql,
    "llm_dedup_containment" -> dedupContainmentSql,
    "llm_dedup_threshold_hist" -> dedupThresholdHistSql,
    "llm_dedup_rung_agreement" -> dedupRungAgreementSql,
    "llm_dedup_band_recall" -> bandRecallSql,
  )
}
