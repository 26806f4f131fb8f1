package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Caches, Tables}

/** Similarity search + multimodal-column operators (SURVEY.md §2B
  * `llm_sim_search` / `llm_multimodal`).
  *
  * Vector math rule: dot products and norms are fixed left-associative
  * 64-term chains of float→double casts, multiplies and adds — the
  * same IEEE sequence in Spark and DuckDB, so cosines (and the ranks
  * derived from them) are bit-identical and safely hashable.
  *
  * Scale design: brute-force top-k is the correctness baseline (cost
  * |Q|·n — fine for a bounded query set). The scale path is the IVF
  * pattern in [[Dedup.dedupEmbed]]: bucket by a coarse quantizer
  * (label) and search within the cell, turning n² into Σ cell². An
  * LSH alternative (random-hyperplane sign bits) is the same plan as
  * [[Dedup.dedupSimhash]] over vectors.
  */
object Similarity {

  /** Brute-force cosine top-5 neighbors for the first 10 vectors.
    * The per-query candidate stream is a broadcast-able small side
    * (queries) against the full embedding scan — the planner keeps the
    * big side unshuffled. */
  def simSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = Dedup.withNorm(spark, dir)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("ea"),
        col("nrm").as("na"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (Dedup.dotExpr("ea", "eb") / (col("na") * col("nb"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val simSearchSql: String =
    s"""WITH e AS (${Dedup.withNormSql}),
       |q AS (SELECT vec_id AS query_id, embedding AS ea, nrm AS na
       |      FROM e WHERE vec_id < 10),
       |pairs AS (
       |  SELECT q.query_id, c.vec_id AS cand_id,
       |    (${Dedup.dotSql("q.ea", "c.embedding")}) / (q.na * c.nrm) AS cosine
       |  FROM q JOIN e c ON q.query_id <> c.vec_id),
       |ranked AS (
       |  SELECT query_id, cand_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cosine DESC, cand_id) AS INT) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, cand_id, cosine
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Hard-negative mining — the contrastive-training data prep
    * (retrieval / embedding fine-tuning needs, per anchor, the most
    * similar examples of a DIFFERENT class): for each query vector the
    * top-5 highest-cosine candidates whose label differs. Same
    * broadcast-queries × full-scan shape as [[simSearch]] — the label
    * inequality rides the join predicate so mismatched pairs never
    * materialize; at 100 TB the scale path is identical to the ANN
    * ladder (IVF/LSH shortlist, then this label-filtered re-rank). */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = Dedup.withNorm(spark, dir)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("ea"), col("nrm").as("na"))
    val c = e.select(col("vec_id").as("cand_id"), col("label").as("c_label"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(q).join(c, col("q_label") =!= col("c_label"))
      .select(col("query_id"), col("q_label"), col("cand_id"), col("c_label"),
        (Dedup.dotExpr("ea", "eb") / (col("na") * col("nb"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("q_label"), col("rank"), col("cand_id"),
        col("c_label"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val hardNegativesSql: String =
    s"""WITH e AS (${Dedup.withNormSql}),
       |q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS ea,
       |             nrm AS na
       |      FROM e WHERE vec_id < 10),
       |pairs AS (
       |  SELECT q.query_id, q.q_label, c.vec_id AS cand_id,
       |    c.label AS c_label,
       |    (${Dedup.dotSql("q.ea", "c.embedding")}) / (q.na * c.nrm) AS cosine
       |  FROM q JOIN e c ON q.q_label <> c.label),
       |ranked AS (
       |  SELECT query_id, q_label, cand_id, c_label, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cosine DESC, cand_id) AS INT) AS rank
       |  FROM pairs)
       |SELECT query_id, q_label, rank, cand_id, c_label, cosine
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Reciprocal-rank fusion of two retrieval rankings — the standard
    * ensembling step when a retrieval stack runs several scorers
    * (lexical + dense, or here cosine + L2): each candidate's fused
    * score is Σ 1/(60+rank_i) over the rankings that surfaced it in
    * their top-10, and the fused top-5 is re-ranked on that. Both
    * rankings come from ONE pair pass (dot product computed once; two
    * row_numbers over the same partition, different orders), so fusion
    * adds zero pair-join cost — the shape that matters when the pair
    * pass is the expensive part. RRF terms are 1.0/(60+rank) over INT
    * ranks and the sum has a fixed two-term order — deterministic
    * doubles in both engines. */
  def rankFusion(spark: SparkSession, dir: String): DataFrame = {
    val e = Dedup.withNorm(spark, dir)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("ea"),
        col("nrm").as("na"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val pairs = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .withColumn("dot", Dedup.dotExpr("ea", "eb"))
      .select(col("query_id"), col("cand_id"),
        (col("dot") / (col("na") * col("nb"))).as("cosine"),
        ((col("na") * col("na") + col("nb") * col("nb")) -
          (lit(2.0) * col("dot"))).as("l2sq"))
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    val wL = Window.partitionBy(col("query_id"))
      .orderBy(col("l2sq").asc, col("cand_id"))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("cand_id"))
    pairs
      .withColumn("rk_cos", row_number().over(wC))
      .withColumn("rk_l2", row_number().over(wL))
      .where(col("rk_cos") <= 10 || col("rk_l2") <= 10)
      .withColumn("rrf",
        when(col("rk_cos") <= 10, lit(1.0) / (lit(60) + col("rk_cos")))
          .otherwise(lit(0.0)) +
        when(col("rk_l2") <= 10, lit(1.0) / (lit(60) + col("rk_l2")))
          .otherwise(lit(0.0)))
      .withColumn("rank", row_number().over(wF))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("rrf"),
        col("rk_cos"), col("rk_l2"))
      .orderBy(col("query_id"), col("rank"))
  }

  val rankFusionSql: String =
    s"""WITH e AS (${Dedup.withNormSql}),
       |q AS (SELECT vec_id AS query_id, embedding AS ea, nrm AS na
       |      FROM e WHERE vec_id < 10),
       |p AS (
       |  SELECT q.query_id, c.vec_id AS cand_id,
       |    (${Dedup.dotSql("q.ea", "c.embedding")}) AS dot,
       |    q.na, c.nrm AS nb
       |  FROM q JOIN e c ON q.query_id <> c.vec_id),
       |s AS (
       |  SELECT query_id, cand_id, dot / (na * nb) AS cosine,
       |    (na * na + nb * nb) - (2.0 * dot) AS l2sq
       |  FROM p),
       |r AS (
       |  SELECT query_id, cand_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, cand_id) AS INT) AS rk_cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY l2sq ASC, cand_id) AS INT) AS rk_l2
       |  FROM s),
       |f AS (
       |  SELECT query_id, cand_id, rk_cos, rk_l2,
       |    (CASE WHEN rk_cos <= 10
       |          THEN CAST(1.0 AS DOUBLE) / (60 + rk_cos)
       |          ELSE CAST(0.0 AS DOUBLE) END) +
       |    (CASE WHEN rk_l2 <= 10
       |          THEN CAST(1.0 AS DOUBLE) / (60 + rk_l2)
       |          ELSE CAST(0.0 AS DOUBLE) END) AS rrf
       |  FROM r WHERE rk_cos <= 10 OR rk_l2 <= 10),
       |ranked AS (
       |  SELECT query_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rrf DESC, cand_id) AS INT) AS rank,
       |    cand_id, rrf, rk_cos, rk_l2
       |  FROM f)
       |SELECT query_id, rank, cand_id, rrf, rk_cos, rk_l2
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Typed multimodal columns: join text docs to their embedding
    * vectors (vec_id = doc_id), emit vector metadata (dim, L2 norm)
    * and the unit-normalized vector posexploded to one scalar row per
    * dimension — per-element IEEE division, identical in both engines.
    * The output is scalar-only by design: the driver's hash gate
    * cannot factorize array columns, so vector payloads leave the
    * query as (doc_id, dim_idx, unit_val) rows. */
  def multimodal(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val e = Dedup.withNorm(spark, dir)
    d.join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("label"),
        size(col("embedding")).as("dim"), col("nrm"),
        posexplode(col("embedding")).as(Seq("dim_idx", "component")))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("label"),
        col("dim"), col("nrm"), col("dim_idx"),
        (col("component").cast("double") / col("nrm")).as("unit_val"))
      .orderBy(col("doc_id"), col("dim_idx"))
  }

  val multimodalSql: String =
    s"""WITH e AS (${Dedup.withNormSql})
       |SELECT doc_id, lang, n_chars, label,
       |  CAST(LEN(embedding) AS INT) AS dim,
       |  nrm,
       |  CAST(UNNEST(RANGE(LEN(embedding))) AS INT) AS dim_idx,
       |  CAST(UNNEST(embedding) AS DOUBLE) / nrm AS unit_val
       |FROM documents JOIN e ON doc_id = vec_id
       |ORDER BY doc_id, dim_idx""".stripMargin

  /** Opaque-binary multimodal plumbing: media payload as a binary
    * column with typed metadata. The corpus has no real media, so the
    * payload is the UTF-8 text bytes; the *pipeline shape* — binary
    * column + byte length + content digest + hex head — is what a
    * decode/feature-extract stage consumes (see
    * [[graft.llm.MultimodalPipeline]] for the mapPartitions stage with
    * a stubbed decoder). */
  def multimodalBinary(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("digest"),
        substring(hex(col("payload")), 1, 16).as("head_hex"))
      .orderBy(col("doc_id"))

  val multimodalBinarySql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |  md5(text) AS digest,
      |  substr(upper(hex(encode(text))), 1, 16) AS head_hex
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** [[simSearch]] with the fused native kernel
    * [[graft.functions.CosineSimilarity]] instead of the
    * zip_with/aggregate folds: one loop per pair computes dot and both
    * norms, zero intermediate arrays, whole-stage codegen. Shares
    * simSearch's oracle — the sequential fold order makes the native,
    * built-in, and DuckDB cosines bit-identical. */
  def simSearchNative(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("ea"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("eb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        expr("graft_cosine(ea, eb)").as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  // -------- LSH-bucketed ANN (the third rung: brute force → IVF → LSH)

  /** 8 deterministic random-hyperplane normals (64-dim), generated by
    * a fixed LCG so the Spark expressions and the oracle SQL embed the
    * *same literals* — both engines parse e.g. -0.417 to the identical
    * nearest double, keeping dot signs bit-consistent. */
  private[llm] val planes: Seq[Seq[Double]] =
    (0 until 8).map(k => (0 until 64).map(i =>
      (((k * 131 + i * 7919) % 1999) - 999) / 1000.0))

  private def bucketExpr: Column = {
    val signs = planes.zipWithIndex.map { case (p, k) =>
      val dot = aggregate(
        zip_with(col("embedding"), array(p.map(lit): _*),
          (x, y) => x.cast("double") * y),
        lit(0.0), (acc, v) => acc + v)
      when(dot >= 0.0, lit(1 << k)).otherwise(lit(0))
    }
    signs.reduce(_ + _)
  }

  private def bucketSql: String =
    planes.zipWithIndex.map { case (p, k) =>
      val dot = p.zipWithIndex
        .map { case (w, i) => s"CAST(embedding[${i + 1}] AS DOUBLE) * ($w)" }
        .mkString(" + ")
      s"(CASE WHEN $dot >= 0.0 THEN ${1 << k} ELSE 0 END)"
    }.mkString(" + ")

  /** ANN via random-hyperplane LSH: bucket every vector by its 8 dot
    * signs (256 cells), then search only the query's own cell — the
    * data-independent counterpart of the IVF/label path in
    * [[Dedup.dedupEmbed]]. Candidate cost is n/256 per query instead
    * of n; recall is probabilistic (angle-close vectors agree on most
    * signs), which is the standard ANN trade. */
  def simSearchLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), bucketExpr.as("bucket"))
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("ea"),
        col("bucket"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("eb"),
      col("bucket").as("bucket2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(q).join(c, col("bucket") === col("bucket2") &&
        col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("bucket"), col("cand_id"),
        expr("graft_cosine(ea, eb)").as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("bucket"), col("rank"), col("cand_id"),
        col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val simSearchLshSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |n AS (${Dedup.withNormSql}),
       |en AS (SELECT e.vec_id, e.embedding, e.bucket, n.nrm
       |       FROM e JOIN n ON e.vec_id = n.vec_id),
       |q AS (SELECT vec_id AS query_id, embedding AS ea, bucket, nrm AS na
       |      FROM en WHERE vec_id < 10),
       |pairs AS (
       |  SELECT q.query_id, q.bucket, c.vec_id AS cand_id,
       |    (${Dedup.dotSql("q.ea", "c.embedding")}) / (q.na * c.nrm) AS cosine
       |  FROM q JOIN en c ON q.bucket = c.bucket AND q.query_id <> c.vec_id),
       |ranked AS (
       |  SELECT query_id, bucket, cand_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cosine DESC, cand_id) AS INT) AS rank
       |  FROM pairs)
       |SELECT query_id, bucket, rank, cand_id, cosine
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** Multi-probe LSH ANN — [[simSearchLsh]] with each query probing
    * its own bucket PLUS the 8 one-bit-flip neighbors (a vector near a
    * hyperplane lands on either side with ~equal probability, so the
    * flipped buckets hold most of the misses). Probes are EXPLODED to
    * rows so the candidate join stays an equi-join on bucket — an
    * OR/XOR join predicate would force a nested loop over the corpus.
    * Candidate cost rises 9× (still n·9/256 per query); recall rises
    * correspondingly (AnnRecallSpec measures the same trade on the
    * multi-table index: 0.74 → 1.00). Candidates cannot duplicate
    * across probes: a vector lives in exactly one bucket and the 9
    * probed buckets are distinct. */
  def simSearchLshProbe(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), bucketExpr.as("bucket"))
    val probes = array(lit(0) +: (0 until 8).map(k => lit(1 << k)): _*)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("ea"),
        explode(probes).as("flip"), col("bucket"))
      .select(col("query_id"), col("ea"),
        expr("int(bucket ^ flip)").as("probe_bucket"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("eb"),
      col("bucket").as("bucket2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(q).join(c, col("probe_bucket") === col("bucket2") &&
        col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        expr("graft_cosine(ea, eb)").as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val simSearchLshProbeSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |n AS (${Dedup.withNormSql}),
       |en AS (SELECT e.vec_id, e.embedding, e.bucket, n.nrm
       |       FROM e JOIN n ON e.vec_id = n.vec_id),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS ea, nrm AS na,
       |    xor(bucket, CAST(f AS INT)) AS probe_bucket
       |  FROM en, unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS u(f)
       |  WHERE vec_id < 10),
       |pairs AS (
       |  SELECT q.query_id, c.vec_id AS cand_id,
       |    (${Dedup.dotSql("q.ea", "c.embedding")}) / (q.na * c.nrm) AS cosine
       |  FROM q JOIN en c ON q.probe_bucket = c.bucket
       |                  AND q.query_id <> c.vec_id),
       |ranked AS (
       |  SELECT query_id, cand_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cosine DESC, cand_id) AS INT) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, cand_id, cosine
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  // -------- IVF ANN (coarse quantizer + nprobe — the 4th rung)

  /** ANN via an inverted-file (IVF) index: assign every vector to its
    * nearest of 16 coarse centroids, then answer each query by scanning
    * only its `nprobe = 2` closest cells. Candidate cost is
    * ~nprobe·n/16 per query; the residual error is vectors whose true
    * neighbors live in unprobed cells — the standard IVF recall knob
    * (raise nprobe → recall→1, cost→n).
    *
    * The 16 "centroids" here are seed vectors (vec_id < 16) rather than
    * a k-means codebook: the oracle must reproduce training
    * deterministically, and what the query proves is the *plan shape* —
    * a trained codebook drops in by replacing `cent` without touching
    * the assignment, probe, or search stages.
    *
    * Scale shape: assignment cross-joins SCALARS only (vec_id,
    * cent_id, cosine) against the 16-row broadcast codebook and
    * reduces map-side (max(struct)) — embeddings never ride the
    * shuffle; the search join is per-cell equi-colocated, exactly the
    * posting-list scan a real IVF index does. */
  /** The seed codebook: the first 16 vectors, the deterministic
    * starting point both the seed-IVF query and the Lloyd training
    * share. */
  private def seedCentroids(e: DataFrame): DataFrame =
    e.where(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))

  /** Cell assignment: argmax cosine over the broadcast codebook, ties
    * to the smallest cent_id (max(struct(cos, -cent_id)) —
    * partial-aggregable, so the 16× fan-out never crosses a shuffle). */
  private def assignCells(e: DataFrame, cent: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cent_id"),
        expr("graft_cosine(embedding, ce)").as("ccos"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("ccos"), (-col("cent_id")).as("neg"))).as("best"))
      .select(col("vec_id"), (-col("best.neg")).as("cell"),
        col("best.ccos").as("ccos"))

  /** Probe selection: each query's 2 closest cells (160 scalar rows —
    * window ok). */
  private def probeCells(e: DataFrame, cent: DataFrame): DataFrame = {
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("cent_id"))
    e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("qe"), col("cent_id"),
        expr("graft_cosine(qe, ce)").as("pcos"))
      .withColumn("prn", row_number().over(wp))
      .where(col("prn") <= 2)
      .select(col("query_id"), col("qe"), col("cent_id").as("cell"))
  }

  /** probe + per-cell search stages shared by the seed and trained IVF
    * queries — only the codebook differs. */
  private def ivfSearch(e: DataFrame, cent: DataFrame): DataFrame = {
    val cells = assignCells(e, cent).select(col("vec_id"), col("cell"))
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
    val probes = probeCells(e, cent)
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(probes).join(cells, "cell")
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cell"), col("vec_id").as("cand_id"),
        expr("graft_cosine(qe, embedding)").as("cosine"))
      .withColumn("rank", row_number().over(wr))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cell"),
        col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  def simSearchIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    ivfSearch(e, seedCentroids(e))
  }

  val simSearchIvfSql: String =
    s"""WITH n AS (${Dedup.withNormSql}),
       |cent AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn
       |         FROM n WHERE vec_id < 16),
       |asg AS (
       |  SELECT v.vec_id, c.cent_id,
       |    (${Dedup.dotSql("v.embedding", "c.ce")}) / (v.nrm * c.cn) AS ccos
       |  FROM n v CROSS JOIN cent c),
       |cells AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cent_id) AS arn
       |    FROM asg) WHERE arn = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
       |      FROM n WHERE vec_id < 10),
       |probe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY (${Dedup.dotSql("q.qe", "c.ce")}) / (q.qn * c.cn) DESC,
       |                 c.cent_id) AS prn
       |    FROM q CROSS JOIN cent c) WHERE prn <= 2),
       |pairs AS (
       |  SELECT p.query_id, cl.vec_id AS cand_id, p.cell,
       |    (${Dedup.dotSql("q.qe", "v.embedding")}) / (q.qn * v.nrm) AS cosine
       |  FROM probe p
       |  JOIN cells cl ON cl.cell = p.cell
       |  JOIN q ON q.query_id = p.query_id
       |  JOIN n v ON v.vec_id = cl.vec_id
       |  WHERE cl.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, cand_id, cell, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cosine DESC, cand_id) AS INT) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, cand_id, cell, cosine
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  // -------- trained IVF codebook (in-query Lloyd, cross-engine exact)

  /** Centroid components are snapped to a 1/1024 grid before the mean:
    * the per-cell sums become exact BIGINT arithmetic, which is
    * ORDER-FREE — the one property a plain AVG(double) lacks (its
    * result depends on partition/merge order, so Spark and DuckDB
    * would drift in the last ulp and assignment ties would flip).
    * 1024 = 2^10, so the v·2^10 multiply is IEEE-exact; the only
    * rounding steps (floor(+0.5), one double division by n·1024, one
    * float cast) are each correctly-rounded single operations —
    * identical in both engines. */
  private val CentGrid = 1024
  private[graft] val IvfLloydRounds = 2

  /** One Lloyd round: reassign every vector to its nearest centroid,
    * then rebuild each centroid as the (grid-exact) element-wise mean
    * of its members; cells that lost all members keep their previous
    * centroid. Scale shape: assignment is the scalar broadcast
    * cross-join of [[assignCells]]; the mean is one (cell, dim)-keyed
    * partial-aggregable shuffle of scalars (posexplode before the
    * aggregate — dim count × corpus rows, the same volume a
    * distributed k-means step always reduces). */
  private def lloydRound(e: DataFrame, cent: DataFrame): DataFrame = {
    val means = assignCells(e, cent)
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(expr(
        s"""CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * $CentGrid + 0.5) AS BIGINT))
           |  AS DOUBLE) / CAST(COUNT(1) * $CentGrid AS DOUBLE)""".stripMargin)
        .as("m"))
      .groupBy(col("cell"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, m))), s -> CAST(s.m AS FLOAT))")
        .as("ne"))
    cent.join(means, col("cent_id") === col("cell"), "left")
      .select(col("cent_id"), coalesce(col("ne"), col("ce")).as("ce"))
  }

  /** [[simSearchIvf]] with a TRAINED codebook: the seed centroids
    * refined by [[IvfLloydRounds]] Lloyd iterations computed INSIDE
    * the query — deterministically enough that the DuckDB oracle
    * re-derives the identical codebook from the identical parquet and
    * the whole search stays hash-exact (see [[CentGrid]] for the
    * integer-exact centroid update that makes that possible). The
    * probe/search stages are [[ivfSearch]], unchanged — a trained
    * codebook is a drop-in `cent` replacement, as the seed variant's
    * scaladoc promised. At 100 TB the training runs once on a sample
    * and the codebook is staged/broadcast; in-query training here is
    * what keeps the oracle able to reproduce it. */
  private def lloydChain(e: DataFrame, rounds: Int): DataFrame =
    (1 to rounds).foldLeft(seedCentroids(e))((c, _) => lloydRound(e, c))

  /** The trained IVF codebook, ON THE FORMAT (r14 — VERDICT r13 #1:
    * it lived in a content-tagged staging dir): a txn-log table
    * maintained by [[advanceArtifactLog]] inside the shared
    * [[annLogRoot]] store — trained once on the corpus tip (= the
    * full corpus, so the oracle's independent re-derivation from the
    * same parquet is unchanged), advanced watermark-only when the
    * corpus count stays inside the growth policy, historied /
    * time-travelable / vacuumable like any table. Consumers read 16
    * rows and broadcast. */
  private def trainedCentroids(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TxnLog.read(spark, s"${annLogRoot(spark, dir)}/ivfcb")
      .select(col("cent_id"), col("ce"))

  def simSearchIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    ivfSearch(e, trainedCentroids(spark, dir))
  }

  // -------- nlist ∝ n retrain for the embedding near-dup rung (r12)

  /** Target members per IVF cell for the RETRAINED near-dup quantizer:
    * nlist = max(16, 2^ceil(log2(ceil(n / target)))) — the codebook
    * grows WITH the corpus so expected cell size stays ~[[
    * DedupEmbedRetrainTarget]] and the per-cell candidate cap stops
    * being the thing that silently bounds recall (VERDICT r11: at x10
    * the fixed-16-cell layout filled the 512 cap and recall, not cost,
    * degraded). Deterministic integer rule so the oracle re-derives
    * nlist from COUNT(*) alone. */
  private[graft] val DedupEmbedRetrainTarget = 256

  private[graft] def retrainNlist(n: Long): Int = {
    val want = math.max(1L,
      (n + DedupEmbedRetrainTarget - 1) / DedupEmbedRetrainTarget)
    val p =
      if (want <= 1) 1L else java.lang.Long.highestOneBit(want - 1) * 2
    math.max(16L, p).toInt
  }

  /** The size-derived codebook: first `nlist` vectors seed, refined by
    * the same grid-exact Lloyd rounds as [[trainedCentroids]] —
    * k-generic by construction (nothing in [[lloydRound]] knows 16). */
  private[graft] def retrainedCodebook(e: DataFrame, nlist: Int)
  : DataFrame =
    (1 to IvfLloydRounds).foldLeft(
      e.where(col("vec_id") < nlist)
        .select(col("vec_id").as("cent_id"), col("embedding").as("ce")))(
      (c, _) => lloydRound(e, c))

  /** Embedding near-dup on the RETRAINED quantizer — DataFrame-generic
    * core ([[dedupEmbedRetrained]] is the registry binding; specs feed
    * synthetic corpora): assign every vector to its trained cell, then
    * nearest neighbor within the cell under the same md5-ordered
    * candidate cap as [[Dedup.dedupEmbedCapped]]. Because nlist grew
    * with n, expected cell size ≈ [[DedupEmbedRetrainTarget]] < cap —
    * the cap is back to being a skew valve instead of a silent recall
    * ceiling. */
  private def nnWithinCells(e: DataFrame, cent: DataFrame, cap: Int)
  : DataFrame = {
    // r16 (§2.2): the corpus side arrives as a near-unsplittable scan
    // (one staged file ⇒ one split), so the |corpus| × nlist cosine
    // cross-join — the assignment's whole cost — ran single-threaded.
    // One explicit-width repartition on vec_id (conf value,
    // AQE-coalesce-exempt) spreads it; hash(vec_id) then satisfies
    // both the assignment groupBy and the cells join below, so
    // neither needs an exchange of its own.
    val eP = e.select(col("vec_id"), col("embedding"))
      .repartition(
        e.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("vec_id"))
    // cached like the LSH bands: both sides of the within-cell join
    // derive from the assignment, and Catalyst has no common-subplan
    // reuse — uncached, the codebook cross-join would run twice
    val cells = assignCells(eP, cent).select(col("vec_id"), col("cell"))
      .join(eP, "vec_id")
      .cache()
    val a = cells.select(col("vec_id").as("va"), col("cell"),
      col("embedding").as("ea"))
    val wc = Window.partitionBy(col("cell2")).orderBy(
      md5(concat_ws(":", lit("cap"), col("cell2"), col("vb"))), col("vb"))
    val b = cells.select(col("vec_id").as("vb"),
        col("cell").as("cell2"), col("embedding").as("eb"))
      .withColumn("rk", row_number().over(wc))
      .where(col("rk") <= cap).drop("rk")
    val w = Window.partitionBy(col("va"))
      .orderBy(col("cosine").desc, col("vb"))
    a.join(b, col("cell") === col("cell2") && col("va") =!= col("vb"))
      .select(col("va"), col("vb"), col("cell"),
        expr("graft_cosine(ea, eb)").as("cosine"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("va").as("vec_id"), col("vb").as("nn_id"), col("cell"),
        col("cosine"), (col("cosine") >= 0.9).as("is_near_dup"))
      .orderBy(col("vec_id"))
  }

  private[graft] def dedupEmbedRetrainedOn(e: DataFrame, nlist: Int,
                                           cap: Int): DataFrame = {
    nnWithinCells(e, retrainedCodebook(e, nlist), cap)
  }

  /** Registry binding: nlist from the corpus's own count, codebook
    * ON THE FORMAT (r14 — [[advanceCodebookLog]] inside the shared
    * [[annLogRoot]] store: train once, advance by the log, broadcast
    * everywhere). */
  def dedupEmbedRetrained(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // r14: the retrained codebook is a txn-log table in the shared
    // artifact store ([[annLogRoot]], maintained by
    // [[advanceCodebookLog]]) — backfilled at the corpus tip, so the
    // quantizer is identical to the old staged-dir derivation and the
    // oracle is untouched
    nnWithinCells(e,
      graft.sources.TxnLog.read(spark,
          s"${annLogRoot(spark, dir)}/dedupcb")
        .select(col("cent_id"), col("ce")),
      Dedup.DedupEmbedCellCap)
  }

  /** DuckDB twin: nlist re-derived from COUNT(*), the same seed rule,
    * the same two unrolled grid-exact Lloyd rounds, the same cap. */
  lazy val dedupEmbedRetrainedSql: String = {
    val nlistSql =
      s"""GREATEST(16, CAST(POWER(2, CEIL(LOG2(CAST(
         |  (COUNT(*) + ${DedupEmbedRetrainTarget - 1}) //
         |    $DedupEmbedRetrainTarget AS DOUBLE)))) AS BIGINT))"""
        .stripMargin
    s"""WITH n AS (${Dedup.withNormSql}),
       |nl AS (SELECT $nlistSql AS k FROM n),
       |cent0 AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn
       |          FROM n, nl WHERE vec_id < nl.k),
       |${lloydRoundSql("cent0", "rcent1")},
       |${lloydRoundSql("rcent1", "rcent2")},
       |fcell AS (
       |  ${argmaxCellSql("rcent2")}),
       |cells AS (
       |  SELECT f.vec_id, f.cell, e.embedding, e.nrm
       |  FROM fcell f JOIN n e ON f.vec_id = e.vec_id),
       |bcap AS (
       |  SELECT vec_id, cell, embedding, nrm FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
       |      ORDER BY md5('cap:' || CAST(cell AS VARCHAR) || ':' ||
       |        CAST(vec_id AS VARCHAR)), vec_id) AS rk
       |    FROM cells) WHERE rk <= ${Dedup.DedupEmbedCellCap}),
       |pairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb, a.cell,
       |    (${Dedup.dotSql("a.embedding", "b.embedding")}) /
       |      (a.nrm * b.nrm) AS cosine
       |  FROM cells a JOIN bcap b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT va, vb, cell, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY va
       |      ORDER BY cosine DESC, vb) AS rn
       |  FROM pairs)
       |SELECT va AS vec_id, vb AS nn_id, cell, cosine,
       |  cosine >= 0.9 AS is_near_dup
       |FROM ranked WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }

  // -------- codebook ON the table format, advanced by the CDF (r13)

  /** What one [[advanceCodebookLog]] call did: the committed codebook
    * version (None = already up to date, zero commits) and whether a
    * retrain actually ran — the observable LlmSpec pins (a watermark
    * advance with `retrained = false` provably planned no Lloyd job:
    * training lives only in the retrain branch). */
  final case class CodebookAdvance(committed: Option[Int],
                                   retrained: Boolean)

  /** Maintain the RETRAINED near-dup codebook as a txn-log TABLE
    * advanced by the corpus change feed (r13 — VERDICT r12 #3: ANN
    * codebooks lived in content-tagged parquet staging dirs, the one
    * recomputation surface left off the format; now they follow the
    * `llm_dedup_index` pattern). The nightly job:
    *
    *  - reads the corpus tip version and the codebook log's OWN
    *    consumption watermark (`appId` = "codebook"); already
    *    consumed → return immediately — an unchanged corpus re-runs
    *    with ZERO jobs of any kind;
    *  - derives the corpus row count from LOG STATS alone
    *    ([[graft.sources.TxnLog.fileFootprintSt]] — no data I/O; a
    *    stats-less table falls back to one count) and nlist from
    *    [[retrainNlist]];
    *  - nlist UNCHANGED (the CDF-accumulated count did not cross the
    *    next power of two): the standing codebook is still right-
    *    sized — commit ONLY the watermark ([[graft.sources.TxnLog
    *    .commitStreamBatch]] with no data actions), so the advance is
    *    recorded idempotently and NO training job is ever planned;
    *  - nlist CHANGED: retrain on the corpus tip and publish via the
    *    idempotent overwrite ([[graft.sources.TxnLog.writeOverwrite]]
    *    keyed (appId, corpus-version) — a re-delivered retrain is a
    *    zero-I/O no-op).
    *
    * Being a txn-log table, the codebook inherits the maintenance
    * surface: history shows every retrain, time travel reproduces any
    * night's quantizer, vacuum retires superseded codebooks. */
  def advanceCodebookLog(spark: SparkSession, corpusRoot: String,
                         cbRoot: String, appId: String = "codebook")
  : CodebookAdvance = {
    import graft.sources.TxnLog
    val tip = TxnLog.latestVersion(corpusRoot)
    require(tip >= 1, s"$corpusRoot has no committed version")
    new java.io.File(cbRoot).mkdirs()
    val cbTip = TxnLog.latestVersion(cbRoot)
    val consumed =
      if (cbTip < 1) 0L
      else TxnLog.stateAt(cbRoot, cbTip).txns.getOrElse(appId, 0L)
    if (consumed >= tip) return CodebookAdvance(None, retrained = false)
    // corpus row counts from LOG STATS alone (zero data I/O on tables
    // whose writes published stats; count fallback otherwise)
    def corpusRows(v: Int): Long = {
      val stV = TxnLog.stateAt(corpusRoot, v)
      TxnLog.fileFootprintSt(corpusRoot, stV, stV.live.toSeq.sorted)
        ._1.getOrElse(TxnLog.read(spark, corpusRoot, v).count())
    }
    val nlist = retrainNlist(corpusRows(tip))
    // the standing codebook's nlist re-derives from the corpus count
    // AT THE CONSUMED VERSION — the deterministic rule means no extra
    // state rides the codebook table (the codebook's own row count is
    // nlist MINUS seed gaps, so it cannot stand in for nlist)
    val kNow =
      if (cbTip < 1 || consumed < 1) -1
      else retrainNlist(corpusRows(consumed.toInt))
    if (nlist == kNow)
      CodebookAdvance(TxnLog.commitStreamBatch(cbRoot, appId, tip,
        Seq.empty, "cbup"), retrained = false)
    else {
      val cb = retrainedCodebook(TxnLog.read(spark, corpusRoot, tip),
        nlist)
      CodebookAdvance(Some(TxnLog.writeOverwrite(spark, cbRoot, cb,
        "cbup", f"cb$tip%08d", txn = Some((appId, tip.toLong)))),
        retrained = true)
    }
  }

  private val cbFixtures =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), String]

  /** Embedding near-dup whose quantizer lives ON the format: corpus =
    * a txn-log table (v1 = 90% base, v2 = +10% increment), codebook =
    * a txn-log table maintained by [[advanceCodebookLog]]. The
    * staging asserts the whole lifecycle: backfill retrains (consumes
    * corpus v1), the increment's advance does NOT retrain (the count
    * stays inside the nlist power-of-two bracket at every gate scale
    * — 450/500, 1 800/2 000, 18 000/20 000 all share a bracket) and
    * commits only the watermark with the codebook's live files
    * UNCHANGED, and a re-run is a zero-commit no-op. The query is the
    * [[dedupEmbedRetrained]] search over the corpus tip under the
    * LOGGED codebook; the oracle re-derives that codebook by training
    * on the base slice (`vec_id % 10 <> 0`) and assigning the full
    * corpus — proving the format-resident quantizer loses nothing. */
  def dedupCodebookLog(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = graft.core.Fixtures.memo(cbFixtures,
      (spark.sparkContext.applicationId, dir, "cblog|codebook_log_v1")) {
        graft.core.Fixtures.staged(s"$dir/embeddings.parquet", "cblog",
            codeTag = "codebook_log_v1") { target =>
          val e = Tables.embeddings(spark, dir)
          val corpus = s"$target/corpus"
          val cb = s"$target/codebook"
          Seq(corpus, cb).foreach(p => new java.io.File(p).mkdirs())
          assert(TxnLog.writeAppend(spark, corpus,
            e.where(col("vec_id") % 10 =!= 0), "stage", "base") == 1)
          val a1 = advanceCodebookLog(spark, corpus, cb)
          assert(a1.retrained && a1.committed.contains(1),
            s"backfill should retrain and commit v1: $a1")
          assert(TxnLog.writeAppend(spark, corpus,
            e.where(col("vec_id") % 10 === 0), "stage", "inc") == 2)
          val filesBefore = TxnLog.liveFiles(cb, 1).toSet
          val a2 = advanceCodebookLog(spark, corpus, cb)
          assert(!a2.retrained && a2.committed.contains(2),
            s"in-bracket advance must be watermark-only: $a2")
          assert(TxnLog.liveFiles(cb, 2).toSet == filesBefore,
            "watermark-only advance must not move codebook files")
          val a3 = advanceCodebookLog(spark, corpus, cb)
          assert(a3 == CodebookAdvance(None, retrained = false),
            s"up-to-date re-run must be a zero-commit no-op: $a3")
        }
      }
    nnWithinCells(TxnLog.read(spark, s"$root/corpus"),
      TxnLog.read(spark, s"$root/codebook")
        .select(col("cent_id"), col("ce")),
      Dedup.DedupEmbedCellCap)
  }

  /** DuckDB twin of [[dedupCodebookLog]]: nlist from the BASE slice's
    * count, seed + two grid-exact Lloyd rounds over the base slice,
    * assignment and capped NN over the full corpus. */
  lazy val dedupCodebookLogSql: String = {
    val nlistSql =
      s"""GREATEST(16, CAST(POWER(2, CEIL(LOG2(CAST(
         |  (COUNT(*) + ${DedupEmbedRetrainTarget - 1}) //
         |    $DedupEmbedRetrainTarget AS DOUBLE)))) AS BIGINT))"""
        .stripMargin
    s"""WITH n AS (${Dedup.withNormSql}),
       |tb AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
       |nl AS (SELECT $nlistSql AS k FROM tb),
       |cent0 AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn
       |          FROM tb, nl WHERE vec_id < nl.k),
       |${lloydRoundSql("cent0", "rcent1", over = "tb")},
       |${lloydRoundSql("rcent1", "rcent2", over = "tb")},
       |fcell AS (
       |  ${argmaxCellSql("rcent2")}),
       |cells AS (
       |  SELECT f.vec_id, f.cell, e.embedding, e.nrm
       |  FROM fcell f JOIN n e ON f.vec_id = e.vec_id),
       |bcap AS (
       |  SELECT vec_id, cell, embedding, nrm FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
       |      ORDER BY md5('cap:' || CAST(cell AS VARCHAR) || ':' ||
       |        CAST(vec_id AS VARCHAR)), vec_id) AS rk
       |    FROM cells) WHERE rk <= ${Dedup.DedupEmbedCellCap}),
       |pairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb, a.cell,
       |    (${Dedup.dotSql("a.embedding", "b.embedding")}) /
       |      (a.nrm * b.nrm) AS cosine
       |  FROM cells a JOIN bcap b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT va, vb, cell, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY va
       |      ORDER BY cosine DESC, vb) AS rn
       |  FROM pairs)
       |SELECT va AS vec_id, vb AS nn_id, cell, cosine,
       |  cosine >= 0.9 AS is_near_dup
       |FROM ranked WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }

  // ------ ALL trained artifacts ON the format (r14 — VERDICT r13 #1)

  /** What one [[advanceArtifactLog]] call did — the generalized
    * [[CodebookAdvance]]: committed artifact version (None = already
    * up to date, zero commits) and whether training actually ran. */
  final case class ArtifactAdvance(committed: Option[Int],
                                   retrained: Boolean)

  /** Maintain ANY trained artifact (IVF centroids, PQ subquantizers,
    * ...) as a txn-log table advanced against its corpus — the
    * [[advanceCodebookLog]] pattern generalized (r14): the nightly
    * job reads the corpus tip and the artifact's own consumption
    * watermark; already consumed → zero jobs of any kind; else the
    * GROWTH policy decides — retrain on backfill or when the corpus
    * row count (from LOG STATS alone) moved by ≥ `growthFactor` in
    * either direction since the consumed version, otherwise commit
    * ONLY the watermark (no training job is ever planned). Retrains
    * publish via the idempotent overwrite keyed (appId,
    * corpus-version), after which the trained frame's checkpoint
    * blocks are released ([[graft.core.Caches.unpin]]) — `train` may
    * pin its rounds and hand the last one over. Being txn-log tables,
    * every artifact inherits history, time travel, and vacuum. */
  def advanceArtifactLog(spark: SparkSession, corpusRoot: String,
                         artRoot: String, appId: String,
                         train: DataFrame => DataFrame,
                         growthFactor: Double = 2.0): ArtifactAdvance = {
    import graft.sources.TxnLog
    val tip = TxnLog.latestVersion(corpusRoot)
    require(tip >= 1, s"$corpusRoot has no committed version")
    new java.io.File(artRoot).mkdirs()
    val artTip = TxnLog.latestVersion(artRoot)
    val consumed =
      if (artTip < 1) 0L
      else TxnLog.stateAt(artRoot, artTip).txns.getOrElse(appId, 0L)
    if (consumed >= tip) return ArtifactAdvance(None, retrained = false)
    val needs =
      if (consumed < 1) true
      else {
        val now = corpusRowsAt(spark, corpusRoot, tip)
        val was = corpusRowsAt(spark, corpusRoot, consumed.toInt)
        now >= (was * growthFactor).toLong ||
          (now * growthFactor).toLong <= was
      }
    if (!needs)
      ArtifactAdvance(TxnLog.commitStreamBatch(artRoot, appId, tip,
        Seq.empty, "artup"), retrained = false)
    else {
      val art = train(TxnLog.read(spark, corpusRoot, tip))
      val v = TxnLog.writeOverwrite(spark, artRoot, art,
        "artup", f"art$tip%08d", txn = Some((appId, tip.toLong)))
      Caches.unpin(art) // the published artifact supersedes its pins
      ArtifactAdvance(Some(v), retrained = true)
    }
  }

  /** Corpus row count at `v` from LOG STATS alone (count fallback) —
    * shared by every artifact policy. */
  private def corpusRowsAt(spark: SparkSession, corpusRoot: String,
                           v: Int): Long = {
    import graft.sources.TxnLog
    val stV = TxnLog.stateAt(corpusRoot, v)
    TxnLog.fileFootprintSt(corpusRoot, stV, stV.live.toSeq.sorted)
      ._1.getOrElse(TxnLog.read(spark, corpusRoot, v).count())
  }

  /** What one [[advanceCodesLog]] call did: the committed version,
    * the mode (`backfill` | `increment` | `reencode` | `watermark` |
    * `noop`), and how many corpus rows were actually encoded — the
    * pin that an increment encodes ONLY itself. */
  final case class CodesAdvance(committed: Option[Int], mode: String,
                                encodedRows: Long)

  /** Maintain a per-vector CODES table (PQ codes, any row-wise
    * derived artifact) advanced INCREMENTALLY by the corpus CHANGE
    * FEED (r14 — VERDICT r13 #1's second half: re-encoding all codes
    * because one shard arrived is the nightly bill at 100 TB; the
    * `llm_dedup_index` pattern, now for encode artifacts):
    *
    *  - already consumed → zero jobs (`noop`);
    *  - no codes yet → `backfill`: encode the corpus tip once,
    *    publish via the idempotent overwrite;
    *  - else read the corpus CDF (consumed, tip]: a NoDataChange
    *    re-layout contributes nothing by marker alone; INSERTS encode
    *    — only themselves — and land as an idempotent streamed append
    *    (`increment`); zero inserts commits just the watermark
    *    (`watermark`); any DELETE falls back to a full `reencode`
    *    (codes are per-row, but honest removal through the append-
    *    shaped codes log is a rewrite — rare enough to pay).
    *
    * `encode` receives exactly the rows to encode (table schema) and
    * returns their codes; it must be row-independent (each row's
    * codes depend only on that row + the standing codebook), which is
    * what makes increment ∪ backfill ≡ full re-encode. */
  def advanceCodesLog(spark: SparkSession, corpusRoot: String,
                      codesRoot: String, appId: String,
                      encode: DataFrame => DataFrame): CodesAdvance = {
    import graft.sources.TxnLog
    val tip = TxnLog.latestVersion(corpusRoot)
    require(tip >= 1, s"$corpusRoot has no committed version")
    new java.io.File(codesRoot).mkdirs()
    val codesTip = TxnLog.latestVersion(codesRoot)
    val consumed =
      if (codesTip < 1) 0L
      else TxnLog.stateAt(codesRoot, codesTip).txns.getOrElse(appId, 0L)
    if (consumed >= tip) return CodesAdvance(None, "noop", 0L)
    if (consumed < 1) {
      val all = TxnLog.read(spark, corpusRoot, tip)
      val n = all.count()
      return CodesAdvance(Some(TxnLog.writeOverwrite(spark, codesRoot,
        encode(all), "codesup", f"codes$tip%08d",
        txn = Some((appId, tip.toLong)))), "backfill", n)
    }
    val changes = TxnLog.readChanges(spark, corpusRoot,
      consumed.toInt, tip)
    val hasDeletes = changes
      .where(col("_change_type") === "delete").limit(1).count() > 0
    if (hasDeletes) {
      val all = TxnLog.read(spark, corpusRoot, tip)
      val n = all.count()
      return CodesAdvance(Some(TxnLog.writeOverwrite(spark, codesRoot,
        encode(all), "codesup", f"codes$tip%08d",
        txn = Some((appId, tip.toLong)))), "reencode", n)
    }
    val inserts = changes.where(col("_change_type") === "insert")
      .drop("_change_type", "_commit_version", "_commit_timestamp")
    val nIns = inserts.count()
    if (nIns == 0L)
      CodesAdvance(TxnLog.commitStreamBatch(codesRoot, appId, tip,
        Seq.empty, "codesup"), "watermark", 0L)
    else
      CodesAdvance(TxnLog.writeStreamBatch(spark, codesRoot,
        encode(inserts), appId, tip.toLong, "codesup"),
        "increment", nIns)
  }

  /** THE shared ANN artifact store for a data dir (r14): the corpus
    * as a txn-log table (v1 = the base slice CONTAINING the whole
    * seed-codebook prefix `vec_id <` [[PqK]], v2 = the increment, v3
    * = a NoDataChange OPTIMIZE) plus every trained artifact as its
    * own txn-log table beside it — IVF centroids, the retrained
    * near-dup codebook, the PQ subquantizers, and both per-vector
    * CODES tables. The staging asserts the whole lifecycle once per
    * content: backfills train on the corpus tip (= the FULL corpus,
    * so every consumer query's oracle is unchanged), the seed-PQ
    * codes table advances by the CDF encoding ONLY the increment, a
    * NoDataChange re-layout advances every artifact watermark-only
    * with its files provably unmoved, and an up-to-date re-run is a
    * zero-commit no-op across the board. Zero content-tagged staging
    * dirs remain for trained artifacts — they all live on the format
    * with history, time travel, and vacuum. */
  private val annFixtures =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private[graft] def annLogRoot(spark: SparkSession, dir: String)
  : String =
    graft.core.Fixtures.memo(annFixtures,
      (spark.sparkContext.applicationId, dir)) {
      // r15 (ADVICE r14 low): the codeTag carries every training
      // constant the staged artifacts are a function of — changing a
      // grid size, Lloyd round count, or PQ hyper-parameter restages
      // automatically instead of silently reusing stale artifacts
      // until a manual tag bump (the pin the per-artifact staged dirs
      // used to carry)
      graft.core.Fixtures.staged(s"$dir/embeddings.parquet", "annlog",
          codeTag = s"ann_artifacts_grid${CentGrid}_r${IvfLloydRounds}" +
            s"_k${PqK}_m${PqM}_d${PqD}_it${PqTrainIters}_s${PqScale}" +
            s"_c$PqCoordScale") { target =>
        import graft.sources.TxnLog
        val e = Tables.embeddings(spark, dir)
        val corpus = s"$target/corpus"
        new java.io.File(corpus).mkdirs()
        val basePred = col("vec_id") < PqK || col("vec_id") % 10 =!= 0
        assert(TxnLog.writeAppend(spark, corpus, e.where(basePred),
          "stage", "base") == 1)
        // seed-PQ codes backfill against corpus v1
        val c1 = advanceCodesLog(spark, corpus, s"$target/pqcodes",
          "pqc", seedEncodeOf(spark, corpus))
        assert(c1.mode == "backfill" && c1.committed.contains(1), c1)
        // the increment
        val incN = e.where(!basePred).count()
        assert(TxnLog.writeAppend(spark, corpus, e.where(!basePred),
          "stage", "inc") == 2)
        // fixed-k artifacts backfill at the tip: trained on the FULL
        // corpus, so every consumer oracle is unchanged
        val i1 = advanceArtifactLog(spark, corpus, s"$target/ivfcb",
          "ivf", df => lloydChain(df, IvfLloydRounds))
        assert(i1.retrained && i1.committed.contains(1), i1)
        val d1 = advanceCodebookLog(spark, corpus, s"$target/dedupcb")
        assert(d1.retrained && d1.committed.contains(1), d1)
        val p1 = advanceArtifactLog(spark, corpus, s"$target/pqcb",
          "pqcb", trainPqCbOf(spark))
        assert(p1.retrained && p1.committed.contains(1), p1)
        // the CDF increment encodes ONLY itself
        val c2 = advanceCodesLog(spark, corpus, s"$target/pqcodes",
          "pqc", seedEncodeOf(spark, corpus))
        assert(c2.mode == "increment" && c2.encodedRows == incN, c2)
        // trained codes: the appId CARRIES the codebook version, so a
        // retrained codebook forces a clean backfill re-encode
        val cbV = TxnLog.latestVersion(s"$target/pqcb")
        val t1 = advanceCodesLog(spark, corpus, s"$target/pqtcodes",
          s"tc$cbV", trainedEncodeOf(spark, s"$target/pqcb"))
        assert(t1.mode == "backfill", t1)
        // a NoDataChange re-layout advances EVERY artifact
        // watermark-only, files provably unmoved
        assert(TxnLog.compact(spark, corpus, "stage").contains(3))
        val ivfFiles = TxnLog.liveFiles(s"$target/ivfcb",
          TxnLog.latestVersion(s"$target/ivfcb")).toSet
        val i2 = advanceArtifactLog(spark, corpus, s"$target/ivfcb",
          "ivf", df => lloydChain(df, IvfLloydRounds))
        assert(!i2.retrained && i2.committed.isDefined, i2)
        assert(TxnLog.liveFiles(s"$target/ivfcb",
          TxnLog.latestVersion(s"$target/ivfcb")).toSet == ivfFiles,
          "watermark-only advance moved codebook files")
        val d2 = advanceCodebookLog(spark, corpus, s"$target/dedupcb")
        assert(!d2.retrained && d2.committed.isDefined, d2)
        val p2 = advanceArtifactLog(spark, corpus, s"$target/pqcb",
          "pqcb", trainPqCbOf(spark))
        assert(!p2.retrained && p2.committed.isDefined, p2)
        val c3 = advanceCodesLog(spark, corpus, s"$target/pqcodes",
          "pqc", seedEncodeOf(spark, corpus))
        assert(c3.mode == "watermark", c3)
        val t2 = advanceCodesLog(spark, corpus, s"$target/pqtcodes",
          s"tc$cbV", trainedEncodeOf(spark, s"$target/pqcb"))
        assert(t2.mode == "watermark", t2)
        // up-to-date re-runs are zero-commit no-ops, zero jobs
        assert(advanceArtifactLog(spark, corpus, s"$target/ivfcb",
          "ivf", df => lloydChain(df, IvfLloydRounds)).committed.isEmpty)
        assert(advanceCodesLog(spark, corpus, s"$target/pqcodes",
          "pqc", seedEncodeOf(spark, corpus)).mode == "noop")
      }
    }

  /** Norm / unit-sphere / coordinate views over an ARBITRARY
    * embeddings frame — the df-generic twins of the dir-bound
    * helpers, needed because artifact training and CDF-incremental
    * encoding run over corpus-table reads and increments. */
  private def withNormOf(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      sqrt(Dedup.dotExpr("embedding", "embedding")).as("nrm"))

  private def pqUnitOf(e: DataFrame): DataFrame =
    withNormOf(e).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE) / nrm)")
        .as("embedding"))

  private def pqCoordsOf(e: DataFrame): DataFrame =
    pqUnitOf(e)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "x")))
      .select(col("vec_id"),
        (col("j") / PqD).cast("int").as("m"),
        (col("j") % PqD).cast("int").as("i"),
        expr(s"CAST(floor(CAST(x AS DOUBLE) * $PqCoordScale + 0.5) AS BIGINT)")
          .as("q"))

  /** Seed-PQ encode of `rows` under the corpus's seed codebook (the
    * first [[PqK]] unit vectors — all present from corpus v1 by the
    * fixture's base-slice construction, so the codebook is STABLE
    * across increments and increment ∪ backfill ≡ full encode). */
  private def seedEncodeOf(spark: SparkSession, corpusRoot: String)
  : DataFrame => DataFrame = rows => {
    val cb = pqUnitOf(graft.sources.TxnLog.read(spark, corpusRoot)
        .where(col("vec_id") < PqK))
      .select(col("vec_id").as("code"), col("embedding").as("cbe"))
    val dq = expr(
      s"CAST(floor((${pqDistExpr("embedding", "cbe")}) * $PqScale + 0.5) AS BIGINT)")
    pqUnitOf(rows).crossJoin(broadcast(cb))
      .select(col("vec_id"), col("code"), col("cbe"), col("embedding"),
        explode(expr(s"sequence(0, ${PqM - 1})")).as("m"))
      .withColumn("dq", dq)
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dq"), col("code"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.code").as("code"))
  }

  /** Trained-PQ encode of `rows` under the LOGGED subquantizer
    * codebook — same exact BIGINT argmin as the backfill. */
  private def trainedEncodeOf(spark: SparkSession, cbRoot: String)
  : DataFrame => DataFrame = rows =>
    pqCoordsOf(rows)
      .join(broadcast(graft.sources.TxnLog.read(spark, cbRoot)
        .select(col("code"), col("m"), col("i"), col("c"))), Seq("m", "i"))
      .withColumn("d", (col("q") - col("c")) * (col("q") - col("c")))
      .groupBy(col("vec_id"), col("m"), col("code"))
      .agg(sum(col("d")).as("sd"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("sd"), col("code"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.code").as("code"))

  /** Lloyd-train the PQ subquantizers over an arbitrary corpus frame
    * — [[pqTrainedCb]]'s body, df-generic for the artifact log. */
  private def trainPqCbOf(spark: SparkSession)
  : DataFrame => DataFrame = corpusDf => {
    val coords = Caches.pin(pqCoordsOf(corpusDf))
    var cb = Caches.pin(coords.where(col("vec_id") < PqK)
      .select(col("vec_id").cast("int").as("code"), col("m"),
        col("i"), col("q").as("c")))
    for (_ <- 1 to PqTrainIters) {
      val assign = coords
        .join(broadcast(cb), Seq("m", "i"))
        .withColumn("d", (col("q") - col("c")) * (col("q") - col("c")))
        .groupBy(col("vec_id"), col("m"), col("code"))
        .agg(sum(col("d")).as("sd"))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("sd"), col("code"))).as("best"))
        .select(col("vec_id"), col("m"), col("best.code").as("code"))
      val centers = coords.join(assign, Seq("vec_id", "m"))
        .groupBy(col("m"), col("code"), col("i"))
        .agg(expr("sum(q) div count(1)").as("cn"))
      val next = Caches.pin(cb.join(centers, Seq("m", "code", "i"), "left")
        .select(col("code"), col("m"), col("i"),
          coalesce(col("cn"), col("c")).as("c")))
      Caches.unpin(cb)
      cb = next
    }
    Caches.unpin(coords)
    cb
  }

  /** Corpus clustering report — the "what is in this embedding
    * corpus" summary a dataset curator reads before sampling: every
    * vector assigned to its trained-codebook cell, then per cell the
    * member count, the representative (closest to the centroid) and
    * the mean centroid-cosine (cohesion). The per-cell mean is
    * fixed-point quantized (×10⁶) so the aggregation is an exact
    * BIGINT sum — the same order-free discipline as the Lloyd means.
    * One scalar broadcast cross-join + one cell-keyed aggregate. */
  def embedCluster(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    assignCells(e, trainedCentroids(spark, dir))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        max(struct(col("ccos"), (-col("vec_id")).as("neg"))).as("best"),
        sum(expr("CAST(floor(ccos * 1000000 + 0.5) AS BIGINT)")).as("cq"))
      .select(col("cell"), col("n_vecs"),
        (-col("best.neg")).as("rep_id"), col("best.ccos").as("rep_cos"),
        (col("cq").cast("double") / lit(1000000.0) /
          col("n_vecs").cast("double")).as("mean_cos"))
      .orderBy(col("cell"))
  }

  /** Embedding outlier report — per trained-codebook cell, how many
    * members sit more than 2σ below the cell's mean centroid-cosine:
    * the mislabeled/garbage-vector sweep run before an embedding
    * corpus ships. Cosines are fixed-point quantized (×10⁶) so the
    * moment sums are exact BIGINTs; mean/σ/threshold are then one
    * spelled-out IEEE op sequence per cell (the [[graft.operators.
    * Relational.aggCorr]] discipline), so the 2σ cut cannot straddle
    * engines. Shape: cell-keyed aggregate + 16-row broadcast back. */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val asg = assignCells(e, trainedCentroids(spark, dir))
      .withColumn("q", expr("CAST(floor(ccos * 1000000 + 0.5) AS BIGINT)"))
    val stats = asg.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("sq"),
        sum(col("q") * col("q")).as("sqq"))
    val (nD, sqD, sqqD) = (col("n_vecs").cast("double"),
      col("sq").cast("double"), col("sqq").cast("double"))
    asg.join(broadcast(stats), "cell")
      .withColumn("thr",
        sqD / nD - lit(2.0) *
          (sqrt(greatest(sqqD * nD - sqD * sqD, lit(0.0))) / nD))
      .groupBy(col("cell"))
      .agg(max(col("n_vecs")).as("n_vecs"),
        count(when(col("q").cast("double") < col("thr"), lit(1)))
          .as("n_outliers"),
        (max(col("sq")).cast("double") / lit(1000000.0) /
          max(col("n_vecs")).cast("double")).as("mean_cos"),
        (min(col("q")).cast("double") / lit(1000000.0)).as("min_cos"))
      .orderBy(col("cell"))
  }

  lazy val embedOutliersSql: String =
    s"""WITH $trainedCentCteSql,
       |asg AS (
       |  SELECT vec_id, cent_id AS cell, ccos FROM (
       |    SELECT v.vec_id, c.cent_id,
       |      (${Dedup.dotSql("v.embedding", "c.ce")}) / (v.nrm * c.cn) AS ccos,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY (${Dedup.dotSql("v.embedding", "c.ce")}) / (v.nrm * c.cn) DESC,
       |                 c.cent_id) AS arn
       |    FROM n v CROSS JOIN cent2 c) WHERE arn = 1),
       |qv AS (
       |  SELECT cell, vec_id,
       |    CAST(floor(ccos * 1000000 + 0.5) AS BIGINT) AS q
       |  FROM asg),
       |st AS (
       |  SELECT cell, COUNT(*) AS n_vecs,
       |    CAST(SUM(q) AS BIGINT) AS sq,
       |    CAST(SUM(q * q) AS BIGINT) AS sqq
       |  FROM qv GROUP BY cell),
       |fl AS (
       |  SELECT qv.cell, qv.q, st.n_vecs, st.sq,
       |    CAST(st.sq AS DOUBLE) / CAST(st.n_vecs AS DOUBLE)
       |      - 2.0 * (SQRT(GREATEST(
       |          CAST(st.sqq AS DOUBLE) * CAST(st.n_vecs AS DOUBLE)
       |            - CAST(st.sq AS DOUBLE) * CAST(st.sq AS DOUBLE), 0.0))
       |        / CAST(st.n_vecs AS DOUBLE)) AS thr
       |  FROM qv JOIN st USING (cell))
       |SELECT cell, MAX(n_vecs) AS n_vecs,
       |  CAST(COUNT(*) FILTER (WHERE CAST(q AS DOUBLE) < thr) AS BIGINT)
       |    AS n_outliers,
       |  CAST(MAX(sq) AS DOUBLE) / 1000000.0 / CAST(MAX(n_vecs) AS DOUBLE)
       |    AS mean_cos,
       |  CAST(MIN(q) AS DOUBLE) / 1000000.0 AS min_cos
       |FROM fl GROUP BY cell
       |ORDER BY cell""".stripMargin

  /** Candidates actually scanned by the nprobe=2 search (pre-ranking
    * pair count) — the cost side of the recall/cost trade AnnRecallSpec
    * reports for the seed vs trained codebook. */
  private[graft] def ivfScannedPairs(spark: SparkSession, dir: String,
                                     lloydRounds: Int): Long = {
    val e = Tables.embeddings(spark, dir)
    val cent = lloydChain(e, lloydRounds)
    probeCells(e, cent).join(assignCells(e, cent), "cell")
      .where(col("vec_id") =!= col("query_id")).count()
  }

  /** argmax-cell snippet over codebook relation `cent` (ROW_NUMBER
    * mirror of [[assignCells]]'s max(struct) — same ties). `over`
    * names the corpus CTE being assigned (r13: the codebook-log
    * oracle trains on the BASE slice but assigns the full corpus). */
  private def argmaxCellSql(cent: String, over: String = "n"): String =
    s"""SELECT vec_id, cent_id AS cell FROM (
       |    SELECT v.vec_id, c.cent_id, ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY (${Dedup.dotSql("v.embedding", "c.ce")}) / (v.nrm * c.cn) DESC,
       |               c.cent_id) AS arn
       |    FROM $over v CROSS JOIN $cent c) WHERE arn = 1""".stripMargin

  /** One Lloyd round as CTE text: `prev` codebook → `out` codebook.
    * DuckDB's lockstep parallel unnest (embedding zipped with a
    * 0-based range) is the posexplode mirror; `list(... ORDER BY
    * pos)` re-packs in the same order as Spark's array_sort on
    * (pos, m) structs. `over` = the training corpus CTE. */
  private def lloydRoundSql(prev: String, out: String,
                            over: String = "n"): String =
    s"""${out}_cell AS (
       |  ${argmaxCellSql(prev, over)}),
       |${out}_mean AS (
       |  SELECT cell, pos,
       |    CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * $CentGrid + 0.5) AS BIGINT))
       |      AS DOUBLE) / CAST(COUNT(*) * $CentGrid AS DOUBLE) AS m
       |  FROM (
       |    SELECT a.cell, unnest(e.embedding) AS v, unnest(range(0, 64)) AS pos
       |    FROM ${out}_cell a JOIN $over e ON a.vec_id = e.vec_id)
       |  GROUP BY cell, pos),
       |${out}_packed AS (
       |  SELECT cell, list(CAST(m AS REAL) ORDER BY pos) AS ne
       |  FROM ${out}_mean GROUP BY cell),
       |$out AS (
       |  SELECT cent_id, ce, sqrt(${Dedup.dotSql("ce", "ce")}) AS cn FROM (
       |    SELECT c.cent_id, COALESCE(p.ne, c.ce) AS ce
       |    FROM $prev c LEFT JOIN ${out}_packed p ON c.cent_id = p.cell))""".stripMargin

  /** Shared CTE prefix: norms, seed codebook, and the two unrolled
    * Lloyd rounds ending in `cent2` — single source for the trained
    * search and the clustering-report oracles. */
  private lazy val trainedCentCteSql: String =
    s"""n AS (${Dedup.withNormSql}),
       |cent0 AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn
       |          FROM n WHERE vec_id < 16),
       |${lloydRoundSql("cent0", "cent1")},
       |${lloydRoundSql("cent1", "cent2")}""".stripMargin

  lazy val simSearchIvfTrainedSql: String =
    s"""WITH $trainedCentCteSql,
       |fcell AS (
       |  ${argmaxCellSql("cent2")}),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
       |      FROM n WHERE vec_id < 10),
       |probe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY (${Dedup.dotSql("q.qe", "c.ce")}) / (q.qn * c.cn) DESC,
       |                 c.cent_id) AS prn
       |    FROM q CROSS JOIN cent2 c) WHERE prn <= 2),
       |pairs AS (
       |  SELECT p.query_id, cl.vec_id AS cand_id, p.cell,
       |    (${Dedup.dotSql("q.qe", "v.embedding")}) / (q.qn * v.nrm) AS cosine
       |  FROM probe p
       |  JOIN fcell cl ON cl.cell = p.cell
       |  JOIN q ON q.query_id = p.query_id
       |  JOIN n v ON v.vec_id = cl.vec_id
       |  WHERE cl.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, cand_id, cell, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cosine DESC, cand_id) AS INT) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, cand_id, cell, cosine
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  lazy val embedClusterSql: String =
    s"""WITH $trainedCentCteSql,
       |asg AS (
       |  SELECT vec_id, cent_id AS cell, ccos FROM (
       |    SELECT v.vec_id, c.cent_id,
       |      (${Dedup.dotSql("v.embedding", "c.ce")}) / (v.nrm * c.cn) AS ccos,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY (${Dedup.dotSql("v.embedding", "c.ce")}) / (v.nrm * c.cn) DESC,
       |                 c.cent_id) AS arn
       |    FROM n v CROSS JOIN cent2 c) WHERE arn = 1),
       |rep AS (
       |  SELECT cell, vec_id AS rep_id, ccos AS rep_cos,
       |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY ccos DESC, vec_id) AS rrn
       |  FROM asg)
       |SELECT a.cell, COUNT(*) AS n_vecs, r.rep_id, r.rep_cos,
       |  CAST(SUM(CAST(floor(a.ccos * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS mean_cos
       |FROM asg a JOIN (SELECT cell, rep_id, rep_cos FROM rep WHERE rrn = 1) r
       |  ON a.cell = r.cell
       |GROUP BY a.cell, r.rep_id, r.rep_cos
       |ORDER BY a.cell""".stripMargin

  /** Int8 embedding quantization — the storage/bandwidth step a
    * 100 TB vector corpus takes before ANN (4× smaller than float32,
    * SIMD-friendly dot products): per-vector symmetric scale
    * max|x|/127, q = floor(x/scale + 0.5) (explicit half-up — Spark's
    * round and DuckDB's round disagree on ties, floor(+0.5) is the
    * same IEEE sequence in both), reporting the scale, the max
    * dequantization error (bounded by scale/2), and an integer
    * checksum of the codes. Pure projection — no shuffle but the
    * oracle sort. */
  /** Shared int8 quantization front-end for [[embedQuantize]] and
    * [[simSearchInt8]] — ONE definition of (absmax fold → step → codes)
    * per engine, so a formula change cannot drift between the quantize
    * report and the quantized search. The division-safe `step` is
    * computed ONCE per row (an all-zero vector has absmax 0, and
    * x/(0/127) is NaN — Spark's non-ANSI cast would silently emit code
    * 0 while DuckDB errors on CAST(NaN AS BIGINT); step 1.0 pins both
    * engines to codes 0 / error 0), not re-evaluated per element
    * inside the transform lambdas. */
  private def withCodes(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))")
          .as("absmax"))
      .withColumn("step",
        when(col("absmax") === 0.0, lit(1.0)).otherwise(col("absmax") / lit(127.0)))
      .withColumn("q",
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / step + 0.5) AS BIGINT))"))

  /** DuckDB twin of [[withCodes]]: CTEs a (absmax) → s (step) → qv
    * (codes), each row's step computed once. */
  private val quantCteSql: String =
    """a AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) AS absmax
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, embedding, absmax,
      |    CASE WHEN absmax = 0.0 THEN 1.0 ELSE absmax / 127.0 END AS step
      |  FROM a),
      |qv AS (
      |  SELECT vec_id, embedding, absmax, step,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) / step + 0.5) AS BIGINT)) AS q
      |  FROM s)""".stripMargin

  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    withCodes(spark, dir)
      .select(col("vec_id"),
        (col("absmax") / lit(127.0)).as("scale"),
        expr("""aggregate(zip_with(embedding, q,
          |  (x, c) -> abs(CAST(x AS DOUBLE) - c * step)),
          |  CAST(0.0 AS DOUBLE), (m, d) -> greatest(m, d))""".stripMargin)
          .as("max_err"),
        expr("aggregate(q, 0L, (s, c) -> s + c)").as("code_sum"),
        expr("aggregate(q, 0L, (s, c) -> s + abs(c))").as("code_abs_sum"))
      .orderBy(col("vec_id"))

  val embedQuantizeSql: String =
    s"""WITH $quantCteSql
       |SELECT vec_id,
       |  absmax / 127.0 AS scale,
       |  list_max(list_transform(list_zip(embedding, q),
       |    p -> abs(CAST(p[1] AS DOUBLE) - p[2] * step))) AS max_err,
       |  CAST(list_sum(q) AS BIGINT) AS code_sum,
       |  CAST(list_sum(list_transform(q, c -> abs(c))) AS BIGINT) AS code_abs_sum
       |FROM qv
       |ORDER BY vec_id""".stripMargin

  /** Top-5 cosine search over the INT8 codes of [[embedQuantize]] —
    * the compute path that pairs with quantized storage: the pairwise
    * kernel is an exact integer dot product and integer norms
    * (symmetric per-vector scales cancel in the cosine), so unlike the
    * float path no IEEE ordering discipline is needed at all — the
    * oracle agreement is exact arithmetic end-to-end until one final
    * sqrt/division pair. AnnRecallSpec measures how much ranking the
    * 8-bit codes lose against the float brute force (recall@5). */
  def simSearchInt8(spark: SparkSession, dir: String): DataFrame = {
    val e = withCodes(spark, dir)
      .select(col("vec_id"), col("q"),
        expr("aggregate(q, 0L, (s, c) -> s + c * c)").as("nq"))
    val qs = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("nq").as("na"))
    val c = e.select(col("vec_id").as("cand_id"), col("q").as("qb"),
      col("nq").as("nb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(qs).join(c, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        // ANSI double division throws on 0/0 (all-zero vector → nq 0):
        // pin that undefined cosine to 0 in both engines
        when(col("na") * col("nb") === 0L, lit(0.0)).otherwise(
          expr("aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (s, p) -> s + p)")
            .cast("double") / sqrt((col("na") * col("nb")).cast("double")))
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val simSearchInt8Sql: String =
    s"""WITH $quantCteSql,
      |n AS (
      |  SELECT vec_id, q,
      |    list_sum(list_transform(q, c -> c * c)) AS nq
      |  FROM qv),
      |pairs AS (
      |  SELECT qs.vec_id AS query_id, c.vec_id AS cand_id,
      |    CASE WHEN qs.nq * c.nq = 0 THEN 0.0
      |         ELSE CAST(list_sum(list_transform(list_zip(qs.q, c.q),
      |                p -> p[1] * p[2])) AS DOUBLE)
      |              / sqrt(CAST(qs.nq * c.nq AS DOUBLE)) END AS cosine
      |  FROM n qs JOIN n c ON qs.vec_id < 10 AND qs.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT query_id, cand_id, cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |         ORDER BY cosine DESC, cand_id) AS INT) AS rank
      |  FROM pairs)
      |SELECT query_id, rank, cand_id, cosine
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Deterministic pseudo-random hyperplane component for multi-table
    * LSH (splitmix64-style integer finalizer → [-1, 1)) — unlike the
    * small linear pattern behind [[planes]] (kept for the oracled
    * single-table query, where literals must embed into SQL), these are
    * well-mixed, so per-table sign bits behave like independent random
    * projections. */
  private def planeVal(table: Int, bit: Int, dim: Int): Double = {
    var x = table * 1000003L + bit * 8191L + dim * 131L + 0x9E3779B97F4A7C15L
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^= x >>> 33
    (x >>> 11).toDouble / (1L << 52).toDouble - 1.0
  }

  private val EmbedDim = 64

  /** PUBLIC ANN surface: multi-table random-hyperplane LSH cosine
    * top-k — the standard OR-construction that makes LSH usable when
    * neighbors are not extremely close. Each vector is indexed into
    * `tables` independent hash tables of `bitsPerTable` sign bits; a
    * pair is a candidate if it collides in ANY table, so per-neighbor
    * recall is 1-(1-p^b)^L for per-plane agreement p = 1-θ/π, at
    * candidate cost ~L·n/2^b. The (b, L) knob trades recall against
    * cost: on this diffuse fixture (top-5 cosine ≈ 0.3, p ≈ 0.6) the
    * default (4, 8) measures ~0.7 recall@5 at half-of-brute-force
    * cost, while a concentrated real corpus (p ≥ 0.9) gets ≥0.95 at
    * a fraction of a percent. `oneBitProbe` additionally probes the
    * b one-bit-flip buckets per table (multi-probe LSH), lifting
    * per-table hit probability to p^b + b·p^(b-1)(1-p) without
    * growing the index. AnnRecallSpec measures all of this against
    * [[simSearch]] and pins floors; numbers in SURVEY §8.
    *
    * Scale shape: the index is an explode to L postings per vector
    * (the materialized form a real system stores), the join is
    * per-(table, bucket) equi-colocated, and pairs are deduped before
    * any cosine is computed — the expensive kernel runs once per
    * distinct candidate pair. */
  def lshTopK(spark: SparkSession, dir: String, k: Int,
              bitsPerTable: Int = 4, tables: Int = 8,
              oneBitProbe: Boolean = false): DataFrame = {
    def bucketOf(t: Int): Column = {
      val signs = (0 until bitsPerTable).map { j =>
        val normal = (0 until EmbedDim).map(i => planeVal(t, j, i))
        val dot = aggregate(
          zip_with(col("embedding"), array(normal.map(lit): _*),
            (x, y) => x.cast("double") * y),
          lit(0.0), (acc, v) => acc + v)
        when(dot >= 0.0, lit(1 << j)).otherwise(lit(0))
      }
      signs.reduce(_ + _)
    }
    val e = Tables.embeddings(spark, dir)
    // the index: L postings per vector, keyed (table, bucket)
    val postings = e.select(col("vec_id"), col("embedding"),
      posexplode(array((0 until tables).map(bucketOf): _*))
        .as(Seq("tbl", "bucket")))
    val candSide = postings.select(col("vec_id").as("cand_id"),
      col("tbl").as("tbl2"), col("bucket").as("bucket2"))
    // query side: own bucket, plus the b one-bit flips when probing
    val probeBuckets =
      if (!oneBitProbe) array(col("bucket"))
      else array(col("bucket") +: (0 until bitsPerTable).map(j =>
        col("bucket").bitwiseXOR(lit(1 << j))): _*)
    val q = postings.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("tbl"),
        explode(probeBuckets).as("probe_bucket"))
    // dedupe pairs across tables BEFORE the cosine kernel
    val pairs = broadcast(q)
      .join(candSide, col("tbl") === col("tbl2") &&
        col("probe_bucket") === col("bucket2") &&
        col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id")).distinct()
    val qv = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("ea"))
    val cv = e.select(col("vec_id").as("cand_id"), col("embedding").as("eb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    pairs.join(broadcast(qv), "query_id").join(cv, "cand_id")
      .select(col("query_id"), col("cand_id"),
        expr("graft_cosine(ea, eb)").as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
  }

  /** PUBLIC generic surface: cosine top-k neighbors of each query
    * vector against a candidate frame, on the fused native kernel.
    * `queries` should be the bounded side (it is broadcast); at scale
    * route candidates through an LSH/IVF bucketing first (see
    * [[simSearchLsh]] / [[Dedup.dedupEmbed]]) and pass each bucket's
    * slice here. Inputs: (id, vec) columns named by the callers.
    *
    * `excludeSelf` (default true) drops candidates whose id equals the
    * query id — right when both frames share an id space (self-search);
    * pass false for unrelated frames, where an accidental id collision
    * would otherwise silently hide a true neighbor. Rows with a null
    * id on either side never rank (filtered explicitly, so the
    * guarantee holds in both modes). */
  def cosineTopK(queryDf: DataFrame, queryId: String, queryVec: String,
                 candDf: DataFrame, candId: String, candVec: String,
                 k: Int, excludeSelf: Boolean = true): DataFrame = {
    val q = queryDf.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
      .where(col("query_id").isNotNull)
    val c = candDf.select(col(candId).as("cand_id"), col(candVec).as("cv"))
      .where(col("cand_id").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    val cond =
      if (excludeSelf) col("query_id") =!= col("cand_id") else lit(true)
    broadcast(q).join(c, cond)
      .select(col("query_id"), col("cand_id"),
        expr("graft_cosine(qv, cv)").as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
  }

  // ---------------------------------------- product quantization (ADC)

  /** 16 subspaces × 256 codes: each 64-dim vector compresses to 16
    * 8-bit codes (16 bytes vs 256 — 16×), the storage rung below
    * int8. Codewords per subspace are the first [[PqK]] corpus
    * vectors' subvectors (the [[simSearchIvf]] seed discipline, so
    * the oracle re-derives them from the same parquet). This geometry
    * replaced the original 8×16 (4-bit) trade in r8 (VERDICT r7 #5):
    * 16 codes per 8-dim subspace left cells far wider than the
    * fixture's ≈0.3-cosine neighbor gaps (recall@5 ≈ 0.22), and with
    * SEED (untrained) codebooks even 256 codes in 8 dims barely
    * helped (measured 0.26 — random codewords cover an 8-dim cell
    * poorly). Narrowing subspaces to 4 dims is the lever that
    * actually closes seed-codebook distortion: 256 codewords in 4
    * dims quantize finely, first-pass recall clears the 0.5 bar
    * (AnnRecallSpec), and the 16×256 LUT stays broadcast-small. */
  private val PqM = 16  // subspaces of PqD dims each
  private val PqK = 256 // codes per subspace (8-bit subquantizers)
  private val PqD = 4   // dims per subspace (PqM * PqD = 64)
  /** 2^20 — quantizes subspace distances to exact BIGINTs: the ADC sum
    * over the PqM subspace terms becomes order-free integer arithmetic,
    * and
    * the final descale divides by a power of two (IEEE-exact). */
  private val PqScale = 1048576L

  /** In-order [[PqD]]-term squared-L2 chain for subspace `m` (a
    * column in scope): explicit left-associated `+` like
    * [[Dedup.dotSql]], so both engines evaluate the identical
    * correctly-rounded sequence. element_at / DuckDB `[...]` are both
    * 1-based. */
  private def pqDistExpr(a: String, b: String): String =
    (1 to PqD).map { i =>
      val (x, y) = (s"CAST(element_at($a, m*$PqD+$i) AS DOUBLE)",
        s"CAST(element_at($b, m*$PqD+$i) AS DOUBLE)")
      s"($x - $y) * ($x - $y)"
    }.mkString(" + ")

  private def pqDistSql(a: String, b: String): String =
    (1 to PqD).map { i =>
      val (x, y) = (s"CAST($a[m*$PqD+$i] AS DOUBLE)",
        s"CAST($b[m*$PqD+$i] AS DOUBLE)")
      s"($x - $y) * ($x - $y)"
    }.mkString(" + ")

  /** Product-quantization search with asymmetric distance computation
    * — the billion-scale ANN rung below [[simSearchInt8]]: vectors are
    * stored as [[PqM]] codes (encode = per-subspace argmin to the
    * shared codebook, a corpus × [[PqK]]-codeword broadcast with
    * partial-agg min), queries build a [[PqM]]×[[PqK]] distance
    * lookup table, and scoring joins codes against the broadcast LUT
    * and SUMS [[PqM]] integers per candidate — no float math ever
    * touches the corpus
    * at query time, which is what makes scanning compressed codes
    * memory-bandwidth-bound instead of FLOP-bound at 100 TB. All
    * distances are [[PqScale]]-quantized BIGINTs (order-free sums,
    * exact rank compare); ties break on code/cand id. AnnRecallSpec
    * measures the 8-bit codes' recall@5 against the float brute
    * force. */
  /** Shortlist depth for [[simSearchPqRerank]]: ADC keeps this many
    * candidates per query for the exact re-rank pass. */
  private[llm] val PqShortlist = 50

  /** The shared ADC kernel: (query_id, cand_id, sd) for every
    * query × candidate pair, sd = PqScale-quantized squared-L2 sum
    * over the PqM subspace LUT entries. Encode UNIT vectors: on the
    * unit sphere L2² = 2 - 2·cos, so the ADC rank order estimates the
    * cosine baseline's metric instead of fighting magnitude. */
  /** Unit-normalized corpus — PQ encodes on the unit sphere (see
    * [[pqAdc]]: L2² = 2 − 2·cos there). */
  private def pqUnit(spark: SparkSession, dir: String): DataFrame =
    Dedup.withNorm(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE) / nrm)")
          .as("embedding"))

  /** The shared encode/LUT pipeline: src × broadcast PqK-codeword
    * codebook × 8 subspaces, with the [[PqScale]]-quantized squared-L2
    * `dq` per (vec, code, subspace). */
  private def pqPairs(spark: SparkSession, dir: String, src: DataFrame)
  : DataFrame = {
    val cb = pqUnit(spark, dir).where(col("vec_id") < PqK)
      .select(col("vec_id").as("code"), col("embedding").as("cbe"))
    val dq = expr(
      s"CAST(floor((${pqDistExpr("embedding", "cbe")}) * $PqScale + 0.5) AS BIGINT)")
    src.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("code"), col("cbe"), col("embedding"),
        explode(expr(s"sequence(0, ${PqM - 1})")).as("m"))
      .withColumn("dq", dq)
  }

  /** The corpus PQ codes (vec_id, m, code) — a TXN-LOG TABLE
    * advanced INCREMENTALLY by the corpus change feed (r14, VERDICT
    * r13 #1: the staged-dir version re-encoded the whole corpus when
    * content changed; [[advanceCodesLog]] encodes ONLY the CDF
    * increment — base ∪ increment ≡ full encode because each row's
    * codes depend only on that row and the stable seed codebook).
    * Encoding is deterministic (quantized distances, (dq, code) min
    * tiebreak), so the oracle re-derives identical codes from the
    * same parquet — the production "encode once, advance by the log,
    * scan codes forever" shape. */
  private def pqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TxnLog.read(spark,
      s"${annLogRoot(spark, dir)}/pqcodes")

  private def pqAdc(spark: SparkSession, dir: String): DataFrame = {
    val lut = pqPairs(spark, dir, pqUnit(spark, dir).where(col("vec_id") < 10))
      .select(col("vec_id").as("query_id"), col("m"), col("code"), col("dq"))
    pqCodes(spark, dir).join(broadcast(lut), Seq("m", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("cand_id"))
      .agg(sum(col("dq")).as("sd"))
  }

  def simSearchPq(spark: SparkSession, dir: String): DataFrame = {
    // Recall measured in AnnRecallSpec (floors pinned there and in
    // SURVEY §8). The r7 4-bit (16-code) configuration measured 0.22
    // — subspace cells far wider than the fixture's ≈0.3-cosine
    // neighbor gaps, usable only as a pre-rerank filter; 8-bit
    // subquantizers close most of that distortion, so the first pass
    // is a usable ranker on its own and the rerank rung
    // ([[simSearchPqRerank]]) recovers the remainder. One
    // correctly-rounded division per element, identical cross-engine.
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sd"), col("cand_id"))
    pqAdc(spark, dir)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"),
        (col("sd").cast("double") / lit(PqScale.toDouble)).as("pq_dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The production PQ pattern the [[simSearchPq]] scaladoc promises:
    * ADC scans the 8-bit codes to a [[PqShortlist]]-deep shortlist
    * (memory-bandwidth-bound, no float math on the corpus), then ONLY
    * the shortlist is re-ranked with the exact float cosine — per
    * query a bounded [[PqShortlist]]-row second pass against vectors
    * fetched by id. At 100 TB the shortlist join is a broadcast of
    * queries × shortlist rows against the (pruned) embedding scan, so
    * the expensive kernel runs on ~0.005% of the corpus. AnnRecallSpec
    * measures the recovery: shortlist recall bounds final recall, and
    * the measured number is pinned there and in SURVEY §8. */
  def simSearchPqRerank(spark: SparkSession, dir: String): DataFrame = {
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("sd"), col("cand_id"))
    val short = pqAdc(spark, dir)
      .withColumn("rn", row_number().over(ws))
      .where(col("rn") <= PqShortlist)
      .select(col("query_id"), col("cand_id"))
    val e = Dedup.withNorm(spark, dir)
    val qv = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("ea"),
        col("nrm").as("na"))
    val cv = e.select(col("vec_id").as("cand_id"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(short).join(cv, "cand_id")
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col("cand_id"),
        (Dedup.dotExpr("ea", "eb") / (col("na") * col("nb"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------------- trained PQ (library)

  /** Lloyd rounds for [[pqTrainedAdc]]'s subquantizer training. */
  private val PqTrainIters = 5
  /** Coordinate quantization for the trained path: 2^20 fixed-point,
    * so sums/means/distances are exact BIGINTs (order-free — the same
    * run is bit-identical regardless of partitioning). */
  private val PqCoordScale = 1048576L

  /** Unit corpus at (vec_id, m, i, q) granularity — subspace m,
    * within-subspace coordinate i, 2^20-quantized value.
    *
    * r16 (§ codegen / VERDICT r15 #3): the old shape posexploded the
    * unit-NORMALIZED array (a `transform` higher-order function).
    * InferFiltersFromGenerate then cloned that HOF into the inferred
    * `size(...) > 0 / isnotnull(...)` guards, which are evaluated
    * INTERPRETED for every corpus row before the pushed `vec_id < 10`
    * prune can help — measured 8.5 s for a 640-row result on the x10
    * replica, 0.10 s with the guards cheap. Exploding the RAW
    * embedding and normalizing per element after the Generate keeps
    * the inferred guards on the plain column and is IEEE-bit-identical
    * (same divide-then-scale op order; verified by row-set equality
    * and the unchanged oracle). */
  private def pqCoords(spark: SparkSession, dir: String): DataFrame =
    Dedup.withNorm(spark, dir)
      .select(col("vec_id"), col("nrm"),
        posexplode(col("embedding")).as(Seq("j", "x")))
      .select(col("vec_id"),
        (col("j") / PqD).cast("int").as("m"),
        (col("j") % PqD).cast("int").as("i"),
        expr(s"CAST(floor(CAST(x AS DOUBLE) / nrm * $PqCoordScale + 0.5) AS BIGINT)")
          .as("q"))

  /** Lloyd-TRAINED subquantizer codebook — the production upgrade of
    * the seed codebook, the same train-once posture as
    * [[trainedCentroids]] but per subspace: [[PqTrainIters]] rounds of
    * (assign each subvector to its nearest codeword, recenter each
    * codeword on the integer mean of its members; empty cells keep
    * their previous centroid). All arithmetic is 2^20 fixed-point
    * BIGINT — assignment distances, sums, and `div`-means are exact,
    * so the trained codebook is a deterministic artifact of the
    * corpus and the staged copy is reproducible bit-for-bit. Staged
    * once per source content; rows are (code, m, i, c).
    *
    * Oracled since r9 (VERDICT r8 #4): the unrolled 5-round
    * 256-centroid assignment join IS inside the oracle's weight class
    * once the hot CTEs are pinned `MATERIALIZED` — DuckDB's default
    * inlining re-evaluated the multi-referenced codebook chain and
    * made the naive twin 25 s at sf0.01 / 115 s at sf0.1; with
    * materialization it measures 5.8 s / 24 s (idle, 8 threads).
    * AnnRecallSpec still measures its recall against the brute-force
    * baseline next to the seed codebook's. */
  private[graft] def pqTrainedCb(spark: SparkSession, dir: String)
  : DataFrame =
    graft.sources.TxnLog.read(spark,
        s"${annLogRoot(spark, dir)}/pqcb")
      .select(col("code"), col("m"), col("i"), col("c"))

  /** The trained-codebook corpus codes (vec_id, m, code) — a
    * txn-log table in the shared artifact store (r14): advanced by
    * [[advanceCodesLog]] under an appId that CARRIES the codebook
    * version, so a retrained quantizer forces a clean backfill
    * re-encode (the correct coupling — new codebook invalidates every
    * code) while a stable codebook advances CDF-incrementally /
    * watermark-only. Encoding is deterministic (exact BIGINT
    * distances, (sd, code) min tiebreak), so the oracle re-derives
    * identical codes from the same parquet. */
  private def pqTrainedCodes(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TxnLog.read(spark,
      s"${annLogRoot(spark, dir)}/pqtcodes")

  /** ADC against the TRAINED codebook — staged codes + per-call query
    * LUT (queries only: 10 vectors × codebook, bounded) + integer
    * sum, all in the same 2^20 fixed-point space as training. Returns
    * (query_id, cand_id, sd) like [[pqAdc]]. */
  private def pqTrainedAdc(spark: SparkSession, dir: String): DataFrame = {
    val lut = pqCoords(spark, dir).where(col("vec_id") < 10)
      .join(broadcast(pqTrainedCb(spark, dir)), Seq("m", "i"))
      .withColumn("d", (col("q") - col("c")) * (col("q") - col("c")))
      .groupBy(col("vec_id"), col("m"), col("code"))
      .agg(sum(col("d")).as("dq"))
      .select(col("vec_id").as("query_id"), col("m"), col("code"),
        col("dq"))
    // r16 (§2.2 / VERDICT r15 #3): the codes table is one staged file,
    // so the scan is ONE split and the whole ADC — the |queries|×
    // blow-up join plus its aggregate, the query's only heavy stage —
    // ran single-threaded (measured core-insensitive, 10.3 s isolated
    // at x10). Repartitioning the narrow (vec_id, m, code) stream by
    // vec_id costs one cheap exchange, spreads the ADC across the
    // session's scale-derived width (explicit count ⇒ AQE cannot
    // coalesce it back to one), and hash(vec_id) clusters the
    // (query_id, cand_id) aggregate key, so the ADC sum needs NO
    // exchange of its own.
    pqTrainedCodes(spark, dir)
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("vec_id"))
      .join(broadcast(lut), Seq("m", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("cand_id"))
      .agg(sum(col("dq")).as("sd"))
  }

  /** Top-5 by trained-PQ ADC — the production twin of [[simSearchPq]]
    * with Lloyd-trained subquantizers ([[pqTrainedCb]]); recall
    * measured in AnnRecallSpec (0.68 first pass vs the seed
    * codebook's 0.52 — training IS the production posture). */
  private[graft] def simSearchPqTrained(spark: SparkSession, dir: String)
  : DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sd"), col("cand_id"))
    pqTrainedAdc(spark, dir)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** One Lloyd round of the trained-PQ oracle as CTE text (the SQL
    * twin of [[pqTrainedCb]]'s loop body): assign every (vec, m)
    * subvector to its nearest `prev` codeword at coordinate
    * granularity (SUM of squared BIGINT deltas over the (m,i) join,
    * (sd, code) tiebreak = Spark's min(struct)), recenter on the
    * truncating integer mean ([[graft.core.DetSql.tdiv]] — Spark's
    * `div` truncates toward zero, DuckDB's `//` floors), empty cells
    * keep their previous centroid. MATERIALIZED is load-bearing:
    * DuckDB inlines multi-referenced CTEs by default, re-evaluating
    * the whole codebook chain per reference (measured 25 s → 5.8 s at
    * sf0.01 with the pins). */
  private def pqLloydRoundSql(prev: String, out: String): String =
    s"""${out}_asg AS MATERIALIZED (
       |  SELECT vec_id, m, code FROM (
       |    SELECT c.vec_id, c.m, cb.code,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.m
       |        ORDER BY SUM((c.q - cb.c) * (c.q - cb.c)), cb.code) AS rn
       |    FROM pcoords c JOIN $prev cb ON cb.m = c.m AND cb.i = c.i
       |    GROUP BY c.vec_id, c.m, cb.code) WHERE rn = 1),
       |$out AS MATERIALIZED (
       |  SELECT p.code, p.m, p.i, COALESCE(ct.cn, p.c) AS c
       |  FROM $prev p LEFT JOIN (
       |    SELECT a.m, a.code, c.i,
       |      ${graft.core.DetSql.tdiv("CAST(SUM(c.q) AS BIGINT)", "COUNT(*)")} AS cn
       |    FROM pcoords c JOIN ${out}_asg a
       |      ON a.vec_id = c.vec_id AND a.m = c.m
       |    GROUP BY a.m, a.code, c.i) ct
       |    ON ct.m = p.m AND ct.code = p.code AND ct.i = p.i)""".stripMargin

  /** DuckDB twin of [[simSearchPqTrained]]: unit-normalize, quantize
    * coordinates to 2^20 fixed point, seed the per-subspace codebook
    * from the first [[PqK]] vectors, run [[PqTrainIters]] unrolled
    * Lloyd rounds, then the integer ADC (encode argmin + query LUT +
    * BIGINT sums) — every step exact integer or one shared IEEE op,
    * so the ranks hash-match. */
  lazy val simSearchPqTrainedSql: String = {
    val rounds = (0 until PqTrainIters)
      .map(i => pqLloydRoundSql(s"pcb$i", s"pcb${i + 1}"))
      .mkString(",\n")
    val last = s"pcb$PqTrainIters"
    s"""WITH n AS (${Dedup.withNormSql}),
       |pun AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue
       |  FROM n),
       |pcoords AS MATERIALIZED (
       |  SELECT vec_id, CAST(j // $PqD AS INT) AS m,
       |    CAST(j % $PqD AS INT) AS i,
       |    CAST(floor(CAST(v AS DOUBLE) * $PqCoordScale + 0.5) AS BIGINT) AS q
       |  FROM (SELECT vec_id, unnest(ue) AS v, unnest(range(0, 64)) AS j
       |        FROM pun)),
       |pcb0 AS (
       |  SELECT CAST(vec_id AS INT) AS code, m, i, q AS c
       |  FROM pcoords WHERE vec_id < $PqK),
       |$rounds,
       |pdist AS MATERIALIZED (
       |  SELECT c.vec_id, c.m, cb.code,
       |    CAST(SUM((c.q - cb.c) * (c.q - cb.c)) AS BIGINT) AS sd
       |  FROM pcoords c JOIN $last cb ON cb.m = c.m AND cb.i = c.i
       |  GROUP BY 1, 2, 3),
       |pcodes AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY sd, code) AS rn
       |    FROM pdist) WHERE rn = 1),
       |plut AS (
       |  SELECT vec_id AS query_id, m, code, sd AS dq
       |  FROM pdist WHERE vec_id < 10),
       |padc AS (
       |  SELECT l.query_id, e.vec_id AS cand_id, CAST(SUM(l.dq) AS BIGINT) AS sd
       |  FROM pcodes e JOIN plut l ON l.m = e.m AND l.code = e.code
       |  WHERE e.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |pranked AS (
       |  SELECT query_id, cand_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY sd, cand_id) AS INT) AS rank
       |  FROM padc)
       |SELECT query_id, rank, cand_id
       |FROM pranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** CTE prefix shared by the two PQ oracles: everything up through
    * `adc` (query_id, cand_id, sd) — the SQL twin of [[pqAdc]]. */
  private val pqAdcCtesSql: String =
    s"""n AS (${Dedup.withNormSql}),
       |un AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS embedding
       |  FROM n),
       |cb AS (
       |  SELECT vec_id AS code, embedding AS cbe
       |  FROM un WHERE vec_id < $PqK),
       |sub AS (SELECT unnest(range($PqM)) AS m),
       |encp AS (
       |  SELECT e.vec_id, s.m, c.code,
       |    CAST(floor((${pqDistSql("e.embedding", "c.cbe")}) * $PqScale + 0.5)
       |      AS BIGINT) AS dq
       |  FROM un e CROSS JOIN cb c CROSS JOIN sub s),
       |enc AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dq, code) AS rn
       |    FROM encp) WHERE rn = 1),
       |lut AS (
       |  SELECT vec_id AS query_id, m, code, dq
       |  FROM encp WHERE vec_id < 10),
       |adc AS (
       |  SELECT l.query_id, e.vec_id AS cand_id, CAST(SUM(l.dq) AS BIGINT) AS sd
       |  FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
       |  WHERE e.vec_id <> l.query_id
       |  GROUP BY 1, 2)""".stripMargin

  val simSearchPqSql: String =
    s"""WITH $pqAdcCtesSql,
       |ranked AS (
       |  SELECT query_id, cand_id, sd,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY sd, cand_id) AS INT) AS rank
       |  FROM adc)
       |SELECT query_id, rank, cand_id,
       |  CAST(sd AS DOUBLE) / $PqScale.0 AS pq_dist
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  val simSearchPqRerankSql: String =
    s"""WITH $pqAdcCtesSql,
       |short AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY sd, cand_id) AS rn
       |    FROM adc) WHERE rn <= $PqShortlist),
       |rer AS (
       |  SELECT s.query_id, s.cand_id,
       |    (${Dedup.dotSql("q.embedding", "c.embedding")})
       |      / (q.nrm * c.nrm) AS cosine
       |  FROM short s
       |  JOIN n q ON q.vec_id = s.query_id
       |  JOIN n c ON c.vec_id = s.cand_id),
       |ranked AS (
       |  SELECT query_id, cand_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cosine DESC, cand_id) AS INT) AS rank
       |  FROM rer)
       |SELECT query_id, rank, cand_id, cosine
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** [[mmrDiversify]] shape: shortlist size, picks, trade-off λ = ½. */
  private val MmrShortlist = 20
  private val MmrK = 5

  /** MMR (maximal-marginal-relevance) diversified retrieval — the
    * post-retrieval re-rank a RAG stack runs so the k passages it
    * stuffs into a context are not five copies of the same fact: from
    * each query's top-[[MmrShortlist]] cosine shortlist, greedily pick
    * [[MmrK]] results maximizing `½·sim(q,d) − ½·max_{s∈picked}
    * sim(d,s)`. The greedy argmax is inherently sequential in k, so
    * the k rounds are STATICALLY unrolled ([[graft.operators.Graph]]
    * pagerank discipline, eager localCheckpoint per round — the
    * frames are queries×shortlist rows, trivially small); every float
    * op (λ = ½ scale, one subtract, comparisons) is exact, so picks
    * and scores hash-identically cross-engine.
    *
    * Scale shape: the expensive part is the shortlist (the standard
    * ANN ladder — here the brute-force baseline kernel); MMR itself
    * touches queries·shortlist² candidate-pair sims ONCE, then k
    * rounds of queries·shortlist-row argmaxes — cost independent of
    * corpus size, which is why production rerankers run MMR on the
    * shortlist and never the corpus. */
  private val mmrFixtures =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  /** [[mmrDiversify]]'s picks, staged once per source content
    * ([[graft.core.Fixtures.staged]] — the retrieval results of a
    * fixed query set over a fixed corpus are themselves a deterministic
    * artifact, the same train-once posture as the IVF codebook); the
    * greedy rounds run inside the stage. */
  private def mmrPicks(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.core.Fixtures.memo(mmrFixtures,
      (spark.sparkContext.applicationId, dir)) {
        graft.core.Fixtures.staged(dir, "mmrpicks",
            codeTag = s"mmr_s${MmrShortlist}_k${MmrK}_lambda05_v1") {
          target =>
            val picks = mmrCompute(spark, dir)
            picks.write.mode("overwrite").parquet(target)
            Caches.unpin(picks)
        }
      }
    spark.read.parquet(path)
  }

  private def mmrCompute(spark: SparkSession, dir: String): DataFrame = {
    val e = Dedup.withNorm(spark, dir)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("ea"),
        col("nrm").as("na"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val wQ = Window.partitionBy(col("query_id"))
      .orderBy(col("simq").desc, col("cand_id"))
    val short = Caches.pin(
      broadcast(q).join(c, col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"),
          (Dedup.dotExpr("ea", "eb") / (col("na") * col("nb"))).as("simq"),
          col("eb"), col("nb"))
        .withColumn("rk", row_number().over(wQ))
        .where(col("rk") <= MmrShortlist)
        .select(col("query_id"), col("cand_id"), col("simq"),
          col("eb"), col("nb")))
    val a = short.select(col("query_id"), col("cand_id").as("ca"),
      col("eb").as("ea2"), col("nb").as("na2"))
    val b2 = short.select(col("query_id"), col("cand_id").as("cb"),
      col("eb").as("eb2"), col("nb").as("nb2"))
    val cc = Caches.pin(a.join(b2, "query_id").where(col("ca") =!= col("cb"))
      .select(col("query_id"), col("ca"), col("cb"),
        (Dedup.dotExpr("ea2", "eb2") / (col("na2") * col("nb2"))).as("simc")))
    val wPick = Window.partitionBy(col("query_id"))
      .orderBy(col("mmr").desc, col("cand_id"))
    var sel = Caches.pin(short
      .withColumn("mmr", lit(0.5) * col("simq"))
      .withColumn("rk", row_number().over(wPick)).where(col("rk") === 1)
      .select(col("query_id"), col("cand_id"), lit(1).as("step"),
        col("mmr")))
    for (k <- 2 to MmrK) {
      val red = cc.join(
          sel.select(col("query_id"), col("cand_id").as("cb")),
          Seq("query_id", "cb"))
        .groupBy(col("query_id"), col("ca").as("cand_id"))
        .agg(max(col("simc")).as("red"))
      val pick = short
        .join(sel.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_anti")
        .join(red, Seq("query_id", "cand_id"))
        .withColumn("mmr", lit(0.5) * col("simq") - lit(0.5) * col("red"))
        .withColumn("rk", row_number().over(wPick)).where(col("rk") === 1)
        .select(col("query_id"), col("cand_id"), lit(k).as("step"),
          col("mmr"))
      val next = Caches.pin(sel.union(pick))
      Caches.unpin(sel)
      sel = next
    }
    Caches.unpin(short, cc)
    sel
  }

  def mmrDiversify(spark: SparkSession, dir: String): DataFrame =
    mmrPicks(spark, dir).orderBy(col("query_id"), col("step"))

  val mmrDiversifySql: String = {
    val steps = (2 to MmrK).map { k =>
      s"""red$k AS (
         |  SELECT c.query_id, c.ca AS cand_id, MAX(c.simc) AS red
         |  FROM cc c JOIN sel${k - 1} s
         |    ON s.query_id = c.query_id AND s.cand_id = c.cb
         |  GROUP BY 1, 2),
         |pick$k AS (
         |  SELECT query_id, cand_id, $k AS step, mmr FROM (
         |    SELECT sh.query_id, sh.cand_id,
         |      CAST(0.5 AS DOUBLE) * sh.simq
         |        - CAST(0.5 AS DOUBLE) * r.red AS mmr,
         |      ROW_NUMBER() OVER (PARTITION BY sh.query_id
         |        ORDER BY CAST(0.5 AS DOUBLE) * sh.simq
         |          - CAST(0.5 AS DOUBLE) * r.red DESC, sh.cand_id) AS rk
         |    FROM short sh
         |    JOIN red$k r
         |      ON r.query_id = sh.query_id AND r.cand_id = sh.cand_id
         |    ANTI JOIN sel${k - 1} s
         |      ON s.query_id = sh.query_id AND s.cand_id = sh.cand_id)
         |  WHERE rk = 1),
         |sel$k AS (SELECT * FROM sel${k - 1} UNION ALL
         |          SELECT * FROM pick$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (${Dedup.withNormSql}),
       |q AS (SELECT vec_id AS query_id, embedding AS ea, nrm AS na
       |      FROM e WHERE vec_id < 10),
       |short AS MATERIALIZED (
       |  -- MATERIALIZED: short/cc feed every unrolled greedy round;
       |  -- inlined, the 64-term dot expands once per reference and
       |  -- the planner blows up
       |  SELECT query_id, cand_id, simq FROM (
       |    SELECT q.query_id, c.vec_id AS cand_id,
       |      (${Dedup.dotSql("q.ea", "c.embedding")}) / (q.na * c.nrm)
       |        AS simq
       |    FROM q JOIN e c ON q.query_id <> c.vec_id)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY simq DESC, cand_id) <= $MmrShortlist),
       |cc AS MATERIALIZED (
       |  SELECT s1.query_id, s1.cand_id AS ca, s2.cand_id AS cb,
       |    (${Dedup.dotSql("x.embedding", "y.embedding")}) / (x.nrm * y.nrm)
       |      AS simc
       |  FROM short s1
       |  JOIN short s2
       |    ON s2.query_id = s1.query_id AND s2.cand_id <> s1.cand_id
       |  JOIN e x ON x.vec_id = s1.cand_id
       |  JOIN e y ON y.vec_id = s2.cand_id),
       |sel1 AS (
       |  SELECT query_id, cand_id, 1 AS step,
       |    CAST(0.5 AS DOUBLE) * simq AS mmr
       |  FROM (
       |    SELECT query_id, cand_id, simq,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY simq DESC, cand_id) AS rk
       |    FROM short)
       |  WHERE rk = 1),
       |$steps
       |SELECT query_id, CAST(step AS INT) AS step, cand_id, mmr
       |FROM sel$MmrK
       |ORDER BY query_id, step""".stripMargin
  }

  /** Token budget for [[ragAssemble]]'s assembled context. */
  private val RagBudget = 256L

  /** RAG context assembly — the last mile of the retrieval ladder:
    * for each query, take its [[mmrDiversify]] picks in MMR order,
    * keep documents while the running whitespace-token total stays
    * within [[RagBudget]], and emit the stitched context string with
    * its provenance counts — exactly what gets pasted into a prompt.
    * Composes the registry's own operators (shortlist → MMR → budget
    * cut → ordered stitch), the [[graft.llm.Pipeline]] discipline:
    * every stage is the already-oracled component itself.
    *
    * Scale shape: everything after retrieval touches only
    * queries×[[MmrK]] rows — a doc-id join against the corpus for
    * text (key equi-join, the only corpus-sized contact), one tiny
    * window for the running budget, one ordered-array group per
    * query. The ordered stitch is array_sort(struct(step, text)) —
    * deterministic, no string_agg ordering ambiguity. */
  def ragAssemble(spark: SparkSession, dir: String): DataFrame = {
    val picks = mmrPicks(spark, dir)
      .select(col("query_id"), col("cand_id"), col("step"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        size(filter(split(lower(col("text")), " "), t => t =!= ""))
          .cast("long").as("n_tok"))
    val wCum = Window.partitionBy(col("query_id")).orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    picks.join(docs, col("cand_id") === col("doc_id"))
      .withColumn("cum_tok", sum(col("n_tok")).over(wCum))
      .where(col("cum_tok") <= RagBudget)
      .groupBy(col("query_id"))
      .agg(count(lit(1)).cast("long").as("n_used"),
        max(col("cum_tok")).as("total_tokens"),
        array_join(
          expr("transform(array_sort(collect_list(struct(step, text)))," +
            " x -> x.text)"), " ").as("context"))
      .orderBy(col("query_id"))
  }

  val ragAssembleSql: String =
    s"""WITH picks AS (
       |  SELECT query_id, cand_id, step FROM ($mmrDiversifySql)),
       |docs AS (
       |  SELECT doc_id, text,
       |    CAST(LEN(LIST_FILTER(string_split(lower(text), ' '),
       |      t -> t <> '')) AS BIGINT) AS n_tok
       |  FROM documents),
       |cut AS (
       |  SELECT p.query_id, p.step, d.text, d.n_tok,
       |    CAST(SUM(d.n_tok) OVER (PARTITION BY p.query_id ORDER BY p.step
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tok
       |  FROM picks p JOIN docs d ON d.doc_id = p.cand_id)
       |SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_used,
       |  CAST(MAX(cum_tok) AS BIGINT) AS total_tokens,
       |  STRING_AGG(text, ' ' ORDER BY step) AS context
       |FROM cut
       |WHERE cum_tok <= $RagBudget
       |GROUP BY query_id
       |ORDER BY query_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_rag_assemble" -> ragAssemble,
    "llm_mmr_diversify" -> mmrDiversify,
    "llm_sim_search_lsh" -> simSearchLsh,
    "llm_sim_search_lsh_probe" -> simSearchLshProbe,
    "llm_sim_search_ivf" -> simSearchIvf,
    "llm_sim_search_ivf_trained" -> simSearchIvfTrained,
    "llm_dedup_embed_retrained" -> dedupEmbedRetrained,
    "llm_dedup_codebook_log" -> dedupCodebookLog,
    "llm_embed_cluster" -> embedCluster,
    "llm_embed_outliers" -> embedOutliers,
    "llm_embed_quantize" -> embedQuantize,
    "llm_sim_search_int8" -> simSearchInt8,
    "llm_sim_search_pq" -> simSearchPq,
    "llm_sim_search_pq_rerank" -> simSearchPqRerank,
    "llm_sim_search_pq_trained" -> ((s, d) => simSearchPqTrained(s, d)),
    "llm_sim_search" -> simSearch,
    "llm_hard_negatives" -> hardNegatives,
    "llm_rank_fusion" -> rankFusion,
    "llm_sim_search_native" -> simSearchNative,
    "llm_multimodal" -> multimodal,
    "llm_multimodal_binary" -> multimodalBinary,
  )

  val oracleSql: Map[String, String] = Map(
    "llm_rag_assemble" -> ragAssembleSql,
    "llm_mmr_diversify" -> mmrDiversifySql,
    "llm_sim_search_lsh" -> simSearchLshSql,
    "llm_sim_search_lsh_probe" -> simSearchLshProbeSql,
    "llm_sim_search_ivf" -> simSearchIvfSql,
    "llm_sim_search_ivf_trained" -> simSearchIvfTrainedSql,
    "llm_dedup_embed_retrained" -> dedupEmbedRetrainedSql,
    "llm_dedup_codebook_log" -> dedupCodebookLogSql,
    "llm_embed_cluster" -> embedClusterSql,
    "llm_embed_outliers" -> embedOutliersSql,
    "llm_embed_quantize" -> embedQuantizeSql,
    "llm_sim_search_int8" -> simSearchInt8Sql,
    "llm_sim_search_pq" -> simSearchPqSql,
    "llm_sim_search_pq_rerank" -> simSearchPqRerankSql,
    "llm_sim_search_pq_trained" -> simSearchPqTrainedSql,
    "llm_sim_search" -> simSearchSql,
    "llm_hard_negatives" -> hardNegativesSql,
    "llm_rank_fusion" -> rankFusionSql,
    "llm_sim_search_native" -> simSearchSql, // same contract, native kernel
    "llm_multimodal" -> multimodalSql,
    "llm_multimodal_binary" -> multimodalBinarySql,
  )
}
