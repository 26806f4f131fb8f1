package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.llm.Dedup

/** The native single-pass MinHash kernel must be bit-identical to the
  * composable explode → md5 → groupBy-min pipeline (whose algebra the
  * DuckDB oracle reproduces) — the equality that lets the LSH path
  * swap in the kernel without touching any oracle SQL. */
class MinHashSpec extends AnyFunSuite with SparkSpec {

  /** The composable reference: signature columns h0..h7 from (doc_id, g)
    * trigram rows, two md5 digests per trigram, each split into four
    * 8-hex (32-bit) chunks, min per document — the algebra the oracle's
    * `signaturesSql` spells out. */
  private def signatures(tg: DataFrame): DataFrame =
    tg.select(col("doc_id"), md5(col("g")).as("m1"), md5(concat(lit("x:"), col("g"))).as("m2"))
      .groupBy(col("doc_id"))
      .agg(min(substring(col("m1"), 1, 8)).as("h0"),
        ((1 until 4).map(s => min(substring(col("m1"), 8 * s + 1, 8)).as(s"h$s")) ++
          (0 until 4).map(s => min(substring(col("m2"), 8 * s + 1, 8)).as(s"h${4 + s}"))): _*)

  /** (doc_id, b, v) rows of the reference signatures: 4 bands of 2. */
  private def bands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array((0 until 4).map(b => struct(lit(b).as("b"),
        concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}")).as("v"))): _*)).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.v").as("v"))

  /** The reference band frame of an (doc_id, text) frame. */
  private def composableBands(docs: DataFrame): DataFrame =
    bands(signatures(Dedup.trigramsOf(docs, "doc_id", "text", dedupe = false)))

  test("native kernel band frame equals the composable pipeline's") {
    val docs = Tables.documents(spark, sfDir)
    val composable = composableBands(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val native = Dedup.bandsOfSigs(Dedup.signaturesNative(docs, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(native == composable)
    assert(native.nonEmpty)
  }

  test("kernel null/edge semantics match the composable pipeline") {
    import spark.implicits._
    val docs = Seq(
      (1L, "only two"),              // < 3 tokens -> no signature
      (2L, "exactly three tokens"),  // one trigram
      (3L, "a  b c"),                // empty token kept by split semantics
      (4L, "UPPER case NORMALIZED lower")
    ).toDF("doc_id", "text")
    val composable = composableBands(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val native = Dedup.bandsOfSigs(Dedup.signaturesNative(docs, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(native == composable)
    assert(!native.exists(_._1 == 1L)) // doc with no trigram is absent
    assert(native.exists(_._1 == 3L))
  }

  test("native simhash fingerprints equal the composable pipeline's") {
    val composable = Dedup.simhashFingerprintsComposable(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr("graft_simhash16(lower(text))").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == composable)
    assert(native.nonEmpty)
    // registry query agrees too (it routes through the native kernel)
    val viaQuery = Dedup.dedupSimhash(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaQuery == composable)
  }

  test("kernels equal the composable pipelines on random texts (property)") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val words = Vector("a", "bb", "ccc", "Dd", "EE", "", "ff gg", "h-h", "ii")
    val docs = (0 until 200).map { i =>
      val n = rng.nextInt(8) // 0..7 tokens: covers the no-trigram edge
      (i.toLong, (0 until n).map(_ => words(rng.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val refBands = composableBands(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val nativeBands = Dedup.bandsOfSigs(Dedup.signaturesNative(docs, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(nativeBands == refBands)
    val composableFp = Dedup
      .simhashComposableOf(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nativeFp = docs
      .select(col("doc_id"), expr("graft_simhash16(lower(text))").as("fp"))
      .where(col("fp").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nativeFp == composableFp)
  }

  test("whole-stage codegen keeps the kernel projection inline, no aggregate") {
    // non-vacuous form (r8): "Found 0 WholeStageCodegen subtrees"
    // contains the bare literal, so require a non-zero count with AQE
    // off for the explain — the frame must also be BUILT in the
    // AQE-off scope, or the adaptive wrapper still reports 0
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (df, codegen) =
      try {
        val d = Dedup.bandsOfSigs(Dedup.signaturesNative(
          Tables.documents(spark, sfDir), "doc_id", "text"))
        (d, d.queryExecution.explainString(
          org.apache.spark.sql.execution.CodegenMode))
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert("Found (\\d+) WholeStageCodegen subtrees".r
      .findFirstMatchIn(codegen).exists(_.group(1).toInt >= 1),
      codegen.take(2000))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("hashaggregate"),
      s"native path must not aggregate:\n$p")
    // the kernel must appear exactly once per plan branch: a pushed-down
    // isnotnull(sig) filter would clone it into the scan
    assert("graft_minhash8".r.findAllIn(p).size <= 2, p)
  }
}
