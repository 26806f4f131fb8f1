package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.llm.Dedup

/** The native single-pass MinHash kernel must be bit-identical to the
  * composable explode → md5 → groupBy-min pipeline (whose algebra the
  * DuckDB oracle reproduces) — the equality that lets the LSH path
  * swap in the kernel without touching any oracle SQL. */
class MinHashSpec extends AnyFunSuite with SparkSpec {

  test("native kernel band frame equals the composable pipeline's") {
    val docs = Tables.documents(spark, sfDir)
    val composable = Dedup
      .bands(Dedup.signatures(Dedup.trigramsOf(docs, "doc_id", "text", dedupe = false)))
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
    val composable = Dedup
      .bands(Dedup.signatures(Dedup.trigramsOf(docs, "doc_id", "text", dedupe = false)))
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
    val composableBands = Dedup
      .bands(Dedup.signatures(Dedup.trigramsOf(docs, "doc_id", "text", dedupe = false)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val nativeBands = Dedup.bandsOfSigs(Dedup.signaturesNative(docs, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(nativeBands == composableBands)
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
