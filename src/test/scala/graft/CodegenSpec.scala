package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Caches, Tables}
import graft.llm.Dedup
import graft.sources.TxnLog

/** Generated-code working sets. Spark keeps compiled classes in one
  * JVM-wide cache of `spark.sql.codegen.cache.maxEntries` (100: four LRU
  * segments of 25), so an operator whose steady state needs more
  * entries, or inlines per-call values into its code, re-runs Janino on
  * every call. Entry counts are deterministic where compile counts are
  * not (they depend on how keys hash into the segments). */
class CodegenSpec extends AnyFunSuite with SparkSpec with ScratchDirs {

  /** Calls `method` on Spark's compiled-class cache (a Spark-private
    * `NonFateSharingCache`), reached by reflection. */
  private def onCodegenCache(method: String): AnyRef = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod(method).invoke(cache)
  }

  /** The cache entries `op` adds to an emptied cache. */
  private def entriesAdded(op: => Any): Long = {
    onCodegenCache("invalidateAll")
    op
    onCodegenCache("size").asInstanceOf[java.lang.Long]
  }

  /** One dedup ladder pass, as the benchmark's `llm_dedup` runs it. */
  private def ladderPass(): Unit = {
    val cand = Dedup.minhashCandidates(Tables.documents(spark, sfDir), "doc_id", "text")
    cand.select(col("doc_a"), col("doc_b")).collect()
    Dedup.dedupJaccard(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
    val cc = Dedup.connectedComponents(spark, cand)
    cc.collect()
    Caches.unpin(cc)
    Dedup.dedupApply(spark, sfDir).groupBy(col("kept")).count().collect()
    Dedup.dedupEmbed(spark, sfDir)
      .select(col("vec_id"), col("nn_id"), col("is_near_dup")).collect()
    Caches.drain(spark)
    Caches.release(spark)
  }

  test("a warm dedup ladder pass fits the codegen cache with room to spare") {
    ladderPass() // stages the cluster labels
    val held = entriesAdded(ladderPass())
    val distributed = withThreshold(-1L)(entriesAdded(ladderPass()))
    info(s"entries per pass: held rungs $held, distributed rungs $distributed")
    assert(held <= 30, s"a ladder pass adds $held codegen cache entries")
  }

  private def rows(keys: Seq[Long]): DataFrame = {
    import spark.implicits._
    keys.map(k => (k, k * 10L, s"p$k")).toDF("k", "v", "s")
  }

  test("a second mergeUpsert with new Long keys compiles no code") {
    val root = scratchDir("graft_codegen_")
    TxnLog.writeAppend(spark, root, rows(0L until 40L).coalesce(1), "s", "t0")
    assert(TxnLog.mergeUpsert(spark, root, rows(15L until 45L), "k", "m1").nonEmpty)
    val before = CodeGenerator.compileTime
    assert(TxnLog.mergeUpsert(spark, root, rows((3L until 12L) ++ (50L until 57L)),
      "k", "m2").nonEmpty)
    assert(CodeGenerator.compileTime == before,
      s"the second merge compiled for ${(CodeGenerator.compileTime - before) / 1e6} ms")
  }

  test("a second deleteRange with new bounds compiles no code") {
    val root = scratchDir("graft_codegen_")
    TxnLog.writeAppend(spark, root, rows(0L until 200L).coalesce(1), "s", "t0")
    assert(TxnLog.deleteRange(spark, root, "k", "10", "19", "d1").nonEmpty)
    val before = CodeGenerator.compileTime
    assert(TxnLog.deleteRange(spark, root, "k", "42", "57", "d2").nonEmpty)
    assert(CodeGenerator.compileTime == before,
      s"the second delete compiled for ${(CodeGenerator.compileTime - before) / 1e6} ms")
  }
}
