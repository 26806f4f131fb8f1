package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** Native CosineSimilarity expression: extension registration, codegen
  * vs interpreted agreement, and bit-parity with the built-in fold. */
class NativeFunctionSpec extends AnyFunSuite with SparkSpec {

  test("graft_cosine resolves via spark.sql.extensions") {
    // SparkSpec's builder sets the extensions conf — SQL must resolve
    // the function without any imperative registration
    val r = spark.sql(
      """SELECT graft_cosine(array(cast(3.0 AS FLOAT), cast(4.0 AS FLOAT)),
        |                    array(cast(3.0 AS FLOAT), cast(4.0 AS FLOAT))) AS c"""
        .stripMargin).head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("registry operators leave the Session-built planner state untouched") {
    import graft.llm.Dedup
    import graft.operators.Relational
    import org.apache.spark.sql.graft.AsofJoinStrategy
    Relational.joinAsofNative(spark, sfDir).count()
    Dedup.minhashCandidates(graft.core.Tables.documents(spark, sfDir),
      "doc_id", "text").count()
    assert(spark.sessionState.planner.strategies
      .count(_ == AsofJoinStrategy) == 1)
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
    val fns = spark.sql(
      """SELECT graft_cosine(array(cast(1.0 AS FLOAT)), array(cast(1.0 AS FLOAT))),
        |       graft_minhash8('a b c d'), graft_simhash16('a b c d')"""
        .stripMargin).head
    assert(fns.getDouble(0) == 1.0 && !fns.isNullAt(1) && !fns.isNullAt(2))
  }

  test("orthogonal and opposite vectors") {
    val rows = spark.sql(
      """SELECT
        |  graft_cosine(array(cast(1.0 AS FLOAT), cast(0.0 AS FLOAT)),
        |               array(cast(0.0 AS FLOAT), cast(1.0 AS FLOAT))) AS ortho,
        |  graft_cosine(array(cast(1.0 AS FLOAT), cast(2.0 AS FLOAT)),
        |               array(cast(-1.0 AS FLOAT), cast(-2.0 AS FLOAT))) AS opp"""
        .stripMargin).head
    assert(rows.getDouble(0) == 0.0)
    assert(math.abs(rows.getDouble(1) + 1.0) < 1e-12)
  }

  test("codegen and interpreted paths agree bitwise") {
    import graft.core.Tables
    val pairs = Tables.embeddings(spark, sfDir).where(col("vec_id") < 50)
      .select(col("vec_id").as("va"), col("embedding").as("ea"))
      .crossJoin(Tables.embeddings(spark, sfDir).where(col("vec_id") < 5)
        .select(col("vec_id").as("vb"), col("embedding").as("eb")))
    def run(): Seq[(Long, Long, Long)] =
      pairs.select(col("va"), col("vb"), expr("graft_cosine(ea, eb)").as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2))))
        .sortBy(t => (t._1, t._2)).toSeq
    val viaCodegen = run()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = run()
      assert(viaCodegen == interpreted)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("native kernel is bit-identical to the zip_with/aggregate fold") {
    val fold = Similarity.simSearch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
    val native = Similarity.simSearchNative(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
    assert(fold.toSeq == native.toSeq)
  }
}
