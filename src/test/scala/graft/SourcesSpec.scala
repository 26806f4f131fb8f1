package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.Relational

/** Source/sink breadth beyond parquet (reference D1/D5/D8 analogues):
  * JSON and CSV round-trips, JSON schema inference (the TemplateApp
  * route), and partition-pruning plan behavior. */
class SourcesSpec extends AnyFunSuite with SparkSpec with ScratchDirs {

  private def tmp(): String = scratchDir("graft_sources")

  test("json round-trip preserves rows and schema-inferred reads work") {
    val base = tmp()
    val src = Tables.orders(spark, sfDir)
    src.write.json(s"$base/orders_json")
    val back = spark.read.json(s"$base/orders_json") // inferred schema
    assert(back.count() == src.count())
    // inference lifts timestamps to string — values must still agree
    val a = src.select(col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = back.select(col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  test("json lift of whole records (TemplateApp D7/D8 parity)") {
    // records → JSON strings → read.json(Dataset[String]) with inference
    import spark.implicits._
    val jsonStrings = Tables.nation(spark, sfDir)
      .select(to_json(struct(col("*"))).as("j")).as[String]
    val lifted = spark.read.json(jsonStrings)
    assert(lifted.count() == 25)
    assert(lifted.columns.toSet == Set("n_nationkey", "n_name", "n_regionkey"))
  }

  test("csv round-trip with explicit schema preserves values") {
    val base = tmp()
    val src = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    src.write.option("header", "true").csv(s"$base/cust_csv")
    val back = spark.read.option("header", "true")
      .schema("c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE")
      .csv(s"$base/cust_csv")
    val a = src.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    val b = back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("orc round-trip preserves rows and types") {
    val base = tmp()
    val src = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    src.write.orc(s"$base/li_orc")
    val back = spark.read.orc(s"$base/li_orc")
    assert(back.schema == src.schema)
    val a = src.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(t => (t._1, t._2))
    val b = back.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(t => (t._1, t._2))
    assert(a.toSeq == b.toSeq)
  }

  test("xml round-trip with explicit schema preserves values") {
    val base = tmp()
    val src = Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    src.write.option("rowTag", "row").format("xml").save(s"$base/n_xml")
    val back = spark.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("rowTag", "row").format("xml").load(s"$base/n_xml")
    val a = src.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1)
    val b = back.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    // inferred read agrees on row count (types widen under inference)
    val inferred = spark.read.option("rowTag", "row")
      .format("xml").load(s"$base/n_xml")
    assert(inferred.count() == src.count())
  }

  test("partitioned scan prunes to the selected partition") {
    val df = Relational.scanPartitionPruned(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("l_returnflag"),
      s"partition filter missing:\n${plan.take(1500)}")
    // pruned scan must agree with the unpartitioned filter
    val expected = Tables.lineitem(spark, sfDir)
      .where(col("l_returnflag") === "R").count()
    assert(df.count() == expected)
  }
}
