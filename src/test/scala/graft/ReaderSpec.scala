package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Det
import graft.sources.TxnLog

/** The txn-log reader reads data under the log's own schema. Every
  * table shape it serves must read exactly as the footer-inferred
  * `mergeSchema` read did: the same rows under the same schema. The
  * reference below rebuilds that read from the public log state
  * alone, so it shares no code with the reader. */
class ReaderSpec extends AnyFunSuite with SparkSpec with ScratchDirs {

  private def loc(root: String, st: TxnLog.State, f: String): String =
    st.ext.get(f).map(p => if (p.startsWith("/")) p else s"$root/$p")
      .getOrElse(s"$root/$f")

  /** Version `v` of `root` read as one `mergeSchema` scan of its live
    * files, the column mapping coalesced, deletion vectors anti-joined
    * on (leaf path, row index), projected to the version's metaData. */
  private def mergeSchemaRead(root: String, v: Int): DataFrame = {
    val st = TxnLog.stateAt(root, v)
    val files = st.live.toSeq.sorted
    val schema = StructType.fromDDL(st.schemaDdl.get)
    if (files.isEmpty) return spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    var df = spark.read.option("mergeSchema", "true")
      .parquet(files.map(loc(root, st, _)): _*)
      .withColumn("__path", regexp_extract(col("_metadata.file_path"),
        "/([^/]+/[^/]+)$", 1))
      .withColumn("__pos", col("_metadata.row_index"))
    for ((l, ps) <- st.colmap.toSeq.sortBy(_._1)) {
      val present = ps.filter(df.columns.contains)
      val feeds = (if (df.columns.contains(l)) Seq(col(l)) else Nil) ++
        present.map(col)
      if (present.nonEmpty)
        df = df.withColumn(l, coalesce(feeds: _*)).drop(present: _*)
    }
    val vectored = files.flatMap(f => st.dvs.get(f).map(d => f -> d._1))
    if (vectored.nonEmpty)
      df = df.join(vectored.map { case (f, d) =>
        spark.read.parquet(loc(root, st, d))
          .where(regexp_extract(col("path"), "^([^/]+)/", 1) === f)
          .select(col("path").as("__path"), col("pos").as("__pos"))
      }.reduce(_ unionAll _), Seq("__path", "__pos"), "left_anti")
    df.select(schema.fields.toSeq.map(f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)): _*)
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Same rows under the same schema, nullability included. */
  private def assertSame(what: String, got: DataFrame, ref: DataFrame): Unit = {
    assert(got.schema == ref.schema, s"$what: schema")
    assert(rowsOf(got) == rowsOf(ref), s"$what: rows")
  }

  /** Every version of `root` reads as the `mergeSchema` read does. */
  private def assertEveryVersion(root: String): Unit =
    for (v <- 1 to TxnLog.latestVersion(root))
      assertSame(s"v$v", TxnLog.read(spark, root, v), mergeSchemaRead(root, v))

  private def kv(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(k => (k, k * 1.25)).toDF("k", "v").coalesce(1)
  }

  private def kvTag(lo: Long, hi: Long): DataFrame =
    kv(lo, hi).withColumn("tag", concat(lit("t"), col("k")))

  test("an evolved table (appended and added columns) reads as mergeSchema did") {
    val root = scratchDir("graft_reader_")
    TxnLog.writeAppend(spark, root, kv(0, 10), "s", "a")
    TxnLog.writeAppend(spark, root, kvTag(10, 20), "s", "b", evolve = true)
    TxnLog.addColumns(root, StructType(Seq(
      StructField("extra", IntegerType))), "s")
    TxnLog.writeAppend(spark, root,
      kvTag(20, 25).withColumn("extra", lit(7)), "s", "c")
    assert(TxnLog.read(spark, root).columns.toSeq ==
      Seq("k", "v", "tag", "extra"))
    assertEveryVersion(root)
  }

  test("a renamed stats column (colmap) reads and looks up as mergeSchema did") {
    val root = scratchDir("graft_reader_")
    TxnLog.writeAppend(spark, root, kv(0, 10), "s", "a",
      statsCols = Seq("k"))
    TxnLog.renameColumn(root, "k", "key", "s")
    TxnLog.writeAppend(spark, root, kv(10, 20).withColumnRenamed("k", "key"),
      "s", "b", statsCols = Seq("key"))
    TxnLog.renameColumn(root, "key", "id", "s")
    assert(TxnLog.stateAt(root, TxnLog.latestVersion(root)).colmap ==
      Map("id" -> Seq("k", "key")))
    assertEveryVersion(root)
    val (hit, _, _) = TxnLog.readPointLookup(spark, root, "id", "3")
    assert(hit.where(col("id") === 3L).count() == 1)
  }

  test("a dropped column comes back with RESTORE as mergeSchema did") {
    val root = scratchDir("graft_reader_")
    TxnLog.writeAppend(spark, root, kvTag(0, 10), "s", "a")
    TxnLog.writeAppend(spark, root, kvTag(10, 20), "s", "b")
    TxnLog.dropColumn(root, "tag", "s")
    assert(TxnLog.deleteRange(spark, root, "k", "2", "4", "d").nonEmpty)
    assert(TxnLog.restore(root, 2, "r").nonEmpty)
    assert(TxnLog.read(spark, root).columns.toSeq == Seq("k", "v", "tag"))
    assert(TxnLog.read(spark, root).where(col("tag") === "t3").count() == 1)
    assertEveryVersion(root)
  }

  test("deletion vectors apply as they did under mergeSchema") {
    val root = scratchDir("graft_reader_")
    TxnLog.writeAppend(spark, root, kv(0, 10), "s", "a")
    TxnLog.writeAppend(spark, root, kvTag(10, 20), "s", "b", evolve = true)
    assert(TxnLog.deleteRangeDV(spark, root, "k", "2", "4", "d").nonEmpty)
    assert(TxnLog.deletePredicateDV(spark, root, "k = 5 OR k = 15", "d")
      .nonEmpty)
    assert(TxnLog.read(spark, root).count() == 15)
    assertEveryVersion(root)
  }

  test("a cloned table reads its ext-referenced files as mergeSchema did") {
    val src = scratchDir("graft_reader_")
    val dst = scratchDir("graft_reader_")
    TxnLog.writeAppend(spark, src, kv(0, 10), "s", "a")
    TxnLog.writeAppend(spark, src, kvTag(10, 20), "s", "b", evolve = true)
    assert(TxnLog.deleteRangeDV(spark, src, "k", "12", "13", "d").nonEmpty)
    assert(TxnLog.cloneTable(src, dst, "c") == 1)
    assert(TxnLog.stateAt(dst, 1).ext.nonEmpty)
    assert(TxnLog.deleteRange(spark, dst, "k", "0", "1", "w").nonEmpty)
    assertEveryVersion(dst)
  }

  test("a partitioned append reads and prunes as mergeSchema did") {
    val root = scratchDir("graft_reader_")
    val rows = kvTag(0, 30).withColumn("part", (col("k") % 3).cast("int"))
    // a partitioned append publishes no schema: the table's is set first
    TxnLog.commitNext(root, Seq.empty, "s", schemaDdl = Some(rows.schema.toDDL))
    TxnLog.commitPartitionedAppend(spark, root, rows, Seq("part"), Seq("k"), "s")
    assertEveryVersion(root)
    val (df, scanned, pruned) = TxnLog.readPrunedWhere(spark, root,
      Seq("part" -> "1"), Seq.empty)
    assert(scanned.size == 1 && pruned.size == 2)
    assertSame("pruned read", df,
      mergeSchemaRead(root, 2).where(col("part") === 1))
  }

  /** A table whose history has appends, an evolution, a rewrite, a
    * deletion vector, a MERGE and an OPTIMIZE. */
  private def churned(): String = {
    val root = scratchDir("graft_reader_")
    TxnLog.writeAppend(spark, root, kv(0, 10), "s", "a")
    TxnLog.writeAppend(spark, root, kvTag(10, 20), "s", "b", evolve = true)
    assert(TxnLog.deleteRange(spark, root, "k", "2", "3", "d").nonEmpty)
    assert(TxnLog.deleteRangeDV(spark, root, "k", "14", "15", "d").nonEmpty)
    assert(TxnLog.mergeUpsert(spark, root,
      kvTag(8, 12).withColumn("v", lit(-1.0)), "k", "m").nonEmpty)
    assert(TxnLog.compact(spark, root, "o").nonEmpty)
    root
  }

  test("readChanges of every version equals the mergeSchema reads' diff") {
    val root = churned()
    for (v <- 2 to TxnLog.latestVersion(root)) {
      val schema = TxnLog.schemaAt(root, v).get
      def at(x: Int): DataFrame = {
        val df = mergeSchemaRead(root, x)
        df.select(schema.fields.toSeq.map(f =>
          if (df.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
      }
      val changes = TxnLog.readChanges(spark, root, v - 1, v)
      def kind(t: String) = changes.where(col("_change_type") === t)
        .select(schema.fieldNames.toSeq.map(col): _*)
      assertSame(s"v$v inserts", kind("insert"), at(v).exceptAll(at(v - 1)))
      assertSame(s"v$v deletes", kind("delete"), at(v - 1).exceptAll(at(v)))
    }
  }

  test("versionsRollup of every version equals the mergeSchema reads' totals") {
    val root = churned()
    val rolled = TxnLog.versionsRollup(spark, root, "v").collect()
      .map(r => r.getAs[Int]("version") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_cents"))).toMap
    for (v <- 1 to TxnLog.latestVersion(root)) {
      val ref = mergeSchemaRead(root, v)
        .agg(count(lit(1)), coalesce(sum(Det.cents(col("v"))), lit(0L)))
        .head()
      assert(rolled(v) == (ref.getLong(0), ref.getLong(1)), s"v$v")
    }
  }

  test("a log with no metaData falls back to footer inference") {
    val root = scratchDir("graft_reader_")
    kv(0, 5).write.parquet(s"$root/f0")
    kvTag(5, 10).write.parquet(s"$root/f1")
    TxnLog.commitNext(root, Seq(TxnLog.add("f0"), TxnLog.add("f1")), "s")
    assert(TxnLog.schemaAt(root, 1).isEmpty)
    val got = TxnLog.read(spark, root)
    val ref = spark.read.option("mergeSchema", "true")
      .parquet(s"$root/f0", s"$root/f1")
    assert(got.columns.toSeq == Seq("k", "v", "tag"))
    assertSame("inferred", got, ref)
  }

  test("a file whose footer type conflicts with the log's DDL fails loudly") {
    val root = scratchDir("graft_reader_")
    val ext = scratchDir("graft_reader_ext_")
    TxnLog.writeAppend(spark, root, kv(0, 5), "s", "a")
    // an external file typing `v` as STRING, bypassing the write-side
    // schema check the way a clone reference to a foreign file would
    kv(5, 10).withColumn("v", col("v").cast("string"))
      .write.parquet(s"$ext/x")
    TxnLog.commitNext(root, Seq(TxnLog.add("x"),
      TxnLog.ExtRef("x", s"$ext/x")), "s")
    val df = TxnLog.read(spark, root)
    assert(df.schema("v").dataType.typeName == "double",
      "the reader retyped the log's column")
    intercept[Exception](df.collect())
  }
}
