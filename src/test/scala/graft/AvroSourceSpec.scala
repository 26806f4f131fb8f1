package graft

import java.io.File

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AvroSource

/** DataFrame-level Avro source: schema mapping, value conversion
  * (incl. nested/array/map/bytes), schema-evolution projection, and
  * interop with the relational operators once loaded. */
class AvroSourceSpec extends AnyFunSuite with SparkSpec with ScratchDirs {

  private val schema = new Schema.Parser().parse(
    """{"type":"record","name":"Ev","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":["null","string"],"default":null},
      |{"name":"score","type":"double"},
      |{"name":"tags","type":{"type":"array","items":"string"}},
      |{"name":"props","type":{"type":"map","values":"int"}},
      |{"name":"blob","type":"bytes"},
      |{"name":"inner","type":{"type":"record","name":"Inner","fields":[
      |  {"name":"a","type":"int"},{"name":"b","type":"string"}]}}
      |]}""".stripMargin)

  private def writeRows(path: String, n: Int): Unit = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    new File(path).getParentFile.mkdirs()
    w.create(schema, new File(path))
    (1 to n).foreach { i =>
      val r = new GenericData.Record(schema)
      r.put("id", i.toLong)
      r.put("name", if (i % 3 == 0) null else s"name_$i")
      r.put("score", i * 1.5)
      r.put("tags", java.util.Arrays.asList(s"t$i", "common"))
      val m = new java.util.HashMap[String, Integer](); m.put("k", i)
      r.put("props", m)
      r.put("blob", java.nio.ByteBuffer.wrap(Array[Byte](i.toByte, 2, 3)))
      val inner = new GenericData.Record(schema.getField("inner").schema())
      inner.put("a", i); inner.put("b", s"b$i")
      r.put("inner", inner)
      w.append(r)
    }
    w.close()
  }

  test("schema maps to Catalyst with nullability from unions") {
    val st = AvroSource.toCatalyst(schema).asInstanceOf[StructType]
    assert(st("id").dataType == LongType && !st("id").nullable)
    assert(st("name").dataType == StringType && st("name").nullable)
    assert(st("tags").dataType == ArrayType(StringType, containsNull = false))
    assert(st("props").dataType == MapType(StringType, IntegerType, valueContainsNull = false))
    assert(st("blob").dataType == BinaryType)
    assert(st("inner").dataType.isInstanceOf[StructType])
  }

  test("reads nested rows and supports relational ops on top") {
    val base = scratchDir("graft_avro_src")
    writeRows(s"$base/part-0.avro", 6)
    writeRows(s"$base/part-1.avro", 6)
    val df = AvroSource.read(spark, base)
    assert(df.count() == 12)
    assert(df.where(col("name").isNull).count() == 4) // i%3==0, twice
    val agg = df.agg(sum(col("score")), countDistinct(col("id"))).head
    assert(agg.getDouble(0) == 2 * (1 to 6).map(_ * 1.5).sum)
    assert(agg.getLong(1) == 6)
    assert(df.select(col("inner.b")).where(col("inner.a") === 2).head.getString(0) == "b2")
    assert(df.select(explode(col("tags")).as("t")).where(col("t") === "common").count() == 12)
    assert(df.select(element_at(col("props"), "k")).head.getInt(0) > 0)
  }

  test("write → read round-trips nested rows (bidirectional source)") {
    val base = scratchDir("graft_avro_rt")
    writeRows(s"$base/part-0.avro", 5)
    val df = AvroSource.read(spark, base)
    // sibling dir, not under base: the write job re-evaluates the lazy
    // read of base, which must not see the output dir in its listing
    val out = s"${scratchDir("graft_avro_rt_out")}/rewritten"
    AvroSource.write(df, out)
    val back = AvroSource.read(spark, out)
    assert(back.schema == df.schema, "schema must survive the round-trip")
    val a = df.orderBy(col("id")).collect().toSeq
    val b = back.orderBy(col("id")).collect().toSeq
    assert(a == b, "rows must survive the round-trip byte-identically")
    // nullable union + default survived: the rewritten files decode
    // under the ORIGINAL schema too (reader-schema projection)
    val proj = AvroSource.read(spark, out, readerSchema = Some(schema))
    assert(proj.count() == 5)
  }

  test("logical types round-trip: decimal, date, timestamp (VERDICT r5 #1)") {
    import spark.implicits._
    val df = Seq(
      (1L, "1995-03-15", "1995-03-15 12:34:56.789123", "12345.67"),
      (2L, "2020-12-31", "2020-12-31 23:59:59.000001", "-0.01"),
      (3L, "1970-01-01", "1970-01-01 00:00:00.0", "99999999.99"))
      .toDF("id", "d", "ts", "price")
      .select(col("id"), col("d").cast("date").as("d"),
        col("ts").cast("timestamp").as("ts"),
        col("price").cast("decimal(12,2)").as("price"))
    val out = s"${scratchDir("graft_avro_logical")}/t"
    AvroSource.write(df, out)
    // the written Avro schema carries the logical annotations
    val written = AvroSource.fromCatalyst(df.schema)
    // cast-produced columns are nullable → [null, T] unions; the
    // logical annotation lives on the non-null branch
    def logical(f: String): String = {
      import scala.jdk.CollectionConverters._
      val s = written.getField(f).schema()
      val base = if (s.getType == Schema.Type.UNION)
        s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get else s
      base.getLogicalType.getName
    }
    assert(logical("d") == "date")
    assert(logical("ts") == "timestamp-micros")
    assert(logical("price") == "decimal")
    val back = AvroSource.read(spark, out)
    assert(back.schema("d").dataType == DateType)
    assert(back.schema("ts").dataType == TimestampType)
    assert(back.schema("price").dataType == DecimalType(12, 2))
    val a = df.orderBy(col("id")).collect().toSeq
    val b = back.orderBy(col("id")).collect().toSeq
    assert(a == b, s"logical values must survive the round-trip:\n$a\n$b")
  }

  test("reader-schema evolution on a logical-typed column") {
    // v1 writes (id, price decimal(10,2)); v2 adds a nullable date —
    // old files must decode under v2 with the decimal intact and the
    // new logical-typed column null
    import spark.implicits._
    val v1 = Seq((1L, "10.50"), (2L, "20.25")).toDF("id", "price")
      .select(col("id"), col("price").cast("decimal(10,2)").as("price"))
    val out = s"${scratchDir("graft_avro_evo_logical")}/t"
    AvroSource.write(v1, out)
    val v2 = new Schema.Parser().parse(
      """{"type":"record","name":"GraftRecord","namespace":"graft.avro","fields":[
        |{"name":"id","type":"long"},
        |{"name":"price","type":{"type":"bytes","logicalType":"decimal","precision":10,"scale":2}},
        |{"name":"added_on","type":["null",{"type":"int","logicalType":"date"}],"default":null}
        |]}""".stripMargin)
    val df = AvroSource.read(spark, out, readerSchema = Some(v2))
    assert(df.schema("price").dataType == DecimalType(10, 2))
    assert(df.schema("added_on").dataType == DateType)
    assert(df.where(col("added_on").isNull).count() == 2)
    assert(df.agg(sum(col("price"))).head.getDecimal(0)
      == new java.math.BigDecimal("30.75"))
  }

  test("reader schema projects old files (schema evolution)") {
    val v2 = new Schema.Parser().parse(
      """{"type":"record","name":"Ev","fields":[
        |{"name":"id","type":"long"},
        |{"name":"score","type":"double"},
        |{"name":"extra","type":["null","string"],"default":null}
        |]}""".stripMargin)
    val base = scratchDir("graft_avro_evo")
    // v1 files use the 7-field schema; read them under the narrower v2
    // reader schema: kept fields decode, the new field defaults null
    writeRows(s"$base/part-0.avro", 3)
    val df = AvroSource.read(spark, base, readerSchema = Some(v2))
    assert(df.columns.toSeq == Seq("id", "score", "extra"))
    assert(df.count() == 3)
    assert(df.where(col("extra").isNull).count() == 3)
  }
}
