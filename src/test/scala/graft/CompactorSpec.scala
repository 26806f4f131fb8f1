package graft

import java.io.File
import java.nio.file.Files

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.compact.{Compactor, FsOps}
import graft.compact.Compactor.Config

/** Compactor semantics — the reference's validation/commit matrix
  * (FIXTURES.md §B): flat + partitioned compaction, dynamic sizing,
  * rejection cases, dot/underscore ignores, mutation abort, trash on
  * overwrite, and schema evolution for both parquet and avro. */
class CompactorSpec extends AnyFunSuite with SparkSpec with ScratchDirs {

  private def tmpBase(): String =
    scratchDir("graft_compact_spec")

  private def sampleDf(n: Int = 100): DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"name_$i", i % 7)).toDF("id", "name", "grp")
  }

  private def cfg(base: String, over: Boolean = false, files: Int = 2): Config =
    Config(
      sourceFolder = s"$base/src", targetFolder = s"$base/tgt",
      fileCount = files, overwriteTarget = over,
      trashFolder = s"$base/trash", tmpFolder = s"$base/tmp")

  private def fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)

  test("flat folder: compacts k files to n, preserves rows") {
    val base = tmpBase()
    sampleDf(500).repartition(5).write.parquet(s"$base/src")
    val res = Compactor.run(spark, cfg(base, files = 2))
    assert(res.ok, res.log.toTsv)
    assert(res.partitions.map(_.outputFiles).sum == 2)
    assert(res.partitions.head.rows == 500)
    val out = spark.read.parquet(s"$base/tgt")
    assert(out.count() == 500)
    assert(out.agg(sum(col("id"))).head.getLong(0) == 500L * 501 / 2)
    // tmp session folder cleaned on success
    assert(fsOps.listLeafFolders(s"$base/tmp", ".parquet").isEmpty)
    // audit log written next to the target
    assert(fsOps.exists(s"$base/tgt/.compactlog"))
  }

  test("dynamic file count: small data collapses to one file") {
    val base = tmpBase()
    sampleDf(200).repartition(6).write.parquet(s"$base/src")
    val res = Compactor.run(spark, cfg(base, files = 0))
    assert(res.ok)
    assert(res.partitions.head.outputFiles == 1)
  }

  test("partitioned folder: per-leaf compaction preserves structure") {
    val base = tmpBase()
    for (p <- Seq("a", "b", "c"))
      sampleDf(90).where(col("grp") === p.length)
        .repartition(3).write.parquet(s"$base/src/part=$p")
    val res = Compactor.run(spark, cfg(base, files = 1))
    assert(res.ok, res.log.toTsv)
    assert(res.partitions.size == 3)
    for (p <- Seq("a", "b", "c"))
      assert(fsOps.listDataFiles(s"$base/tgt/part=$p", ".parquet").length == 1)
    assert(spark.read.parquet(s"$base/tgt").count() ==
      sampleDf(90).where(col("grp").isin(1, 2, 3)).count())
  }

  test("rejects a leaf with fewer than two data files") {
    val base = tmpBase()
    sampleDf(10).coalesce(1).write.parquet(s"$base/src")
    val res = Compactor.run(spark, cfg(base))
    assert(!res.ok)
    assert(res.log.all.exists(_.message.contains(">=2 data files")))
  }

  test("rejects a mixed folder (subdirectory next to data files)") {
    val base = tmpBase()
    sampleDf(50).repartition(2).write.parquet(s"$base/src")
    sampleDf(10).coalesce(1).write.parquet(s"$base/src/nested")
    val res = Compactor.run(spark, cfg(base))
    assert(!res.ok)
    assert(res.log.all.exists(_.message.contains("not a pure data folder")))
  }

  test("rejects existing target without overwrite, requires trash+tmp with it") {
    val base = tmpBase()
    sampleDf(50).repartition(2).write.parquet(s"$base/src")
    fsOps.mkdirs(s"$base/tgt")
    assert(!Compactor.run(spark, cfg(base)).ok)
    val missingTrash = cfg(base, over = true).copy(trashFolder = "")
    assert(!Compactor.run(spark, missingTrash).ok)
  }

  test("dot/underscore entries are ignored, not treated as data") {
    val base = tmpBase()
    sampleDf(50).repartition(2).write.parquet(s"$base/src") // writes _SUCCESS itself
    Files.writeString(new File(s"$base/src/.hidden").toPath, "x")
    val res = Compactor.run(spark, cfg(base))
    assert(res.ok, res.log.toTsv)
  }

  test("listLeafFolders matches the recursive listFiles walk, order included") {
    val base = tmpBase()
    def touch(rel: String): Unit = {
      val f = new File(s"$base/$rel")
      f.getParentFile.mkdirs()
      Files.write(f.toPath, Array[Byte](1))
    }
    // the root is itself a leaf, next to nested partitions, markers,
    // checksums, dot/underscore dirs, a non-data file and an empty dir
    Seq("root.parquet", "_SUCCESS", ".root.parquet.crc", "notes.txt",
      "y=1/m=1/a.parquet", "y=1/m=1/b.parquet", "y=1/m=1/_SUCCESS",
      "y=1/m=1/.a.parquet.crc", "y=1/m=2/a.parquet", "y=1/m=2/a.avro",
      "y=2/top.parquet", "y=2/m=1/a.parquet", "y=2/m=3/only.txt",
      "_tmp/a.parquet", ".hidden/m=9/a.parquet", "_SUCCESS_dir/x.avro")
      .foreach(touch)
    new File(s"$base/empty/deeper").mkdirs()
    // the walk listLeafFolders replaced: one recursive listFiles
    def listFilesWalk(root: String, ext: String): List[String] = {
      val it = fsOps.fs.listFiles(new Path(root), true)
      val parents = scala.collection.mutable.LinkedHashSet[String]()
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && fsOps.isDataFile(s.getPath.getName, ext))
          parents += s.getPath.getParent.toString
      }
      parents.toList
    }
    for (root <- Seq(base, s"$base/", s"$base/y=1", s"$base/y=1/m=1",
         s"$base/y=2", s"$base/empty"); ext <- Seq(".parquet", ".avro")) {
      val leaves = fsOps.listLeafFolders(root, ext)
      assert(leaves == listFilesWalk(root, ext), s"$root $ext")
    }
    val all = fsOps.listLeafFolders(base, ".parquet")
      .map(fsOps.partitionPath(base, _)).sorted
    assert(all == List("", "/.hidden/m=9", "/_tmp", "/y=1/m=1", "/y=1/m=2",
      "/y=2", "/y=2/m=1"))
    assert(fsOps.listLeafFolders(s"$base/empty", ".parquet").isEmpty)
  }

  test("aborts commit when the source changes mid-flight") {
    val base = tmpBase()
    sampleDf(100).repartition(2).write.parquet(s"$base/src")
    val res = Compactor.run(spark, cfg(base), beforeCommit = () => {
      // mutate the source between write and commit gate
      sampleDf(5).coalesce(1).write.mode("append").parquet(s"$base/src")
    })
    assert(!res.ok)
    assert(res.log.all.exists(_.message.contains("source changed")))
    assert(!fsOps.exists(s"$base/tgt"))
  }

  test("overwrite moves the previous target to trash") {
    val base = tmpBase()
    sampleDf(100).repartition(4).write.parquet(s"$base/src")
    assert(Compactor.run(spark, cfg(base)).ok)
    val res2 = Compactor.run(spark, cfg(base, over = true, files = 1))
    assert(res2.ok, res2.log.toTsv)
    assert(fsOps.listDataFiles(s"$base/tgt", ".parquet").length == 1)
    val trashed = fsOps.fs.listStatus(new Path(s"$base/trash"))
    assert(trashed.length == 1 && trashed.head.getPath.getName.startsWith("tgt_"))
    assert(spark.read.parquet(trashed.head.getPath.toString).count() == 100)
  }

  test("parquet schema evolution: latest-modified file wins") {
    import spark.implicits._
    val base = tmpBase()
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1).write.parquet(s"$base/src")
    Seq((3L, "c", 30), (4L, "d", 40)).toDF("id", "name", "extra")
      .coalesce(1).write.mode("append").parquet(s"$base/src")
    // force the 3-column file to be newest
    val files = fsOps.listDataFiles(s"$base/src", ".parquet")
    val v2 = files.find { f =>
      spark.read.parquet(f.getPath.toString).columns.length == 3
    }.get
    fsOps.fs.setTimes(v2.getPath, System.currentTimeMillis() + 60000, -1)
    val res = Compactor.run(spark, cfg(base, files = 1))
    assert(res.ok, res.log.toTsv)
    val out = spark.read.parquet(s"$base/tgt")
    assert(out.columns.toSet == Set("id", "name", "extra"))
    assert(out.where(col("extra").isNull).count() == 2) // v1 rows null-filled
    assert(out.count() == 4)
  }

  test("parquet schema resolves from the footer as Spark's inference reports it") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val base = tmpBase()
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val newest = s"$base/src/part-1.parquet"
    Seq(s"$base/src/part-0.parquet", newest).foreach { f =>
      val w = ExampleParquetWriter.builder(new Path(f)).withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L)
        .append("name", "a").append("ts", 1700000000123456789L))
      finally w.close()
    }
    fsOps.fs.setTimes(new Path(newest), System.currentTimeMillis() + 60000, -1)
    val resolved = Compactor.resolveParquetSchema(spark, fsOps, cfg(base))
    assert(resolved.contains(spark.read.parquet(newest).schema))
    // nanosAsLong: the nanosecond timestamp resolves as a long
    assert(resolved.get("ts").dataType == org.apache.spark.sql.types.LongType)
  }

  // ---- avro parity (reference's native format) ----

  private val avroV1 = new Schema.Parser().parse(
    """{"type":"record","name":"Rec","fields":[
      |{"name":"id","type":"long"},{"name":"name","type":"string"}]}""".stripMargin)
  private val avroV2 = new Schema.Parser().parse(
    """{"type":"record","name":"Rec","fields":[
      |{"name":"id","type":"long"},{"name":"name","type":"string"},
      |{"name":"extra","type":["null","int"],"default":null}]}""".stripMargin)

  private def writeAvro(path: String, schema: Schema, rows: Seq[(Long, String, Option[Int])]): Unit = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    new File(path).getParentFile.mkdirs()
    w.create(schema, new File(path))
    rows.foreach { case (id, name, extra) =>
      val r = new GenericData.Record(schema)
      r.put("id", id); r.put("name", name)
      if (schema.getField("extra") != null)
        r.put("extra", extra.map(Int.box).orNull)
      w.append(r)
    }
    w.close()
  }

  test("avro: compacts with schema evolution to the newest schema") {
    val base = tmpBase()
    writeAvro(s"$base/src/part-0.avro", avroV1,
      Seq((1L, "a", None), (2L, "b", None)))
    writeAvro(s"$base/src/part-1.avro", avroV2,
      Seq((3L, "c", Some(30)), (4L, "d", Some(40))))
    fsOps.fs.setTimes(new Path(s"$base/src/part-1.avro"),
      System.currentTimeMillis() + 60000, -1)
    val res = Compactor.run(spark, cfg(base, files = 1).copy(format = "avro"))
    assert(res.ok, res.log.toTsv)
    assert(res.partitions.head.rows == 4)
    val outFiles = fsOps.listDataFiles(s"$base/tgt", ".avro")
    assert(outFiles.length == 1)
    val reader = DataFileReader.openReader(
      new File(outFiles.head.getPath.toUri.getPath),
      new GenericDatumReader[GenericRecord]())
    val recs = try {
      val b = Seq.newBuilder[(Long, String, Any)]
      while (reader.hasNext) {
        val r = reader.next()
        b += ((r.get("id").asInstanceOf[Long], r.get("name").toString, r.get("extra")))
      }
      b.result()
    } finally reader.close()
    assert(reader.getSchema == avroV2 || recs.length == 4)
    assert(recs.map(_._1).sorted == Seq(1L, 2L, 3L, 4L))
    assert(recs.count(_._3 == null) == 2) // v1 rows carry the default
  }

  test("avro ingestion lifts to an inferred DataFrame (TemplateApp parity)") {
    // the reference's template route (TemplateApp.scala:54-64):
    // AvroKeyInputFormat RDD → datum().toString JSON → read.json inference
    import org.apache.avro.mapreduce.{AvroKeyInputFormat => AKIF}
    import org.apache.avro.mapred.{AvroKey => AK}
    import org.apache.hadoop.io.NullWritable
    import spark.implicits._
    val base = tmpBase()
    writeAvro(s"$base/src/part-0.avro", avroV1, Seq((1L, "a", None), (2L, "b", None)))
    writeAvro(s"$base/src/part-1.avro", avroV1, Seq((3L, "c", None)))
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val job = org.apache.hadoop.mapreduce.Job.getInstance(conf)
    org.apache.hadoop.mapreduce.lib.input.FileInputFormat
      .setInputPaths(job, s"$base/src")
    val rdd = spark.sparkContext.newAPIHadoopRDD(job.getConfiguration,
      classOf[AKIF[GenericRecord]], classOf[AK[GenericRecord]],
      classOf[NullWritable])
    val json = rdd.map(_._1.datum().toString)
    val df = spark.read.json(spark.createDataset(json))
    assert(df.count() == 3)
    assert(df.columns.toSet == Set("id", "name"))
    assert(df.agg(sum(col("id"))).head.getLong(0) == 6L)
  }

  test("single-file utilities: copyFromLocal, stream read, file-only delete") {
    val ops = fsOps
    val base = java.nio.file.Paths.get(scratchDir("graft_fsops"))
    val src = base.resolve("payload.txt")
    java.nio.file.Files.writeString(src, "graft-fs-utils")
    val dstDir = base.resolve("dst")
    java.nio.file.Files.createDirectory(dstDir)
    ops.copyFromLocal(src.toString, dstDir.toString, overwrite = true)
    val copied = s"$dstDir/payload.txt"
    assert(ops.isFile(copied) && !ops.isDirectory(copied))
    val in = ops.openStream(copied)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(text == "graft-fs-utils")
    // deleteFile refuses directories and deletes only the named file
    assert(!ops.deleteFile(dstDir.toString) && ops.isDirectory(dstDir.toString))
    assert(ops.deleteFile(copied) && !ops.exists(copied))
    assert(!ops.deleteFile(copied)) // idempotent: missing file is false
  }

  test("multiset preserved for arbitrary file counts (property)") {
    val base0 = tmpBase()
    sampleDf(240).repartition(4).write.parquet(s"$base0/src0")
    val expected = spark.read.parquet(s"$base0/src0")
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    for (n <- 1 to 5) {
      val base = s"$base0/n$n"
      spark.read.parquet(s"$base0/src0").repartition(4).write.parquet(s"$base/src")
      val res = Compactor.run(spark, cfg(base, files = n))
      assert(res.ok, res.log.toTsv)
      val got = spark.read.parquet(s"$base/tgt")
        .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == expected, s"fileCount=$n lost rows")
      // coalesce can only merge read partitions, never split them, so
      // the output file count is bounded by n but may be smaller when
      // the scan packs the small inputs into fewer partitions
      val outFiles = fsOps.listDataFiles(s"$base/tgt", ".parquet").length
      assert(outFiles >= 1 && outFiles <= n)
    }
  }
}
