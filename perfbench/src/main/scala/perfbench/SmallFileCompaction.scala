package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.compact.{Compactor, FsOps}

/** The paper's own utility, run as the `compact` op of `txn_mixed`: a
  * partitioned folder of many small snappy-parquet files and a smaller
  * partitioned Avro folder are compacted by `Compactor.run` to a fresh
  * target per op. */
final class SmallFileCompaction(ctx: Ctx) {
  import SmallFileCompaction._
  private val spark = ctx.spark

  private var pqSrc = ""
  private var avSrc = ""
  private var inputBytes = 0L
  private var pqExpected = (0L, 0L)
  private var avExpected = (0L, 0L)
  private var census: Seq[(String, Long, Long)] = Nil
  private var iter = 0
  private var outBytes = 0L
  private var runs = Seq.empty[Compactor.Result]
  // measured ops whose outputs are checked at the end of the run, so
  // the checks stay out of the loop: (op, parquet target, avro target)
  private var pending = Seq.empty[(Op, String, String)]

  def generate(dir0: File): Unit = {
    val dir = new File(dir0, "smallfiles")
    val rnd = new SplittableRandom(ctx.seed)
    // files are written directly (no Spark job), one small file each
    val conf = spark.sparkContext.hadoopConfiguration
    val pqType = MessageTypeParser.parseMessageType(ParquetSchema)
    val groups = new SimpleGroupFactory(pqType)
    for (day <- 0 until Days; f <- 0 until FilesPerDay) {
      val w = ExampleParquetWriter.builder(new Path(f"$dir/parquet/day=$day/part-$f%05d.parquet"))
        .withType(pqType).withConf(conf).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try (0 until RowsPerFile).foreach { i =>
        val r = row(rnd, day * 1000000L + f * RowsPerFile + i, day)
        w.write(groups.newGroup().append("id", r.getLong(0)).append("user_id", r.getLong(1))
          .append("amount", r.getDouble(2)).append("tag", r.getString(3)))
      } finally w.close()
    }
    val schema = new org.apache.avro.Schema.Parser().parse(AvroSchema)
    for (day <- 0 until AvroDays; f <- 0 until AvroFilesPerDay) {
      val leaf = new File(dir, s"avro/day=$day")
      leaf.mkdirs()
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.setCodec(CodecFactory.snappyCodec())
      w.create(schema, new File(leaf, f"part-$f%05d.avro"))
      try (0 until RowsPerFile).foreach { i =>
        val r = row(rnd, 50000000L + day * 1000000L + f * RowsPerFile + i, day)
        val g = new GenericData.Record(schema)
        g.put("id", r.getLong(0)); g.put("user_id", r.getLong(1))
        g.put("amount", r.getDouble(2)); g.put("tag", r.getString(3))
        w.append(g)
      } finally w.close()
    }
  }

  def prepare(dir0: File): Unit = {
    val dir = new File(dir0, "smallfiles")
    pqSrc = new File(dir, "parquet").toString
    avSrc = new File(dir, "avro").toString
    inputBytes = dataBytes(new File(pqSrc), ".parquet") + dataBytes(new File(avSrc), ".avro")
    pqExpected = parquetDigest(pqSrc)
    avExpected = avroDigest(new File(avSrc))
    census = fileCensus(dir)
    iteration(record = false)
  }

  def iteration(record: Boolean): Unit = {
    iter += 1
    val base = ctx.dir(s"compact/it$iter")
    val pq = Compactor.Config(sourceFolder = pqSrc, targetFolder = s"$base/pq_out",
      tmpFolder = s"$base/pq_tmp")
    val av = Compactor.Config(sourceFolder = avSrc, targetFolder = s"$base/avro_out",
      tmpFolder = s"$base/avro_tmp", format = "avro")
    var results = Seq.empty[Compactor.Result]
    val op = ctx.op("compact", record) {
      val r1 = ctx.span("compact", "Compactor.run parquet", "action")(Compactor.run(spark, pq))
      val r2 = ctx.span("compact", "Compactor.run avro", "action")(Compactor.run(spark, av))
      results = Seq(r1, r2)
      r1.ok && r2.ok
    }
    if (record) {
      outBytes += dataBytes(new File(pq.targetFolder), ".parquet") +
        dataBytes(new File(av.targetFolder), ".avro")
      runs ++= results
      if (ctx.tracer.enabled) probeLayer(base)
      pending :+= ((op, pq.targetFolder, av.targetFolder))
    } else {
      checkOutput(op, pq.targetFolder, av.targetFolder)
      Stats.deleteTree(base)
    }
  }

  /** Outputs hold the same rows as the inputs, and the source is
    * untouched. */
  private def checkOutput(op: Op, pqOut: String, avOut: String): Unit =
    if (op.ok) {
      if (parquetDigest(pqOut) != pqExpected) op.fail("parquet output differs from input")
      if (avroDigest(new File(avOut)) != avExpected) op.fail("avro output differs from input")
      if (fileCensus(new File(pqSrc).getParentFile) != census) op.fail("source changed")
    }

  /** Traced run only: the compactor's metadata steps, called directly
    * on the same inputs (a fresh target, so validation passes). */
  private def probeLayer(base: File): Unit = {
    val fs = new FsOps(spark.sparkContext.hadoopConfiguration)
    val pq = Compactor.Config(sourceFolder = pqSrc, targetFolder = s"$base/probe_out",
      tmpFolder = s"$base/probe_tmp")
    val av = pq.copy(sourceFolder = avSrc, format = "avro")
    ctx.span("compact", "validateRoot", "call") {
      Compactor.validateRoot(fs, pq); Compactor.validateRoot(fs, av)
    }
    ctx.span("compact", "resolveSchema", "call") {
      Compactor.resolveParquetSchema(spark, fs, pq); Compactor.resolveAvroSchema(fs, av)
    }
    val leaves = ctx.span("compact", "FsOps.listLeafFolders", "call") {
      fs.listLeafFolders(pqSrc, ".parquet").map(_ -> ".parquet") ++
        fs.listLeafFolders(avSrc, ".avro").map(_ -> ".avro")
    }
    ctx.span("compact", "FsOps.snapshot", "call") {
      leaves.foreach { case (l, e) => fs.snapshot(l, e) }
    }
  }

  def verify(): Unit = {
    pending.foreach { case (op, pq, av) => checkOutput(op, pq, av) }
    ctx.check("compaction source unchanged at end of run")(
      fileCensus(new File(pqSrc).getParentFile) == census)
  }

  private def timed = ctx.timedOps("compact").filter(_.ok)
  private def mb(b: Double) = b / 1048576.0

  def report: Seq[(String, Double, String)] = Seq(
    ("compact.mb_per_s", Stats.ratio(mb(inputBytes.toDouble) * timed.size, timed.map(_.seconds).sum), "MB/s"),
    ("compact.space_ratio", Stats.ratio(outBytes.toDouble, inputBytes.toDouble * runs.size / 2), "ratio"),
    ("compact.input_mb", mb(inputBytes.toDouble), "MB"),
    ("compact.input_files", (Days * FilesPerDay + AvroDays * AvroFilesPerDay).toDouble, "count"),
    ("compact.op_p50_s", Main.latencyQuantile(ctx.timedOps("compact"), 0.5), "s"))

  def layerMetrics(spans: Seq[Span]): Map[String, Double] = {
    val n = math.max(ctx.timedOps("compact").size, 1).toDouble
    def per(name: String) = spans.filter(_.name == name).map(_.seconds).sum / n
    val parts = runs.flatMap(_.partitions)
    Map(
      "compact.validate_s" -> per("validateRoot"),
      "compact.schema_s" -> per("resolveSchema"),
      "compact.list_s" -> per("FsOps.listLeafFolders"),
      "compact.snapshot_s" -> per("FsOps.snapshot"),
      "compact.parquet_run_s" -> per("Compactor.run parquet"),
      "compact.avro_run_s" -> per("Compactor.run avro"),
      "compact.files_in" -> parts.map(_.inputFiles).sum / n,
      "compact.files_out" -> parts.map(_.outputFiles).sum / n,
      "compact.leaf_ok_ratio" -> Stats.ratio(parts.count(_.ok).toDouble, parts.size.toDouble))
  }

  /** (rows, order-independent checksum) of a parquet folder, day
    * partition included. */
  private def parquetDigest(path: String): (Long, Long) = {
    val r = spark.read.parquet(path)
      .agg(count(lit(1)), bit_xor(xxhash64(col("id"), col("user_id"), col("amount"),
        col("tag"), col("day").cast("int"))))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}

object SmallFileCompaction {
  val Days = 2
  val FilesPerDay = 12
  val RowsPerFile = 150
  val AvroDays = 1
  val AvroFilesPerDay = 6

  val ParquetSchema: String =
    """message sale { required int64 id; required int64 user_id; required double amount;
      |  required binary tag (STRING); }""".stripMargin

  val AvroSchema: String =
    """{"type": "record", "name": "Sale", "fields": [
      |  {"name": "id", "type": "long"}, {"name": "user_id", "type": "long"},
      |  {"name": "amount", "type": "double"}, {"name": "tag", "type": "string"}]}""".stripMargin

  private val Tags = Array("web", "store", "phone", "partner", "promo", "refund")

  def row(rnd: SplittableRandom, id: Long, day: Int): Row =
    Row(id, rnd.nextLong(100000L), rnd.nextInt(1000000) / 100.0,
      Tags(rnd.nextInt(Tags.length)) + "-" + rnd.nextInt(1000), day)

  def dataBytes(root: File, ext: String): Long =
    if (root.isFile) { if (root.getName.endsWith(ext) && !root.getName.startsWith(".")) root.length else 0L }
    else Option(root.listFiles()).toSeq.flatten.map(dataBytes(_, ext)).sum

  /** (rows, order-independent checksum) of every Avro file under `root`,
    * with the day taken from the partition directory. */
  def avroDigest(root: File): (Long, Long) = {
    var n = 0L
    var x = 0L
    def walk(f: File, day: Int): Unit =
      if (f.isDirectory) {
        val d = if (f.getName.startsWith("day=")) f.getName.drop(4).toInt else day
        Option(f.listFiles()).toSeq.flatten.foreach(walk(_, d))
      } else if (f.getName.endsWith(".avro") && !f.getName.startsWith(".")) {
        val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
        try while (r.hasNext) {
          val g = r.next()
          n += 1
          x ^= (g.get("id"), g.get("user_id"), g.get("amount"), g.get("tag").toString, day)
            .##.toLong * 0x9E3779B97F4A7C15L
        } finally r.close()
      }
    walk(root, -1)
    (n, x)
  }

  /** (path, length, mtime) of every file under `root`, sorted. */
  def fileCensus(root: File): Seq[(String, Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).map(f => (f.getPath, f.length, f.lastModified)).sortBy(_._1)
  }
}
