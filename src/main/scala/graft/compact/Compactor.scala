package graft.compact

import scala.collection.parallel.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.avro.Schema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.{AvroKey, FsInput}
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchemaShim
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

/** Small-file compactor — the Spark-native rebuild of the reference's
  * one shipped utility, DefragmentAvroFolder
  * (DefragmentAvroFolder.scala:62-426): merge the many small files of
  * a (possibly partitioned) folder into few, under a resolved schema,
  * with validation, optimistic concurrency, and a trash-then-rename
  * commit.
  *
  * Differences from the reference, by design:
  *   - Parquet is the primary format (`spark.read`/`write` — Catalyst
  *     vectorized scan, snappy by default); Avro keeps the reference's
  *     exact `newAPIHadoopRDD[AvroKeyInputFormat]` route
  *     (DefragmentAvroFolder.scala:267-271) because the spark-avro
  *     datasource isn't shipped here.
  *   - Output always lands in the session tmp folder first and reaches
  *     the target only by rename — the reference wrote straight to the
  *     target when not overwriting (DefragmentAvroFolder.scala:192-204);
  *     always-staging is strictly safer and keeps the abort path
  *     target-neutral.
  *   - Schema-from-latest-file resolves across *all* leaves, fixing
  *     the reference's documented partitioned-folder limitation
  *     (DefragmentAvroFolder.scala:80).
  *   - `fileCount = 0` enables the reference's planned-but-unshipped
  *     dynamic sizing (README.md:21): ceil(dataBytes / blockSize).
  *
  * Scale: compaction is a pure narrow pipeline — scan → coalesce(n) →
  * write — no shuffle (`coalesce` merges splits in place,
  * DefragmentAvroFolder.scala:290 parity). Partitions are independent
  * jobs submitted concurrently from driver threads (the reference's
  * `.par` loop, DefragmentAvroFolder.scala:384-393); on a 1000-executor
  * cluster each partition's tasks spread over the cluster while the
  * commit (two NameNode renames) stays O(1) per partition.
  */
object Compactor {

  final case class Config(
      sourceFolder: String,
      targetFolder: String,
      fileCount: Int = 0, // 0 → dynamic: ceil(bytes / blockSize)
      overwriteTarget: Boolean = false,
      trashFolder: String = "",
      tmpFolder: String = "",
      format: String = "parquet", // "parquet" | "avro"
      schemaFile: Option[String] = None,
      // external Hadoop config dir: core-site.xml/hdfs-site.xml loaded
      // into the FileSystem Configuration (reference:
      // HadoopFileSystemOperation.scala:21-24) — how a cluster-ops user
      // points the compactor at a non-default HDFS
      hadoopConfigDir: Option[String] = None)

  /** Load the external dir's site files into a Configuration. */
  private def addSiteFiles(conf: org.apache.hadoop.conf.Configuration,
                           dir: String): Unit =
    Seq("core-site.xml", "hdfs-site.xml").foreach { f =>
      val file = new java.io.File(dir, f)
      if (file.isFile) conf.addResource(new Path(file.toURI))
    }

  /** Configuration for FS metadata ops: the session's hadoopConfiguration,
    * overlaid with the external config dir's site files when given. */
  def fsConf(spark: SparkSession, c: Config)
      : org.apache.hadoop.conf.Configuration = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    c.hadoopConfigDir.foreach(addSiteFiles(conf, _))
    conf
  }

  final case class PartitionResult(
      partition: String, ok: Boolean, inputFiles: Int, outputFiles: Int,
      rows: Long, message: String)

  final case class Result(
      ok: Boolean, partitions: List[PartitionResult], log: SessionLog)

  private def ext(c: Config): String =
    if (c.format == "avro") ".avro" else ".parquet"

  /** Root-level validation (reference:
    * DefragmentAvroFolder.scala:146-181). */
  def validateRoot(fsOps: FsOps, c: Config): Option[String] = {
    if (!fsOps.exists(c.sourceFolder)) Some(s"source does not exist: ${c.sourceFolder}")
    else if (fsOps.listLeafFolders(c.sourceFolder, ext(c)).isEmpty)
      Some(s"source has no ${ext(c)} data files: ${c.sourceFolder}")
    else if (fsOps.exists(c.targetFolder) && !c.overwriteTarget)
      Some(s"target exists and overwriteTarget=false: ${c.targetFolder}")
    else if (c.overwriteTarget && (c.trashFolder.isEmpty || c.tmpFolder.isEmpty))
      Some("overwriteTarget requires trashFolder and tmpFolder")
    else if (c.tmpFolder.isEmpty) Some("tmpFolder is required")
    else None
  }

  /** Leaf-level validation: only data files, at least two of them
    * (reference: DefragmentAvroFolder.scala:115-139,
    * HDFSAvroOperations.scala:56-75). */
  def validateLeaf(fsOps: FsOps, leaf: String, e: String): Option[String] = {
    val entries = fsOps.listEntries(leaf)
    val nonData = entries.filterNot(s => s.isFile && fsOps.isDataFile(s.getPath.getName, e))
    val data = entries.length - nonData.length
    if (nonData.nonEmpty)
      Some(s"folder is not a pure data folder (${nonData.head.getPath.getName})")
    else if (data < 2) Some(s"need >=2 data files to compact, found $data")
    else None
  }

  /** 3-way schema resolution (reference:
    * DefragmentAvroFolder.scala:83-107): external file → latest
    * modified data file across all leaves → None (embedded). A parquet
    * file's schema is its footer's, read on the driver
    * ([[FooterSchemaShim]], as [[graft.core.Tables.parquet]] reads
    * one), so resolution starts no job. */
  def resolveParquetSchema(spark: SparkSession, fsOps: FsOps, c: Config): Option[StructType] =
    c.schemaFile.map(f => StructType.fromDDL(
        new String(readFully(fsOps, f), java.nio.charset.StandardCharsets.UTF_8)))
      .orElse(latestDataFile(fsOps, c).flatMap(FooterSchemaShim.schemaOf(spark, _)))

  def resolveAvroSchema(fsOps: FsOps, c: Config): Option[Schema] =
    c.schemaFile.map(f => new Schema.Parser().parse(
        new String(readFully(fsOps, f), java.nio.charset.StandardCharsets.UTF_8)))
      .orElse(latestDataFile(fsOps, c).map { f =>
        val in = new FsInput(f.getPath, fsOps.fs.getConf)
        val r = DataFileReader.openReader(in, new GenericDatumReader[GenericRecord]())
        try r.getSchema finally r.close()
      })

  private def latestDataFile(fsOps: FsOps, c: Config): Option[FileStatus] = {
    val all = fsOps.listLeafFolders(c.sourceFolder, ext(c))
      .flatMap(l => fsOps.listDataFiles(l, ext(c)))
    if (all.isEmpty) None else Some(all.maxBy(_.getModificationTime))
  }

  private def readFully(fsOps: FsOps, path: String): Array[Byte] = {
    val in = fsOps.fs.open(new Path(path))
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** Dynamic output file count (reference README.md:21 "In Progress"):
    * one output file per HDFS block of input data. */
  def outputFileCount(fsOps: FsOps, leaf: String, e: String, configured: Int): Int =
    if (configured > 0) configured
    else {
      val bytes = fsOps.dataSize(leaf, e)
      val block = math.max(fsOps.defaultBlockSize(leaf), 1L)
      math.max(1, math.ceil(bytes.toDouble / block).toInt)
    }

  /** Compact every partition leaf of the source folder. `beforeCommit`
    * is a test injection point between write and the source-unchanged
    * commit gate. */
  def run(spark: SparkSession, c: Config,
          beforeCommit: () => Unit = () => ()): Result = {
    // The external config must reach BOTH planes: FsOps (metadata RPCs)
    // gets its own Configuration, and the session's hadoopConfiguration
    // absorbs the site files so spark.read/write resolve the same
    // filesystems (an HA nameservice known only to the external config
    // would otherwise list fine but fail every partition read).
    // NOTE: this mutates SESSION-GLOBAL state for the session's
    // lifetime — by design for the CLI (which owns its session); an
    // embedding application sharing a session with other work should
    // pass the config via its own builder instead of hadoopConfigDir.
    c.hadoopConfigDir.foreach(
      addSiteFiles(spark.sparkContext.hadoopConfiguration, _))
    val fsOps = new FsOps(fsConf(spark, c))
    val log = new SessionLog
    val session = FsOps.sessionId()
    val e = ext(c)

    validateRoot(fsOps, c) match {
      case Some(err) =>
        log.error("", err)
        return Result(ok = false, Nil, log)
      case None => ()
    }

    val avroSchema = if (c.format == "avro") resolveAvroSchema(fsOps, c) else None
    val parquetSchema = if (c.format == "parquet") resolveParquetSchema(spark, fsOps, c) else None

    val leaves = fsOps.listLeafFolders(c.sourceFolder, e)
    log.info("", s"session=$session leaves=${leaves.size}")

    // Reference D11: all partitions concurrently from driver threads;
    // Spark's scheduler interleaves the per-partition jobs.
    val results = leaves.par.map { leaf =>
      val part = fsOps.partitionPath(c.sourceFolder, leaf)
      try compactLeaf(spark, fsOps, c, log, session, leaf, part,
        avroSchema, parquetSchema, beforeCommit)
      catch {
        case NonFatal(t) =>
          log.error(part, s"failed: ${t.getMessage}")
          PartitionResult(part, ok = false, 0, 0, -1, t.toString)
      }
    }.toList

    // Tmp cleanup only on a clean run (reference:
    // DefragmentAvroFolder.scala:400-409).
    val sessionTmp = s"${fsOps.removeLastSlash(c.tmpFolder)}/_tmp_$session"
    if (!log.containsError && fsOps.exists(sessionTmp)) fsOps.delete(sessionTmp)
    log.finallyRecord(if (log.containsError) "FAILED" else "SUCCESS")

    // Audit log next to the target (reference:
    // DefragmentAvroFolder.scala:414-417).
    if (fsOps.exists(c.targetFolder)) {
      val out = fsOps.fs.create(new Path(s"${c.targetFolder}/.compactlog"), true)
      try out.write(log.toTsv.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    Result(!log.containsError, results, log)
  }

  private def compactLeaf(
      spark: SparkSession, fsOps: FsOps, c: Config, log: SessionLog,
      session: String, leaf: String, part: String,
      avroSchema: Option[Schema], parquetSchema: Option[StructType],
      beforeCommit: () => Unit): PartitionResult = {
    val e = ext(c)
    validateLeaf(fsOps, leaf, e) match {
      case Some(err) =>
        log.error(part, err)
        return PartitionResult(part, ok = false, 0, 0, -1, err)
      case None => ()
    }

    val inputFiles = fsOps.listDataFiles(leaf, e)
    val n = outputFileCount(fsOps, leaf, e, c.fileCount)
    val tmpOut = s"${fsOps.removeLastSlash(c.tmpFolder)}/_tmp_$session$part"
    val target = s"${fsOps.removeLastSlash(c.targetFolder)}$part"

    // Optimistic-concurrency checkpoint before reading (reference:
    // DefragmentAvroFolder.scala:276).
    val before = fsOps.snapshot(leaf, e)

    val rows: Long = c.format match {
      case "avro" => compactAvroLeaf(spark, leaf, tmpOut, n, avroSchema)
      case _ =>
        // D2/D4: one read, no cache — the record count is observed on
        // the write job itself, like the Avro route's accumulator
        val counted = Observation()
        parquetSchema
          .map(s => spark.read.schema(s).parquet(leaf))
          .getOrElse(spark.read.parquet(leaf))
          .observe(counted, count(lit(1)).as("rows"))
          .coalesce(n).write // D3: shuffle-free merge
          .option("compression", "snappy") // P4 parity
          .mode("error").parquet(tmpOut)
        counted.get("rows").asInstanceOf[Long]
    }
    log.info(part, s"read ${inputFiles.length} files -> $n files, $rows rows")

    beforeCommit()

    // Commit gate: abort if the source changed under us (reference:
    // DefragmentAvroFolder.scala:301,319-321 — abort, don't retry).
    if (!fsOps.unchanged(before, fsOps.snapshot(leaf, e))) {
      fsOps.delete(tmpOut)
      val msg = "source changed during compaction; aborted before commit"
      log.error(part, msg)
      return PartitionResult(part, ok = false, inputFiles.length, 0, rows, msg)
    }

    // Trash-then-rename commit (reference:
    // DefragmentAvroFolder.scala:305-318): old target (if any) moves
    // to trash/<targetName>_<session><partition>, tmp renames in.
    if (fsOps.exists(target)) {
      val targetName = new Path(c.targetFolder).getName
      val trash = s"${fsOps.removeLastSlash(c.trashFolder)}/${targetName}_$session$part"
      if (!fsOps.rename(target, trash)) {
        val msg = s"could not move existing target to trash: $target"
        log.error(part, msg)
        return PartitionResult(part, ok = false, inputFiles.length, 0, rows, msg)
      }
      log.info(part, s"previous target moved to $trash")
    }
    if (!fsOps.rename(tmpOut, target)) {
      val msg = s"could not rename $tmpOut -> $target"
      log.error(part, msg)
      return PartitionResult(part, ok = false, inputFiles.length, 0, rows, msg)
    }
    val outFiles = fsOps.listDataFiles(target, e).length
    PartitionResult(part, ok = true, inputFiles.length, outFiles, rows, "ok")
  }

  /** Avro leaf compaction over the reference's exact Hadoop-RDD route:
    * AvroKeyInputFormat → coalesce → AvroKeyOutputFormat, snappy
    * blocks, resolved writer schema (DefragmentAvroFolder.scala:210-298).
    * No cache/pre-count: Hadoop record readers reuse the AvroKey
    * container, so caching would alias one mutable record — rows are
    * counted inside the write pass with an accumulator instead. */
  private def compactAvroLeaf(
      spark: SparkSession, leaf: String, tmpOut: String, n: Int,
      schema: Option[Schema]): Long = {
    val sc = spark.sparkContext
    val inJob = Job.getInstance(new Configuration(sc.hadoopConfiguration))
    FileInputFormat.setInputPaths(inJob, leaf)
    schema.foreach(s => AvroJob.setInputKeySchema(inJob, s))
    val rdd = sc.newAPIHadoopRDD(
      inJob.getConfiguration,
      classOf[AvroKeyInputFormat[GenericRecord]],
      classOf[AvroKey[GenericRecord]],
      classOf[NullWritable])

    val outJob = Job.getInstance(new Configuration(sc.hadoopConfiguration))
    val outSchema = schema.getOrElse(
      throw new IllegalStateException("avro compaction requires a resolved schema"))
    AvroJob.setOutputKeySchema(outJob, outSchema)
    outJob.setOutputFormatClass(classOf[AvroKeyOutputFormat[GenericRecord]])
    FileOutputFormat.setOutputPath(outJob, new Path(tmpOut))
    FileOutputFormat.setCompressOutput(outJob, true)
    outJob.getConfiguration.set("avro.output.codec", "snappy")

    val rowCount = sc.longAccumulator("compactRows")
    rdd.coalesce(n)
      .map { kv => rowCount.add(1); kv }
      .saveAsNewAPIHadoopDataset(outJob.getConfiguration)
    rowCount.value
  }
}
