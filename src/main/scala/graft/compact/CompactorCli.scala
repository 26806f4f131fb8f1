package graft.compact

import org.apache.spark.sql.SparkSession

/** CLI front-end for [[Compactor]] — parity with the reference's scopt
  * option surface (DefragmentAvroInputParams.scala:25-80: two required
  * folders plus fileCount/overwrite/trash/tmp/schema/local options),
  * hand-rolled because the build is dependency-frozen. */
object CompactorCli {

  val usage: String =
    """graft compactor — merge small data files, per partition folder
      |
      |required:
      |  --sourceFolder <dir>     folder (or partitioned root) to compact
      |  --targetFolder <dir>     output folder (must not exist unless --overwriteTarget)
      |options:
      |  --fileCount <n>          output files per partition (default: dynamic bytes/blockSize)
      |  --overwriteTarget        replace an existing target (requires trash + tmp)
      |  --trashFolder <dir>      where the previous target is moved on overwrite
      |  --tmpFolder <dir>        staging area for the session output (required)
      |  --format <parquet|avro>  data format (default parquet)
      |  --externalSchemaFile <f> schema override: DDL file (parquet) / .avsc (avro)
      |  --hadoopConfig <dir>     dir with core-site.xml/hdfs-site.xml for FS access
      |  --runningLocally         use a local[*] master (dev only)
      |""".stripMargin

  /** Pure argv → Config parse; Left(message) on any violation. */
  def parse(args: Array[String]): Either[String, (Compactor.Config, Boolean)] = {
    var c = Compactor.Config(sourceFolder = "", targetFolder = "")
    var local = false
    var i = 0
    def value(flag: String): Either[String, String] =
      if (i + 1 >= args.length) Left(s"$flag requires a value")
      else { i += 1; Right(args(i)) }
    while (i < args.length) {
      val r: Either[String, Unit] = args(i) match {
        case "--sourceFolder" => value("--sourceFolder").map(v => c = c.copy(sourceFolder = v))
        case "--targetFolder" => value("--targetFolder").map(v => c = c.copy(targetFolder = v))
        case "--fileCount" => value("--fileCount").flatMap(v =>
          v.toIntOption.filter(_ > 0).toRight(s"--fileCount must be a positive int, got '$v'")
            .map(n => c = c.copy(fileCount = n)))
        case "--overwriteTarget" => c = c.copy(overwriteTarget = true); Right(())
        case "--trashFolder" => value("--trashFolder").map(v => c = c.copy(trashFolder = v))
        case "--tmpFolder" => value("--tmpFolder").map(v => c = c.copy(tmpFolder = v))
        case "--format" => value("--format").flatMap {
          case f @ ("parquet" | "avro") => Right { c = c.copy(format = f) }
          case f => Left(s"unsupported --format '$f'")
        }
        case "--externalSchemaFile" =>
          value("--externalSchemaFile").map(v => c = c.copy(schemaFile = Some(v)))
        case "--hadoopConfig" =>
          value("--hadoopConfig").map(v => c = c.copy(hadoopConfigDir = Some(v)))
        case "--runningLocally" => local = true; Right(())
        case other => Left(s"unknown option '$other'")
      }
      r match {
        case Left(e) => return Left(e + "\n\n" + usage)
        case Right(_) => i += 1
      }
    }
    if (c.sourceFolder.isEmpty) Left("--sourceFolder is required\n\n" + usage)
    else if (c.targetFolder.isEmpty) Left("--targetFolder is required\n\n" + usage)
    else Right((c, local))
  }

  /** Session-injected core, exit code as return value — testable
    * without tearing down a shared session. */
  def run(args: Array[String], spark: SparkSession,
          out: String => Unit = println): Int =
    parse(args) match {
      case Left(err) =>
        out(err)
        1
      case Right((config, _)) => compact(config, spark, out)
    }

  private def compact(config: Compactor.Config, spark: SparkSession,
                      out: String => Unit): Int = {
    val result = Compactor.run(spark, config)
    result.partitions.foreach(p =>
      out(s"${if (p.ok) "OK  " else "FAIL"} ${if (p.partition.isEmpty) "/" else p.partition} " +
        s"${p.inputFiles} -> ${p.outputFiles} files, ${p.rows} rows: ${p.message}"))
    if (result.ok) 0 else 2
  }

  /** Parses once, before any session starts: a bad argv prints usage
    * and exits 1 without starting Spark. */
  def main(args: Array[String]): Unit = parse(args) match {
    case Left(err) =>
      System.err.println(err)
      sys.exit(1)
    case Right((config, local)) =>
      val width = if (local) Some(Runtime.getRuntime.availableProcessors) else None
      val spark = graft.core.Session("graft-compactor", width)
      val code = try compact(config, spark, println) finally spark.stop()
      if (code != 0) sys.exit(code)
  }
}
