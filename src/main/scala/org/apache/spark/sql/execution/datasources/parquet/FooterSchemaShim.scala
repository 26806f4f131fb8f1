package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The one internal touch [[graft.core.Tables]] needs on Spark's
  * parquet format, isolated here like `org.apache.spark.sql.graft`'s
  * shims: the footer reader and footer-to-schema conversion are
  * `private[parquet]`. Both are Spark's own, the ones its schema
  * inference runs, here called on the driver instead of in a one-task
  * job; the conversion honours the session's parquet confs
  * (`nanosAsLong`, binary-as-string, INT96, timestamp-NTZ inference). */
object FooterSchemaShim {

  /** The Spark schema of one parquet data file, read from its footer. */
  def schemaOf(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      conf, Seq(file), ignoreCorruptFiles = false), spark)
  }
}
