package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchemaShim

/** Table loaders over the driver-generated parquet testdata.
  *
  * The reference (guptam/spark-dba) models a "table" as a folder of
  * row-oriented container files discovered on a filesystem
  * (HDFSAvroOperations.scala:56-75); here the table abstraction is a
  * Spark file-source directory, which inherits partition discovery,
  * predicate pushdown, column pruning and vectorized reads from
  * Catalyst. At 100 TB these would be partitioned/bucketed parquet
  * roots; `spark.read.parquet(dir)` scales to that unchanged.
  *
  * Building a table frame starts no Spark job: [[parquet]] reads the
  * schema from one data file's footer on the driver, through Spark's
  * own footer reader and conversion, and hands it to
  * `spark.read.schema`. A bare `spark.read.parquet` would run that
  * footer read as a one-task inference job on every load.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` under the schema of one data file's
    * footer, read on the driver: the first visible file of a flat
    * directory (or `path` itself if it is a file), as Spark's own
    * inference takes one file and assumes the rest agree. A missing
    * path or a directory with no data file at its top (a partitioned
    * layout) falls back to Spark's inference. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = (if (fs.exists(p)) Seq(fs.getFileStatus(p)) else Nil)
      .flatMap(st => if (st.isFile) Seq(st) else fs.listStatus(p).toSeq
        .filter(f => f.isFile && !"_.".contains(f.getPath.getName.head)))
      .sortBy(_.getPath.getName).headOption
    file.flatMap(FooterSchemaShim.schemaOf(spark, _))
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** events.ts has shipped as two physical types across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark 4 rejects unless
    * `spark.sql.legacy.parquet.nanosAsLong=true` surfaces it as a nano
    * count — set at SparkSession construction by Verify/Bench/SparkSpec,
    * NOT here, so table loads have no session side effects) and plain
    * µs TIMESTAMP. Adapt on the observed type instead of assuming one:
    * a LONG is floor-truncated nanos→µs (the same truncation DuckDB
    * applies when it surfaces nanos as µs TIMESTAMP, so oracle
    * comparisons agree); a native timestamp passes through untouched —
    * it is already the type family the oracle sees. */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000L")))
      case _ => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = loadEvents(s, d)
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
