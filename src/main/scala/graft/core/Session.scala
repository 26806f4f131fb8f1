package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's one session builder. Every main and the test harness
  * build through it, so they all share one fixed conf: UTC session
  * time zone, INT64 nanosecond parquet timestamps read as longs, the
  * [[graft.plans.GraftExtensions]] (native functions, the as-of join
  * strategy and pruning rule, the GRAFT SQL verbs), no UI, WARN logs.
  *
  * Operators do not register anything themselves: on a session built
  * elsewhere without `spark.sql.extensions=graft.plans.GraftExtensions`
  * the `graft_*` functions fail at analysis. */
object Session {

  /** The local width of the harness mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envWidth: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `width = Some(n)` runs on `local[n]` with n shuffle partitions;
    * `None` keeps the master and partition count that spark-submit
    * supplies. */
  def apply(appName: String, width: Option[Int]): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
    width.foreach(n => b.master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
