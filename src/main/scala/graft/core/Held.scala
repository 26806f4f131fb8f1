package graft.core

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.StreamingShim
import org.apache.spark.sql.types._

/** The one rule by which an operator holds a frame's rows on the driver
  * instead of running a distributed plan over them. Every caller asks
  * [[fits]]:
  *  - the upsert-ladder MERGE ([[graft.sources.TxnLog]]);
  *  - the dedup ladder's candidate rung (`Dedup.candidatePlan`, under
  *    `minhashCandidates`, `dedupFuzzy`, `dedupJaccardEst`, `docOverlap`,
  *    `dedupEditDistance`, the incremental, change-feed and index
  *    queries and the cluster-label staging);
  *  - its verify rung (`Dedup.exactJaccard`, under `dedupJaccard`,
  *    `dedupContainment`, `dedupThresholdHist`, `dedupRungAgreement`);
  *  - its connected-components rung and its embedding rung
  *    ([[graft.llm.Dedup]]);
  *  - every txn-log data write (`TxnLog.writeObserved`: append, stream
  *    batch, MERGE rewrite and insert, DELETE and UPDATE rewrite,
  *    OPTIMIZE bin) through the write face, [[write]], and DELETE's
  *    candidate census (`TxnLog.deleteCore`).
  *
  * Scale shape: a held frame costs one collect job (none for a local
  * relation) and driver memory of at most the session's broadcast
  * threshold (the planner would ship the same bytes to every executor
  * as a broadcast), and the operator's work then runs on the driver
  * with no shuffle, no generated code and no further job. A held write
  * produces one output file. Above the threshold, or with
  * auto-broadcast off (threshold ≤ 0), every caller keeps its
  * distributed plan. */
object Held {

  /** Whether `df`'s optimizer size estimate is within
    * `spark.sql.autoBroadcastJoinThreshold`: the test Spark's planner
    * applies before it broadcasts a relation. */
  def fits(df: DataFrame): Boolean = {
    val thresh = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    thresh > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= thresh
  }

  /** Whether a key of type `dt`, as a Catalyst value on the driver, has
    * Spark's equality and order: integral, boolean, date, timestamp and
    * binary-collated string keys do; floating, decimal, collated and
    * nested keys do not. */
  def plainKey(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType | TimestampNTZType => true
    case s: StringType => s == StringType
    case _ => false
  }

  /** `c` in a set of Catalyst values, as an `InSet`: the probe a held
    * path runs against a scan (MERGE's candidate files, the verify
    * rung's endpoint documents). Its generated code references the set
    * instead of inlining each value as an `In` of literals does, so a
    * call with new values reuses the compiled class; parquet pushdown
    * sees the same `sources.In`. */
  def in(c: Column, values: Set[Any]): Column =
    StreamingShim.column(InSet(StreamingShim.expression(c), values))

  /** A held path's result: Catalyst `rows` under `schema` as a local
    * relation, built with no conversion from external rows. Spark reads
    * it, and folds a projection or filter over it into a new local
    * relation, with no job. */
  def local(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    StreamingShim.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `df`'s Catalyst rows, as `collect()` runs it: one job, or none for a
    * local relation. */
  def rows(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** Write `df` as ONE parquet file in `dir` from the driver: its rows
    * are collected ([[rows]]) and written through Spark's own
    * `ParquetFileFormat` writer factory with the session's hadoop conf,
    * so the file has the schema, metadata and codec a write job gives
    * it. No commit protocol runs (no `_temporary`, no `_SUCCESS`): the
    * caller's log commit publishes the file. Returns the row count and,
    * per `statsCols` column, its least and greatest value rendered as
    * `min(c).cast("string")` and `max(c).cast("string")` render them
    * (Spark's ordering, the session time zone; first seen wins a tie,
    * as in the aggregates), nulls for an all-null column. */
  def write(df: DataFrame, dir: String, statsCols: Seq[String])
  : (Long, Seq[(String, String)]) = {
    val spark = df.sparkSession
    val schema = df.schema
    val held = rows(df)
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val bounds = statsCols.map { c =>
      val i = schema.fieldIndex(c)
      val dt = schema(i).dataType
      val ord = TypeUtils.getInterpretedOrdering(dt)
      var lo, hi: Any = null
      held.foreach { r =>
        if (!r.isNullAt(i)) {
          val v = r.get(i, dt)
          if (lo == null || ord.lt(v, lo)) lo = v
          if (hi == null || ord.gt(v, hi)) hi = v
        }
      }
      def render(v: Any): String =
        if (v == null) null
        else Cast(Literal(v, dt), StringType, tz).eval(null).toString
      (render(lo), render(hi))
    }
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("graft", 0, TaskType.MAP, 0, 0))
    val file = s"$dir/part-00000-${java.util.UUID.randomUUID}-c000" +
      factory.getFileExtension(ctx)
    val w = factory.newInstance(file, schema, ctx)
    try held.foreach(w.write) finally w.close()
    (held.length.toLong, bounds)
  }
}
