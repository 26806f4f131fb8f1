package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
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
  *    ([[graft.llm.Dedup]]).
  *
  * Scale shape: a held frame costs one collect job and driver memory of
  * at most the session's broadcast threshold (the planner would ship
  * the same bytes to every executor as a broadcast), and the operator's
  * work then runs on the driver with no shuffle, no generated code and
  * no further job. Above the threshold, or with
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
}
