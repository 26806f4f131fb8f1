package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** The one rule by which an operator holds a frame's rows on the driver
  * instead of running a distributed plan over them. The upsert-ladder
  * MERGE ([[graft.sources.TxnLog]]), the ladder's connected-components
  * rung and its embedding rung ([[graft.llm.Dedup]]) all ask [[fits]].
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
}
