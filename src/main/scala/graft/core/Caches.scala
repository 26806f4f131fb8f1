package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Cache lifecycle for the query registry — one release rule.
  *
  * An operator releases exactly the blocks it pinned, by handle, as
  * soon as they are dead. [[pin]] is the eager local checkpoint (it
  * truncates an iterative plan's lineage) and [[unpin]] releases the
  * checkpoint blocks behind a frame [[pin]] returned. An iterative loop
  * pins round k+1 and then unpins round k, so at most two rounds are
  * held; a staged-fixture body unpins what it still holds once its
  * `write` completes. A checkpointed Dataset bypasses the CacheManager
  * (`Dataset.unpersist` is a no-op on it): its handle is the RDD at the
  * frame's `LogicalRDD` leaf, which travels with the frame, so no id
  * bookkeeping is needed and another thread's pins are never touched.
  *
  * Operators never sweep the session. [[drain]] and [[release]] are the
  * session-wide sweeps, and only the harness mains (Bench, Verify,
  * PlanTool), the benchmark harness and the tests call them, between
  * queries.
  *
  * Memo invariant: cross-query memos ([[Fixtures.memo]]) hold staged
  * fixture PATHS, never Spark-side objects (a DataFrame, broadcast or
  * RDD). That is what makes the harness sweeps safe: nothing a later
  * query reuses lives in a block, a shuffle or a broadcast, so
  * destroying them all between queries costs at most a recompute from
  * parquet. A memo of a Spark object would break late queries with
  * missing-block errors after the first sweep.
  */
object Caches {

  /** Eager `localCheckpoint`: materializes `df` now and returns a frame
    * planned against the pinned blocks. Release with [[unpin]]. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Release the checkpoint blocks at each frame's `LogicalRDD` leaves
    * — the ones [[pin]] created for it or for the frame it derives
    * from. Frames with no checkpoint leaf are untouched. */
  def unpin(dfs: DataFrame*): Unit =
    for {
      df <- dfs
      leaf <- df.queryExecution.analyzed.collectWithSubqueries {
        case r: LogicalRDD => r.rdd
      }
      if leaf.isCheckpointed
    } leaf.unpersist(blocking = false)

  /** Release every pinned block in the session: DataFrame cache entries
    * and any directly-persisted RDDs (incl. local-checkpoint storage).
    *
    * HARNESS-ONLY: a session-wide sweep. In an application embedding
    * graft in a shared SparkSession it would clobber caches pinned by
    * unrelated code, and a foreign checkpoint-backed frame would be
    * permanently invalidated (its lineage is truncated, so nothing is
    * left to recompute from). */
  def drain(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Release EVERY driver-side shuffle and broadcast registration in
    * the session. The weak-reference ContextCleaner only reclaims dead
    * registrations when the JVM happens to GC, so a session that runs
    * hundreds of queries back-to-back accumulates map-output statuses,
    * shuffle files on local disk and block-manager broadcast entries
    * until late queries run against a degraded JVM (measured:
    * stream_update_sink 4.5 s isolated vs 7.6 s at position ~270 of a
    * 292-query run). This sweep unregisters them deterministically
    * through the ContextCleaner's own cleanup path.
    *
    * HARNESS-ONLY, and stronger than [[drain]]: it assumes NOTHING in
    * the session still depends on any past shuffle or broadcast — true
    * between harness runs after [[drain]] (see the memo invariant
    * above), false inside a live query or an embedding application.
    * Skipped while a streaming query is active. Call [[drain]] first. */
  def release(spark: SparkSession): Unit =
    if (spark.streams.active.isEmpty)
      org.apache.spark.sql.graft.StreamingShim
        .releaseShufflesAndBroadcasts(spark)
}
