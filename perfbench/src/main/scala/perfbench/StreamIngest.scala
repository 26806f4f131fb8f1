package perfbench

import java.io.File
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.core.Det
import graft.sources.TxnLog

/** Streaming ingest, run as the `ingest` op of `txn_mixed`: seeded event
  * tranches arrive one at a time in a file source; each tranche gets one
  * `Trigger.AvailableNow` pass into two `graft-txnlog` sinks, an append
  * sink and an update-mode per-type aggregate upserted on `mergeKey`.
  * Every pass restarts both queries from their checkpoints. */
final class StreamIngest(ctx: Ctx) {
  import StreamIngest._
  private val spark = ctx.spark

  private var tranches: Seq[File] = Nil
  private var trancheTotals: Seq[Map[String, (Long, Long)]] = Nil
  private var fed = 0
  private var measuredRows = 0L
  private var inDir: File = _
  private var eventsRoot = ""
  private var totalsRoot = ""
  private var versionsBefore = 0
  // per measured pass: (progress of both queries, start() seconds, stop seconds)
  private val progress = mutable.ArrayBuffer[(Seq[StreamingQueryProgress], Double, Double)]()

  def generate(dir: File): Unit = {
    val rnd = new SplittableRandom(ctx.seed)
    val rows = (0 until Tranches * EventsPerTranche).map { i =>
      val t = Types(math.min(Types.length - 1, (math.abs(rnd.nextGaussian()) * 2).toInt))
      Row(i.toLong, t, rnd.nextInt(100000) / 100.0)
    }
    trancheTotals = rows.grouped(EventsPerTranche).map(_.groupBy(_.getString(1)).map { case (t, rs) =>
      t -> (rs.size.toLong, rs.map(r => math.round(r.getDouble(2) * 100)).sum)
    }).toSeq
    // one file per tranche, in order
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Tranches), Schema)
      .write.parquet(new File(dir, "tranches").toString)
  }

  def prepare(dir: File): Unit = {
    tranches = Option(new File(dir, "tranches").listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(tranches.size == Tranches, s"expected $Tranches tranche files, found ${tranches.size}")
    inDir = ctx.dir("stream/in")
    eventsRoot = ctx.dir("stream/events").toString
    totalsRoot = ctx.dir("stream/totals").toString
    pass(record = false)
    versionsBefore = versions
  }

  private def versions: Int =
    TxnLog.versions(eventsRoot).size + TxnLog.versions(totalsRoot).size

  def pass(record: Boolean): Unit = {
    val f = tranches(fed)
    Files.copy(f.toPath, new File(inDir, f.getName).toPath)
    fed += 1
    var qs = Seq.empty[StreamingQuery]
    var startS = 0.0
    val op = ctx.op("ingest", record) {
      val (started, s) = Stats.time(ctx.span("streaming", "DataStreamWriter.start", "call")(
        Seq(startEvents(), startTotals())))
      qs = started
      startS = s
      ctx.span("streaming", "awaitTermination", "call")(qs.foreach(_.awaitTermination()))
      qs.forall(_.exception.isEmpty)
    }
    if (record) {
      measuredRows += trancheTotals(fed - 1).values.map(_._1).sum
      val ps = qs.flatMap(_.recentProgress.toSeq)
      val lastEnd = ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L)).maxOption.getOrElse(0L)
      val endMs = (op.endNs + ctx.tracer.wallOffsetNs) / 1000000L
      progress += ((ps, startS, math.max(0L, endMs - lastEnd) / 1e3))
    }
    // release the streaming state (state stores reload from the
    // checkpoint on the next pass)
    org.apache.spark.sql.graft.StreamingShim.drainStreamingState(spark)
  }

  private def source =
    spark.readStream.schema(Schema).parquet(inDir.toString)

  private def startEvents(): StreamingQuery =
    source.writeStream.format("graft-txnlog")
      .option("path", eventsRoot).option("appId", "ingest")
      .option("checkpointLocation", new File(ctx.scratch, "stream/ck_events").toString)
      .trigger(Trigger.AvailableNow())
      .start()

  private def startTotals(): StreamingQuery =
    source.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(Det.cents(col("value"))).as("sum_cents"))
      .writeStream.format("graft-txnlog")
      .option("path", totalsRoot).option("appId", "totals")
      .option("mergeKey", "event_type")
      .option("checkpointLocation", new File(ctx.scratch, "stream/ck_totals").toString)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()

  def verify(): Unit = {
    val expected = trancheTotals.take(fed).flatten.groupBy(_._1).map { case (t, xs) =>
      t -> (xs.map(_._2._1).sum, xs.map(_._2._2).sum)
    }
    ctx.check("append sink tip equals per-type totals over the fed events") {
      TxnLog.read(spark, eventsRoot).groupBy(col("event_type"))
        .agg(count(lit(1)), sum(Det.cents(col("value")))).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap == expected
    }
    ctx.check("update sink tip equals per-type totals over the fed events") {
      TxnLog.read(spark, totalsRoot).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap == expected
    }
    ctx.check("append sink refuses a replayed batch") {
      val last = TxnLog.stateAt(eventsRoot, TxnLog.latestVersion(eventsRoot)).txns("ingest")
      TxnLog.commitStreamBatch(eventsRoot, "ingest", last, Seq(TxnLog.add("replayed")), "probe").isEmpty
    }
    ctx.check("update sink refuses a replayed batch") {
      val last = TxnLog.stateAt(totalsRoot, TxnLog.latestVersion(totalsRoot)).txns("totals")
      val replay = TxnLog.read(spark, totalsRoot).limit(1)
      TxnLog.writeStreamBatchUpdate(spark, totalsRoot, replay, "event_type", "totals", last,
        "probe").isEmpty
    }
  }

  private def passes = ctx.timedOps("ingest").filter(_.ok)

  def report: Seq[(String, Double, String)] = Seq(
    ("stream.rows_per_s", Stats.ratio(measuredRows.toDouble, passes.map(_.seconds).sum), "rows/s"),
    ("stream.pass_p50_s", Main.latencyQuantile(ctx.timedOps("ingest"), 0.5), "s"),
    ("stream.passes", passes.size.toDouble, "count"),
    ("stream.rows_per_tranche", EventsPerTranche.toDouble, "count"))

  def layerMetrics: Map[String, Double] = {
    val n = math.max(progress.size, 1).toDouble
    val all = progress.flatMap(_._1)
    def dur(k: String) = all.map(p => p.durationMs.getOrDefault(k, 0L).toDouble).sum / n
    val state = progress.flatMap(_._1.filter(_.stateOperators.nonEmpty).lastOption)
    Map(
      "stream.start_s" -> progress.map(_._2).sum / n,
      "stream.stop_s" -> progress.map(_._3).sum / n,
      "stream.batches" -> all.size / n,
      "stream.trigger_ms" -> dur("triggerExecution"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.state_rows" -> Stats.mean(state.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).toSeq),
      "stream.state_mem_mb" -> Stats.mean(state.map(
        _.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0).toSeq),
      "stream.sink_commits" -> (versions - versionsBefore) / n)
  }
}

object StreamIngest {
  val Tranches = 20
  val EventsPerTranche = 2000
  val Types: Array[String] = Array("view", "click", "cart", "purchase", "refund", "error")
  val Schema: StructType = StructType.fromDDL("event_id BIGINT, event_type STRING, value DOUBLE")
}
