package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.TxnLog

/** `txn_mixed`: one txn-log table driven as a closed loop by a single
  * client that runs a fixed, seeded round of ops in whole rounds until
  * the deadline: small appends, Zipf-keyed merges and range deletes next
  * to point lookups, full scans and time travel beyond the state memo,
  * two small-file compactor runs ([[SmallFileCompaction]]), and one each
  * of the SQL face (`GRAFT OPTIMIZE`, `GRAFT DESCRIBE HISTORY`) and a
  * streaming ingest pass ([[StreamIngest]]). The ops run one at a time,
  * so every read sees the table the writes just left, and a run's
  * figures do not depend on how concurrent work happened to overlap.
  *
  * Set-up grows the log to hundreds of versions and several
  * checkpoints with cheap one-row commits, so time travel replays from
  * a checkpoint instead of hitting the memo.
  *
  * With one writer the commit order is the client's own order, so a
  * client-side shadow model (key -> value per committed version) is
  * exact, and every read is checked against it at the version it named.
  * A write that loses a commit race is retried, as a client re-running
  * the statement would; the retries show in `txn.conflict_ratio`. */
final class TxnWorkload(ctx: Ctx) extends Workload {
  import TxnWorkload._
  private val spark = ctx.spark

  private var root = ""
  private var startBytes = 0L
  // whole rounds the loop completed
  private var rounds = 0
  // committed writes: version -> effect on the key -> value model
  private val effects = mutable.HashMap[Int, Effect]()
  // reads to check against the model: (op, version, expected-from-model => ok)
  private val reads = mutable.ArrayBuffer[(Op, Int, Model => Boolean)]()
  private var conflicts = 0L
  private var writeAttempts = 0L
  private var submittedBytes = 0L
  private val pruneRatios = mutable.ArrayBuffer[Double]()
  private val mergeVersions = mutable.ArrayBuffer[Int]()
  private var layer = Map.empty[String, Double]
  private val stream = new StreamIngest(ctx)
  private val compaction = new SmallFileCompaction(ctx)

  def generate(dir: File): Unit = {
    // the initial table rows and the set-up commits' one-row files are
    // written here; the client draws its keys and values lazily from a
    // generator of the same seed
    val rnd = new SplittableRandom(ctx.seed)
    val rows = (0 until BaseKeys).map(k => Row(k.toLong, rnd.nextLong(ValueRange), payload(k, 0)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, InitialFiles), Schema)
      .write.parquet(new File(dir, "initial.parquet").toString)
    val pqType = MessageTypeParser.parseMessageType(RowParquet)
    val groups = new SimpleGroupFactory(pqType)
    val conf = spark.sparkContext.hadoopConfiguration
    (0 until GrowFiles).foreach { i =>
      val (k, v) = grownRow(i)
      val w = ExampleParquetWriter.builder(new Path(s"$dir/grow/${grownName(i)}/part-00000.parquet"))
        .withType(pqType).withConf(conf).build()
      try w.write(groups.newGroup().append("k", k).append("v", v).append("payload", payload(k, v)))
      finally w.close()
    }
    stream.generate(dir)
    compaction.generate(dir)
  }

  /** The row of set-up file `i`: a key outside every range the client
    * touches, and a value drawn from the seed. */
  private def grownRow(i: Int): (Long, Long) =
    (GrowKeyBase + i, new SplittableRandom(ctx.seed * 31 + i).nextLong(ValueRange))

  def prepare(dir: File): Unit = {
    root = ctx.dir("txn/table").toString
    val initial = spark.read.parquet(new File(dir, "initial.parquet").toString)
    // one append per initial file, key-range ordered, so stats prune
    val files = initial.inputFiles.sorted
    files.zipWithIndex.foreach { case (f, i) =>
      val df = spark.read.schema(Schema).parquet(f)
      val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val v = TxnLog.writeAppend(spark, root, df, "setup", s"init$i")
      effects.put(v, Put(rows))
    }
    grow(new File(dir, "grow"))
    // warm-up: every op kind once, untimed, on a throwaway client (the
    // ingest and compactor ops warm up in their own staging)
    stream.prepare(dir)
    compaction.prepare(dir)
    val warm = new Client(ctx, -1)
    Round.distinct.filterNot(Set("ingest", "compact")).foreach(k => warm.run(k, record = false))
    startBytes = Stats.duBytes(new File(root))
  }

  /** Grow the log with cheap commits over the generated one-row files:
    * commit `i` adds file `i % GrowFiles` and removes the one before it,
    * so consecutive versions differ while the tip keeps one extra file
    * at most; a last commit removes that one too. */
  private def grow(files: File): Unit = {
    (0 until GrowFiles).foreach { i =>
      val name = grownName(i)
      java.nio.file.Files.move(new File(files, name).toPath, new File(root, name).toPath)
    }
    def commit(actions: Seq[TxnLog.Action], effect: Effect): Unit =
      effects.put(TxnLog.commitNext(root, actions, "setup"), effect)
    (0 until GrowVersions).foreach { i =>
      val (f, prev) = (i % GrowFiles, (i + GrowFiles - 1) % GrowFiles)
      if (i == 0) commit(Seq(TxnLog.add(grownName(f))), Put(Map(grownRow(f))))
      else commit(Seq(TxnLog.remove(grownName(prev)), TxnLog.add(grownName(f))),
        Put(Map(grownRow(f)), Set(grownRow(prev)._1)))
    }
    val last = (GrowVersions - 1) % GrowFiles
    commit(Seq(TxnLog.remove(grownName(last))), Put(Map.empty, Set(grownRow(last)._1)))
  }

  def measure(deadlineNs: Long): Unit = {
    val client = new Client(ctx, 0)
    // whole rounds only, so every run times the same op mix
    while (System.nanoTime() < deadlineNs) {
      Round.foreach(k => client.run(k, record = true))
      rounds += 1
      // no op is in flight between rounds
      graft.core.Caches.drain(spark)
      graft.core.Caches.release(spark)
    }
    if (ctx.tracer.enabled) probeLog()
  }

  /** The closed-loop client: runs one op of a given kind, with keys,
    * values and ranges from its own seeded generator. */
  private final class Client(ctx: Ctx, val id: Int) {
    private val rnd = new SplittableRandom(ctx.seed * 1000003L + id + 17)
    private val zipf = new Zipf(BaseKeys, 1.1, rnd.split())
    private var fresh = FreshKeyBase + (id + 1).toLong * 10000000L
    // live base keys, for deletes
    private val live = mutable.TreeMap[Long, Long]() ++
      modelAt(Int.MaxValue).filter { case (k, _) => k < BaseKeys }

    private def hotKey(): Long = zipf.next().toLong
    private def tag(): String = s"c${id + 1}_${System.nanoTime()}"

    /** Retry a write until it commits (or provably had nothing to do). */
    private def commit(what: String)(attempt: => Option[Int]): Option[Int] = {
      var tries = 0
      var out: Option[Int] = None
      while (out.isEmpty && tries < MaxTries) {
        tries += 1
        writeAttempts += 1
        out = attempt
        if (out.isEmpty) conflicts += 1
      }
      if (out.isEmpty) throw new IllegalStateException(s"$what lost $MaxTries write conflicts")
      out
    }

    def run(kind: String, record: Boolean): Unit = kind match {
      case "ingest" => stream.pass(record)
      case "compact" => compaction.iteration(record)
      case "append" =>
        val rows = (0 until AppendRows).map { _ => fresh += 1; fresh -> rnd.nextLong(ValueRange) }
        ctx.op("append", record) {
          val v = ctx.span("sources", "TxnLog.writeAppend", "action")(
            TxnLog.writeAppend(spark, root, frame(rows), s"c$id", tag()))
          effects.put(v, Put(rows.toMap))
          submittedBytes += rows.map(r => rowBytes(r._1, r._2)).sum
          v > 0
        }
      case "merge" =>
        val keys = Iterator.continually(hotKey()).distinct.take(MergeRows).toSeq
        val rows = keys.map(k => k -> rnd.nextLong(ValueRange))
        ctx.op("merge", record) {
          val v = commit("merge")(ctx.span("sources", "TxnLog.mergeUpsert", "action")(
            TxnLog.mergeUpsert(spark, root, frame(rows), "k", s"c$id"))).get
          effects.put(v, Put(rows.toMap))
          live ++= rows
          if (record) mergeVersions += v
          submittedBytes += rows.map(r => rowBytes(r._1, r._2)).sum
          true
        }
      case "delete" =>
        val from = rnd.nextInt(BaseKeys - DeleteWidth).toLong
        val to = from + DeleteWidth - 1
        ctx.op("delete", record) {
          // a range with no live key is a no-op (None); otherwise None
          // is a lost race and the delete is retried
          if (live.range(from, to + 1).nonEmpty) {
            val v = commit("delete")(ctx.span("sources", "TxnLog.deleteRange", "action")(
              TxnLog.deleteRange(spark, root, "k", from.toString, to.toString, s"c$id"))).get
            effects.put(v, DeleteRange(from, to))
            live --= live.range(from, to + 1).keys.toSeq
          }
          true
        }
      case "lookup" =>
        val key = hotKey()
        var v = 0
        var got = Seq.empty[(Long, Long)]
        val o = ctx.op("lookup", record) {
          v = TxnLog.latestVersion(root)
          val (df, scanned, pruned) = ctx.span("sources", "TxnLog.readPointLookup", "build")(
            TxnLog.readPointLookup(spark, root, "k", key.toString, v))
          got = ctx.span("sources", "lookup.collect", "action")(
            df.where(col("k") === key).select(col("k"), col("v")).collect()
              .map(r => r.getLong(0) -> r.getLong(1)).toSeq)
          if (record) pruneRatios += Stats.ratio(pruned.size, scanned.size + pruned.size)
          true
        }
        reads += ((o, v, m => got == m.get(key).map(key -> _).toSeq))
      case "scan" | "timetravel" =>
        var v = 0
        var got = (0L, 0L, 0L)
        val o = ctx.op(kind, record) {
          val tip = TxnLog.latestVersion(root)
          // time travel goes past the state memo's reach
          v = if (kind == "scan") tip else 1 + rnd.nextInt(math.max(1, tip - MemoEntries - 1))
          got = aggregate(v, kind)
          true
        }
        reads += ((o, v, m => got == digest(m)))
      case "sql" =>
        ctx.op("sql", record) {
          val r = ctx.span("plans", "GRAFT OPTIMIZE", "action")(
            spark.sql(s"GRAFT OPTIMIZE '$root'").collect())
          val v = r(0).getInt(0)
          if (v > 0) effects.put(v, NoChange)
          val tip = TxnLog.latestVersion(root)
          val history = ctx.span("plans", "GRAFT DESCRIBE HISTORY", "action")(
            spark.sql(s"GRAFT DESCRIBE HISTORY '$root'").collect())
          history.nonEmpty && history.map(_.getInt(0)).max >= tip
        }
    }

    private def aggregate(v: Int, what: String): (Long, Long, Long) = {
      val df = ctx.span("sources", "TxnLog.read", "build")(TxnLog.read(spark, root, v))
      val r = ctx.span("sources", s"$what.collect", "action")(
        df.agg(count(lit(1)), coalesce(sum(col("k")), lit(0L)),
          coalesce(sum(col("v")), lit(0L))).collect()(0))
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    private def frame(rows: Seq[(Long, Long)]): DataFrame =
      spark.createDataFrame(
        rows.map { case (k, v) => Row(k, v, payload(k, v)) }.asJava, Schema)
  }

  /** Traced run only: the log protocol's own costs at the final tip. */
  private def probeLog(): Unit = {
    val tip = TxnLog.latestVersion(root)
    val replay = (1 to 5).map { _ =>
      TxnLog.invalidateState(root)
      ctx.span("sources", "TxnLog.stateAt cold", "call")(Stats.time(TxnLog.stateAt(root, tip))._2)
    }
    val latest = (1 to 20).map(_ =>
      ctx.span("sources", "TxnLog.latestVersion", "call")(Stats.time(TxnLog.latestVersion(root))._2))
    val rewritten = mergeVersions.toSeq.map(v =>
      TxnLog.actionsAt(root, v).count(_.action == "remove").toDouble)
    layer = Map(
      "txnlog.replay_s" -> Stats.median(replay),
      "txnlog.latest_version_s" -> Stats.median(latest),
      "txnlog.versions" -> TxnLog.versions(root).size.toDouble,
      "txnlog.checkpoints" -> TxnLog.checkpoints(root).size.toDouble,
      "txnlog.log_mb" -> Stats.duBytes(new File(root, "_log")) / 1048576.0,
      "txnlog.live_files" -> TxnLog.stateAt(root, tip).live.size.toDouble,
      "txnlog.prune_ratio" -> Stats.mean(pruneRatios.toSeq),
      "txn.files_rewritten_per_merge" -> Stats.mean(rewritten))
  }

  /** The shadow model at version `upTo`: committed effects replayed
    * in version order; `visit` sees the model after each version. */
  private def modelAt(upTo: Int, visit: (Int, Model) => Unit = (_, _) => ())
  : Map[Long, Long] = {
    val model = mutable.HashMap[Long, Long]()
    effects.keys.filter(_ <= upTo).toSeq.sorted.foreach { v =>
      effects(v) match {
        case Put(rows, drop) => model --= drop; model ++= rows
        case DeleteRange(a, b) => model.filterInPlace { case (k, _) => k < a || k > b }
        case NoChange => ()
      }
      visit(v, model)
    }
    model.toMap
  }

  def verify(): Unit = {
    stream.verify()
    compaction.verify()
    val tip = TxnLog.latestVersion(root)
    // every read is checked at the version it named
    val byVersion = reads.toSeq.groupBy(_._2)
    val model = modelAt(tip, (v, m) =>
      byVersion.getOrElse(v, Nil).foreach { case (op, _, ok) =>
        if (!ok(m)) op.fail(s"${op.kind} at version $v differs from the model")
      })
    val table = TxnLog.read(spark, root, tip).select(col("k"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    ctx.check("table tip equals the shadow model")(
      table.length == model.size && table.toMap == model.toMap)
  }

  private def ok(kinds: String*) = ctx.timedOps(kinds: _*).filter(_.ok)

  /** Ops per second of op time. */
  def workPerS: Double = {
    val ops = ctx.timedOps()
    Stats.ratio(ops.size.toDouble, ops.map(_.seconds).sum)
  }

  private val commitKinds = Seq("append", "merge", "delete")
  private val readKinds = Seq("lookup", "scan", "timetravel")

  def report: Seq[(String, Double, String)] = {
    def q(kinds: Seq[String], p: Double) = Main.latencyQuantile(ctx.timedOps(kinds: _*), p)
    Seq(
      ("txn.commit_p50_s", q(commitKinds, 0.5), "s"),
      ("txn.commit_p95_s", q(commitKinds, 0.95), "s"),
      ("txn.read_p50_s", q(readKinds, 0.5), "s"),
      ("txn.read_p95_s", q(readKinds, 0.95), "s"),
      ("txn.write_amp", Stats.ratio((Stats.duBytes(new File(root)) - startBytes).toDouble,
        submittedBytes.toDouble), "ratio"),
      ("txn.commits", ok(commitKinds: _*).size.toDouble, "count"),
      ("txn.reads", ok(readKinds: _*).size.toDouble, "count"),
      ("txn.rounds", rounds.toDouble, "count"),
      ("txn.tip_version", TxnLog.latestVersion(root).toDouble, "count")) ++ stream.report ++ compaction.report
  }

  def layerMetrics(spans: Seq[Span], jobs: Seq[SparkCounts#Job]): Map[String, Double] = {
    def p50(kinds: String*) = Main.latencyQuantile(ctx.timedOps(kinds: _*), 0.5)
    layer ++ stream.layerMetrics ++ compaction.layerMetrics(spans) ++ Map(
      "txn.append_p50_s" -> p50("append"), "txn.merge_p50_s" -> p50("merge"),
      "txn.delete_p50_s" -> p50("delete"),
      "txn.optimize_p50_s" -> Stats.median(spans.filter(_.name == "GRAFT OPTIMIZE").map(_.seconds)),
      "txn.lookup_p50_s" -> p50("lookup"), "txn.scan_p50_s" -> p50("scan"),
      "txn.timetravel_p50_s" -> p50("timetravel"),
      "txn.conflict_ratio" -> Stats.ratio(conflicts.toDouble, writeAttempts.toDouble),
      "plans.sql_p50_s" -> p50("sql"))
  }
}

object TxnWorkload {
  val BaseKeys = 2000
  val InitialFiles = 2
  val ValueRange = 1000000L
  val FreshKeyBase = 100000000L
  val AppendRows = 10
  val MergeRows = 8
  val DeleteWidth = 4
  val MaxTries = 8
  /** The txn log's state memo holds this many versions. */
  val MemoEntries = 64
  /** Set-up commits that grow the log, the one-row files they cycle
    * through, and those files' keys (above every key the client writes). */
  val GrowVersions = 300
  val GrowFiles = 10
  val GrowKeyBase = 900000000L
  /** One round of the client's loop: writes and reads interleaved, two
    * compactor runs, and one each of the SQL face (`GRAFT OPTIMIZE` then
    * `GRAFT DESCRIBE HISTORY`) and a streaming ingest pass. */
  val Round: Array[String] = Array("append", "lookup", "merge", "compact", "scan", "lookup",
    "delete", "timetravel", "append", "lookup", "merge", "compact", "timetravel", "sql",
    "lookup", "ingest")

  val Schema: StructType = StructType.fromDDL("k BIGINT, v BIGINT, payload STRING")

  sealed trait Effect
  /** Rows written, after the keys in `drop` are removed. */
  final case class Put(rows: Map[Long, Long], drop: Set[Long] = Set.empty) extends Effect
  final case class DeleteRange(from: Long, to: Long) extends Effect
  case object NoChange extends Effect

  type Model = scala.collection.Map[Long, Long]

  def grownName(i: Int): String = f"grow-$i%05d"
  val RowParquet = "message row { optional int64 k; optional int64 v; optional binary payload (STRING); }"

  def payload(k: Long, v: Long): String = s"row-$k-$v-" + "x" * 16
  def rowBytes(k: Long, v: Long): Long = 16L + payload(k, v).length

  def digest(m: Model): (Long, Long, Long) = (m.size.toLong, m.keys.sum, m.values.sum)

  /** Zipf(s) over ranks 1..n, mapped through a seeded permutation so the
    * hot keys are spread over the key range. */
  final class Zipf(n: Int, s: Double, rnd: SplittableRandom) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    private val perm = {
      val a = (0 until n).toArray
      (n - 1 to 1 by -1).foreach { i =>
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      perm(math.min(if (i >= 0) i else -i - 1, n - 1))
    }
  }
}
