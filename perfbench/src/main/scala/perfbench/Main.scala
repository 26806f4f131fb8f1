package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** A workload: seeded inputs, a staging step with one untimed warm-up,
  * a closed measurement loop, and end-of-run output checks. */
trait Workload {
  /** Write this seed's inputs under `dir`; the program sees only them. */
  def generate(dir: File): Unit
  /** Stage the inputs in `dir` and run one untimed warm-up iteration. */
  def prepare(dir: File): Unit
  /** Closed-loop measurement until System.nanoTime reaches `deadlineNs`. */
  def measure(deadlineNs: Long): Unit
  /** End-of-run output checks (each one counts as an attempted op). */
  def verify(): Unit
  /** Work units completed per second of op time (`work_per_s`). */
  def workPerS: Double
  /** The workload's own end-to-end figures: (name, value, unit). */
  def report: Seq[(String, Double, String)]
  /** Layer metrics only this workload's layers produce (traced run). */
  def layerMetrics(spans: Seq[Span], jobs: Seq[SparkCounts#Job]): Map[String, Double]
}

object Main {
  /** End-to-end metrics, reported with tracing off. `work_per_s` is the
    * workload's throughput in its own work unit (ladder: corpus
    * documents; txn_mixed: ops); `op_p50_s` is the geometric mean over
    * op kinds of each kind's median latency, so a run's mix of kinds
    * does not move it. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "work_per_s" -> "units/s", "op_p50_s" -> "s",
    "heap_retained_mb" -> "MB")

  /** Per-layer metrics, reported by the traced run. A layer a workload
    * bypasses reports 0 for its metrics. */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.core_util" -> "ratio",
    "spark.sched_delay_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB",
    "driver.self_s" -> "s", "driver.build_s" -> "s", "driver.action_s" -> "s",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "compact.validate_s" -> "s", "compact.schema_s" -> "s", "compact.list_s" -> "s",
    "compact.snapshot_s" -> "s", "compact.parquet_run_s" -> "s", "compact.avro_run_s" -> "s",
    "compact.files_in" -> "count", "compact.files_out" -> "count",
    "compact.leaf_ok_ratio" -> "ratio",
    "kernel.minhash8_ns_per_kb" -> "ns/KB", "kernel.simhash16_ns_per_kb" -> "ns/KB",
    "kernel.cosine_ns_per_pair" -> "ns",
    "dedup.candidates_s" -> "s", "dedup.candidates" -> "count", "dedup.verify_s" -> "s",
    "dedup.verified" -> "count", "dedup.precision" -> "ratio", "dedup.components_s" -> "s",
    "dedup.components" -> "count", "dedup.apply_s" -> "s", "dedup.kept" -> "count",
    "dedup.embed_s" -> "s", "dedup.jobs_per_rung" -> "count",
    "txn.append_p50_s" -> "s", "txn.merge_p50_s" -> "s", "txn.delete_p50_s" -> "s",
    "txn.optimize_p50_s" -> "s", "txn.lookup_p50_s" -> "s", "txn.scan_p50_s" -> "s",
    "txn.timetravel_p50_s" -> "s", "txnlog.replay_s" -> "s", "txnlog.latest_version_s" -> "s",
    "txnlog.versions" -> "count", "txnlog.checkpoints" -> "count", "txnlog.log_mb" -> "MB",
    "txnlog.live_files" -> "count", "txnlog.prune_ratio" -> "ratio",
    "txn.conflict_ratio" -> "ratio", "txn.files_rewritten_per_merge" -> "count",
    "plans.sql_p50_s" -> "s",
    "stream.start_s" -> "s", "stream.stop_s" -> "s", "stream.batches" -> "count",
    "stream.trigger_ms" -> "ms", "stream.latest_offset_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_mem_mb" -> "MB",
    "stream.sink_commits" -> "count",
    "trace.op_p50_s" -> "s", "trace.work_per_s" -> "units/s", "trace.spans" -> "count")

  /** How many times set-up input generation runs; `setup_s` takes the
    * median, so one slow repetition does not move it. */
  val GenerateRepeats = 3

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, scratch: File, out: File,
                        spans: Option[File])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", new File(need("--scratch")), new File(need("--out")),
      m.get("--spans").map(new File(_)))
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "llm_dedup" => new DedupWorkload(ctx)
    case "txn_mixed" => new TxnWorkload(ctx)
    case other => sys.error(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // bound the status store, so retained heap does not grow with the
      // number of queries a run happens to fit in
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.warehouse.dir", new File(o.scratch, "warehouse").toURI.toString)
      .config("spark.local.dir", new File(o.scratch, "spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer
    val ctx = new Ctx(spark, o.seed, cores, o.scratch, tracer)
    val w = workload(o.workload, ctx)

    // Set-up: generation repeated into fresh dirs (median kept), then
    // staging plus one warm-up iteration on the first copy.
    val genS = (1 to GenerateRepeats).map { i =>
      Stats.time(w.generate(ctx.dir(s"input$i")))._2
    }
    (2 to GenerateRepeats).foreach(i => Stats.deleteTree(new File(o.scratch, s"input$i")))
    val prepareS = Stats.time(w.prepare(new File(o.scratch, "input1")))._2
    org.apache.spark.sql.graft.StreamingShim.drainStreamingState(spark)
    graft.core.Caches.drain(spark)
    graft.core.Caches.release(spark)
    val setupS = sessionS + Stats.median(genS) + prepareS

    val probes = if (o.trace) Some(new SessionProbes(spark)) else None
    tracer.enabled = o.trace
    val loopStart = System.nanoTime()
    w.measure(loopStart + o.seconds * 1000000000L)
    val loopS = (System.nanoTime() - loopStart) / 1e9
    w.verify()
    probes.foreach(_.drain())

    graft.core.Caches.drain(spark)
    graft.core.Caches.release(spark)
    // least heap in use over a few full collections: one collection can
    // land while a background thread still holds garbage
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val ops = ctx.ops
    val timed = ctx.timedOps()
    val failed = ops.count(!_.ok)
    val opP50 = kindMedians(timed)
    val workPerS = w.workPerS

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val v = Map("setup_s" -> setupS, "work_per_s" -> workPerS,
          "op_p50_s" -> opP50, "heap_retained_mb" -> heapMb)
        endToEnd.map { case (n, u) => (n, v(n), u) }
      } else {
        val spans = tracer.spans
        val p = probes.get
        val layer = layerMetrics(ctx, p, spans) ++ w.layerMetrics(spans, p.counts.snapshot) ++
          Map("trace.op_p50_s" -> opP50, "trace.work_per_s" -> workPerS,
            "trace.spans" -> spans.size.toDouble)
        o.spans.foreach(f => writeSpans(f, spans, p))
        perLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }

    val report = Seq(
      ("setup_s", setupS, "s"), ("setup.session_s", sessionS, "s"),
      ("setup.generate_s", Stats.median(genS), "s"),
      ("setup.generate_max_s", genS.max, "s"), ("setup.prepare_s", prepareS, "s"),
      ("heap_retained_mb", heapMb, "MB"),
      ("fail_ratio", Stats.ratio(failed, ops.size), "ratio"),
      ("loop_s", loopS, "s"), ("ops", timed.size.toDouble, "count")) ++ w.report
    val sb = new StringBuilder
    report.foreach { case (n, v, u) => sb ++= f"report $n%-28s ${num(v)}%s $u%n" }
    ops.filterNot(_.ok).take(20).foreach(x => sb ++= s"failure ${x.kind}: ${x.error}\n")
    val metricJson = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    sb ++= s"""{"correct": ${failed == 0}, "attempted": ${ops.size}, "failed": $failed, "metrics": $metricJson}""" + "\n"
    Files.write(o.out.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Quantile of op latency; a failed op counts as missing every
    * latency limit, so it sorts above all successful ones. */
  def latencyQuantile(ops: Seq[Op], q: Double): Double = {
    val xs = ops.map(o => if (o.ok) o.seconds else Double.MaxValue)
    val v = Stats.quantile(xs, q)
    if (v >= Double.MaxValue / 2) 1e9 else v
  }

  /** Geometric mean over op kinds of each kind's median latency. */
  def kindMedians(ops: Seq[Op]): Double = {
    val meds = ops.groupBy(_.kind).values.map(latencyQuantile(_, 0.5)).toSeq
    if (meds.isEmpty) 0.0 else math.exp(meds.map(math.log).sum / meds.size)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) java.lang.Long.toString(v.toLong)
    else String.format(Locale.ROOT, "%.9g", Double.box(v)).trim

  /** Generic driver and Spark metrics, per timed op. */
  private def layerMetrics(ctx: Ctx, p: SessionProbes, spans: Seq[Span]): Map[String, Double] = {
    val ops = ctx.timedOps()
    val n = math.max(ops.size, 1).toDouble
    val jobs = p.counts.snapshot
    val off = ctx.tracer.wallOffsetNs
    val byId = ops.map(o => s"op-${o.id}" -> o).toMap
    // a job belongs to the op whose group it carries; jobs started on
    // threads that did not inherit the group fall back to the op whose
    // window holds the job's start
    def owner(j: SparkCounts#Job): Option[Op] =
      Option(j.group).flatMap(byId.get).orElse {
        val t = j.startMs * 1000000L - off
        ops.find(o => o.startNs <= t && t <= o.endNs)
      }
    val owned = jobs.flatMap(j => owner(j).map(_ -> j)).groupBy(_._1.id)
    val selfS = ops.map { o =>
      val iv = owned.getOrElse(o.id, Nil).map { case (_, j) =>
        (math.max(j.startMs * 1000000L - off, o.startNs), math.min(j.endMs * 1000000L - off, o.endNs))
      }.filter { case (s, e) => e > s }
      math.max(0L, (o.endNs - o.startNs) - Tracer.unionNs(iv)) / 1e9
    }
    val js = owned.values.flatten.map(_._2).toSeq
    val opWall = ops.map(_.seconds).sum
    val mb = 1048576.0
    val (an, opt, pl) = p.plans.totals
    def sumKind(k: String) = spans.filter(_.kind == k).map(_.seconds).sum / n
    Map(
      "spark.jobs" -> js.size / n,
      "spark.stages" -> js.map(_.stages).sum / n,
      "spark.tasks" -> js.map(_.tasks).sum / n,
      "spark.task_run_s" -> js.map(_.runMs).sum / 1e3 / n,
      "spark.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9 / n,
      "spark.core_util" -> Stats.ratio(js.map(_.runMs).sum / 1e3, opWall * ctx.cores),
      "spark.sched_delay_s" -> js.map(_.schedMs).sum / 1e3 / n,
      "spark.gc_s" -> js.map(_.gcMs).sum / 1e3 / n,
      "spark.shuffle_read_mb" -> js.map(_.shuffleRead).sum / mb / n,
      "spark.shuffle_write_mb" -> js.map(_.shuffleWrite).sum / mb / n,
      "spark.spill_mb" -> js.map(_.spill).sum / mb / n,
      "spark.input_mb" -> js.map(_.input).sum / mb / n,
      "spark.output_mb" -> js.map(_.output).sum / mb / n,
      "driver.self_s" -> Stats.mean(selfS),
      "driver.build_s" -> sumKind("build"),
      "driver.action_s" -> sumKind("action"),
      "plan.analysis_ms" -> an / n,
      "plan.optimization_ms" -> opt / n,
      "plan.planning_ms" -> pl / n)
  }

  /** Spans, per-layer self time and the listener's job records, one
    * JSON object per line. */
  private def writeSpans(f: File, spans: Seq[Span], p: SessionProbes): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = spans.map(s =>
      s"""{"type": "span", "id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "layer": "${esc(s.layer)}", "name": "${esc(s.name)}", "kind": "${s.kind}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""") ++
      p.counts.snapshot.map(j =>
        s"""{"type": "job", "job": ${j.id}, "group": "${Option(j.group).getOrElse("")}", "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "stages": ${j.stages}, "tasks": ${j.tasks}, "run_ms": ${j.runMs}, "cpu_ns": ${j.cpuNs}, "shuffle_read": ${j.shuffleRead}, "shuffle_write": ${j.shuffleWrite}, "input": ${j.input}, "output": ${j.output}}""") ++
      Tracer.selfSeconds(spans).toSeq.sortBy(_._1).map { case (l, s) =>
        s"""{"type": "self", "layer": "${esc(l)}", "self_s": ${num(s)}}""" }
    Option(f.getParentFile).foreach(_.mkdirs())
    Files.write(f.toPath, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
