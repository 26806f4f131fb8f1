package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made into a layer. `op` is the id of
  * the benchmark op the call belongs to (0 outside any op); `parent`
  * is the enclosing span on the same thread (0 for an op's root). */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, kind: String, startNs: Long,
                      endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. With tracing off every method is a pass-through and
  * nothing is allocated, so the untraced run measures the program
  * alone. A traced run switches it on after set-up, so only measured
  * work is recorded. Spans stay in memory until [[spans]] is read at
  * the end. */
final class Tracer {
  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(1)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  // (span id, op id) of the innermost open span, per thread
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  /** Offset that maps System.nanoTime onto the wall clock, so Spark's
    * millisecond job times line up with span times. */
  val wallOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def newId(): Long = ids.getAndIncrement()

  def span[T](layer: String, name: String, kind: String = "call")(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val stack = open.get
      val (parent, op) = stack.headOption.getOrElse((0L, 0L))
      open.set((id, op) :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        recorded.add(Span(id, parent, op, layer, name, kind, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  /** Root span of a benchmark op: spans opened inside it carry `opId`. */
  def opSpan[T](opId: Long, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val stack = open.get
      open.set((opId, opId) :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        recorded.add(Span(opId, 0L, opId, "bench", kind, "op", t0, System.nanoTime()))
        open.set(stack)
      }
    }

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.startNs)

}

object Tracer {
  /** Self time per layer: each span's duration minus the part of it
    * its direct children cover. */
  def selfSeconds(all: Seq[Span]): Map[String, Double] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = unionNs(children.getOrElse(s.id, Nil)
          .filter(_.op == s.op).map(c => (c.startNs, c.endNs)))
        math.max(0L, (s.endNs - s.startNs) - covered) / 1e9
      }.sum
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-job Spark execution counts, read from a listener registered on
  * the benchmark's own session. Tasks are attributed to jobs through
  * their stage; jobs carry the job group the op set. */
final class SparkCounts extends SparkListener {
  final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs: Long = startMs
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var schedMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = new Job(e.jobId, group, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val job = stageJob.get(e.stageId).flatMap(jobs.get)
    if (m != null && job.isDefined) {
      val j = job.get
      val info = e.taskInfo
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      val wall = info.finishTime - info.launchTime
      j.schedMs += math.max(0L, wall - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.input += m.inputMetrics.bytesRead
      j.output += m.outputMetrics.bytesWritten
    }
  }

  def snapshot: Seq[Job] = synchronized(jobs.values.toSeq)
}

/** Phase times of every query the session executes, from the
  * QueryPlanningTracker each QueryExecution carries. */
final class PlanTimes extends QueryExecutionListener {
  private var analysisMs = 0L
  private var optimizationMs = 0L
  private var planningMs = 0L

  private def add(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  def totals: (Long, Long, Long) = synchronized((analysisMs, optimizationMs, planningMs))
}

/** The session-side half of tracing: the listeners, installed only for
  * a traced run. */
final class SessionProbes(spark: SparkSession) {
  val counts = new SparkCounts
  val plans = new PlanTimes
  spark.sparkContext.addSparkListener(counts)
  spark.listenerManager.register(plans)

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
}
