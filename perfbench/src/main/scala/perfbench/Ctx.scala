package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One attempted benchmark op. `ok` turns false when the op throws,
  * returns false, or a later output check refutes it. Untimed ops (set-up
  * warm-ups) count as attempts but stay out of every timing. */
final class Op(val id: Long, val kind: String, val startNs: Long, val timed: Boolean = true) {
  @volatile var endNs: Long = startNs
  @volatile var ok: Boolean = true
  @volatile var error: String = ""
  def seconds: Double = (endNs - startNs) / 1e9
  def fail(why: String): Unit = {
    if (ok) error = why
    ok = false
  }
}

/** What a workload needs from the harness: the session, its seed, a
  * private scratch directory, the tracer, and the op recorder. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
                val scratch: File, val tracer: Tracer) {
  private val recorded = new ConcurrentLinkedQueue[Op]()

  /** Time `body` as one op of `kind`; `record = false` makes it an
    * untimed op. Tracing adds a root span and a Spark job group named
    * after the op, so listener counts can be attributed to it. */
  def op(kind: String, record: Boolean = true)(body: => Boolean): Op = {
    val o = new Op(tracer.newId(), kind, System.nanoTime(), timed = record)
    val sc = spark.sparkContext
    if (tracer.enabled) sc.setJobGroup(s"op-${o.id}", kind, interruptOnCancel = false)
    try {
      val ok = tracer.opSpan(o.id, kind)(body)
      o.endNs = System.nanoTime()
      if (!ok) o.fail(s"$kind returned a wrong result")
    } catch {
      case NonFatal(t) =>
        o.endNs = System.nanoTime()
        o.fail(s"$kind threw ${t.getClass.getSimpleName}: ${t.getMessage}")
    } finally if (tracer.enabled) sc.clearJobGroup()
    if (!o.ok) warn(s"op ${o.id} failed: ${o.error}")
    recorded.add(o)
    o
  }

  /** An end-of-run output check, counted as one attempted op that is
    * not timed. */
  def check(what: String)(cond: => Boolean): Boolean = {
    val o = new Op(tracer.newId(), "check", System.nanoTime(), timed = false)
    val ok = try cond catch {
      case NonFatal(t) => warn(s"check $what threw $t"); false
    }
    if (!ok) {
      o.fail(s"check failed: $what")
      warn(o.error)
    }
    recorded.add(o)
    ok
  }

  def warn(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def ops: Seq[Op] = recorded.asScala.toSeq
  def timedOps(kinds: String*): Seq[Op] =
    ops.filter(o => o.timed && (kinds.isEmpty || kinds.contains(o.kind)))

  def span[T](layer: String, name: String, kind: String = "call")(body: => T): T =
    tracer.span(layer, name, kind)(body)

  def dir(name: String): File = {
    val d = new File(scratch, name)
    d.mkdirs()
    d
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes of the regular files under `f` (the path may be absent). */
  def duBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten.map(duBytes).sum

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
    ()
  }
}
