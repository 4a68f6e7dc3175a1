package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A span: one timed call into a layer. `parent` is the index of the
  * enclosing span in the recorder (-1 for an op's root span); every span
  * of one op carries that op's id. Times are System.nanoTime. */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int) {
  def s: Double = (end - start) / 1e9
}

/** One client call: an op of a workload pass (`pass` >= 0), a warm-up
  * call (-1), or a correctness check (kind "check"). Wall-clock millis
  * bound the op for task-gap accounting. */
final case class OpRec(id: Int, pass: Int, name: String, kind: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, ok: Boolean) {
  def s: Double = (endNs - startNs) / 1e9
}

class CheckFailed(msg: String) extends RuntimeException(msg)

/** The single closed-loop client's bookkeeping: times every op, keeps
  * spans in memory while tracing, and tags the Spark jobs each op and
  * span submits (local properties [[Recorder.OpKey]] and
  * [[Recorder.PhaseKey]]) so the listener can attribute them. */
final class Recorder(spark: SparkSession) {
  val ops = mutable.ArrayBuffer[OpRec]()
  val spans = mutable.ArrayBuffer[Span]()
  var tracing = false
  var pass = -1
  private var stack = List.empty[Int]
  private var opId = -1

  private def sc = spark.sparkContext

  /** Run one op; an exception or a failed check marks it failed and the
    * run goes on (failures count in the result, they do not abort). */
  def op(name: String, kind: String)(body: => Unit): Boolean = {
    opId = ops.size
    sc.setLocalProperty(Recorder.OpKey, opId.toString)
    val (ms0, t0) = (System.currentTimeMillis(), System.nanoTime())
    val ok = try { span(name)(body); true } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: " +
          String.valueOf(e.getMessage).take(300))
        false
    }
    val (t1, ms1) = (System.nanoTime(), System.currentTimeMillis())
    sc.setLocalProperty(Recorder.OpKey, null)
    ops += OpRec(opId, pass, name, kind, t0, t1, ms0, ms1, ok)
    ok
  }

  /** A child span of the current op (no-op bookkeeping unless tracing). */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), opId)
      stack = idx :: stack
      val prevPhase = sc.getLocalProperty(Recorder.PhaseKey)
      sc.setLocalProperty(Recorder.PhaseKey, name.takeWhile(_ != '.'))
      try body
      finally {
        sc.setLocalProperty(Recorder.PhaseKey, prevPhase)
        stack = stack.tail
        spans(idx) = spans(idx).copy(end = System.nanoTime())
      }
    }

  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  /** Ops of measured passes that are not correctness checks. */
  def measured: Seq[OpRec] = ops.toSeq.filter(o => o.pass >= 0 && o.kind != "check")
}

object Recorder {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}
