package perfbench

import scala.util.Random

import graft.SparkEntry
import graft.ops.Profiler

/** `query_jobs`: the registered queries that run the most Spark jobs per
  * call (ranked once with `--mode rank`, committed in query_jobs.tsv with
  * each query's expected row count and row hash). Each pass runs every
  * listed query once, in a seed-shuffled order, as
  * `SparkEntry.queries(name)(spark, dir)` followed by a count, split into
  * build (registry), planning (catalyst) and execution spans. */
final class QueryJobs(ctx: Ctx, expected: Seq[(String, Long, Long)]) extends Workload {
  import ctx._

  def nominalPassS: Double = 8.0

  private def runOne(name: String): Long = {
    val df = rec.span("registry.build")(SparkEntry.queries(name)(spark, data))
    val counted = rec.span("catalyst.plan") {
      val c = df.groupBy().count()
      c.queryExecution.executedPlan
      c
    }
    rec.span("exec.count")(counted.collect().head.getLong(0))
  }

  /** Warm-up: every query once, checked against its expected row count
    * and row hash (the full-content check, kept out of the timed passes). */
  def setup(): Unit =
    expected.foreach { case (name, rows, hash) =>
      Profiler.invalidateCache()
      rec.op(name, "check") {
        val got = Util.rowHash(SparkEntry.queries(name)(spark, data))
        rec.check(got == ((rows, hash)), s"$name: got $got, expected ($rows, $hash)")
      }
    }

  def pass(p: Int): Unit = {
    val order = new Random(seed * 1000003L + p).shuffle(expected)
    order.foreach { case (name, rows, _) =>
      Profiler.invalidateCache()  // each query pays its own materializations
      rec.op(name, "read") {
        val n = runOne(name)
        rec.check(n == rows, s"$name: $n rows, expected $rows")
      }
    }
  }
}

object QueryJobs {
  /** Parse query_jobs.tsv: `name<TAB>rows<TAB>hash` per line, # comments. */
  def load(path: String): Seq[(String, Long, Long)] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, r, h) = l.split("\t")
        (n, r.toLong, h.toLong)
      }.toList
    finally src.close()
  }
}
