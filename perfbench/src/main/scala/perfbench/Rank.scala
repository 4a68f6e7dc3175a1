package perfbench

import graft.SparkEntry
import graft.ops.Profiler

/** Helpers that produce query_jobs.tsv: `rank` runs every registered query
  * once (cold caches, listener registered) and prints
  * `name<TAB>jobs<TAB>seconds<TAB>ok`, most jobs first; `expect` prints the
  * expected `name<TAB>rows<TAB>hash` lines for the chosen queries. */
object Rank {
  def rank(ctx: Ctx): Unit = {
    val sc = ctx.spark.sparkContext
    val rows = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      Profiler.invalidateCache()
      val c = new Counters
      sc.addSparkListener(c)
      val t = System.nanoTime()
      val ok = ctx.rec.op(name, "rank")(SparkEntry.queries(name)(ctx.spark, ctx.data).count())
      val s = (System.nanoTime() - t) / 1e9
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(c)
      System.err.println(f"[rank] $name%-34s ${c.jobs}%4d $s%7.2f $ok")
      (name, c.jobs, s, ok)
    }
    rows.sortBy { case (n, j, _, _) => (-j, n) }.foreach { case (n, j, s, ok) =>
      println(f"$n\t$j\t$s%.3f\t$ok")
    }
  }

  def expect(ctx: Ctx, names: Seq[String]): Unit = names.foreach { n =>
    Profiler.invalidateCache()
    val (rows, hash) = Util.rowHash(SparkEntry.queries(n)(ctx.spark, ctx.data))
    println(s"$n\t$rows\t$hash")
  }
}
