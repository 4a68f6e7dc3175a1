package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession

/** The benchmark JVM, launched by run.py with the engine's classpath.
  *
  * `--mode run` (default): set up, run passes of one workload for
  * `--seconds`, and print one JSON line as the LAST stdout line — the
  * end-to-end metrics with `--trace 0`; with `--trace 1`, as many
  * untraced passes and as many traced ones (listener registered, spans
  * recorded), interleaved, and the per-layer metrics.
  * `--mode rank` runs every registered query once under the listener and
  * prints them by jobs per call; `--mode expect` prints query_jobs.tsv
  * lines (row count and row hash) for the listed queries. */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t0 = System.nanoTime()
    val spark = GraftSession.local("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    // the generated inputs are read-only for the whole run, like the
    // fixture roots the engine memoizes parquet schemas for
    graft.engine.Tables.immutableRoots :+= o("data")
    val rec = new Recorder(spark)
    val ctx = Ctx(spark, rec, o("data"), o("work"), o.getOrElse("seed", "1").toLong)
    try o.getOrElse("mode", "run") match {
      case "rank" => Rank.rank(ctx)
      case "expect" => Rank.expect(ctx, QueryJobs.load(o("queries")).map(_._1))
      case "run" =>
        val line = run(ctx, o, jvmS + sessionS + o.getOrElse("datagen-s", "0").toDouble,
          sessionS)
        println(line)
    } finally spark.stop()
  }

  private def workload(ctx: Ctx, o: Map[String, String]): Workload = o("workload") match {
    case "query_jobs" => new QueryJobs(ctx, QueryJobs.load(o("queries")))
    case "profile_db" => new ProfileDb(ctx)
    case w => sys.error(s"unknown workload $w")
  }

  private def run(ctx: Ctx, o: Map[String, String], preSetupS: Double,
      sessionS: Double): String = {
    val spark = ctx.spark
    val rec = ctx.rec
    val seconds = o("seconds").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val w = workload(ctx, o)
    val s0 = System.nanoTime()
    w.setup()
    val setupS = preSetupS + (System.nanoTime() - s0) / 1e9

    // closed loop, one client. The window is a fixed number of passes,
    // `seconds` over the workload's nominal pass length, so every run (and
    // every commit compared) does the same work however fast the machine
    // is at the time; every pass starts with the profiler's
    // materializations dropped. A traced run makes twice the passes,
    // untraced and traced in the order U T T U U T ..., so the JVM's
    // warm-up weighs on both sides of trace.overhead_s alike
    val passWall = mutable.Map[Int, Double]()
    val cacheBytes = mutable.Map[Int, Double]()
    val counters = mutable.Map[Int, Counters]()
    val nPasses = math.max(1, math.round(seconds / w.nominalPassS).toInt) * (if (traced) 2 else 1)
    def tracing(p: Int) = traced && (p % 4 == 1 || p % 4 == 2)
    (0 until nPasses).foreach { p =>
      val listener = if (tracing(p)) Some(new Counters) else None
      listener.foreach { c => spark.sparkContext.addSparkListener(c); rec.tracing = true }
      graft.ops.Profiler.invalidateCache()
      rec.pass = p
      val t = System.nanoTime()
      w.pass(p)
      passWall(p) = (System.nanoTime() - t) / 1e9
      listener.foreach { c =>
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(c)
        rec.tracing = false
        counters(p) = c
      }
      cacheBytes(p) = spark.sparkContext.getRDDStorageInfo
        .map(r => (r.memSize + r.diskSize).toDouble).sum
      System.err.println(f"[perfbench] pass $p ${passWall(p)}%.3f s traced=${tracing(p)}")
      w.verify(p)
      rec.pass = -1
    }
    val (tracedPasses, plain) = (0 until nPasses).partition(tracing)

    val all = rec.ops.toSeq
    val attempted = all.size
    val failed = all.count(!_.ok)
    // every metric is reported on every workload: 0 where the workload
    // makes no call of that kind (e.g. no store commit in query_jobs)
    val none = StoreFigures.metrics(Nil) ++ Layers.kinds(rec, Nil) ++
      Map("profile_rows_per_s" -> 0.0, "profiler.hist_rows" -> 0.0)
    val metrics: Map[String, Double] = none ++ (
      if (!traced) {
        val ops = rec.measured.filter(op => plain.contains(op.pass))
        Map("setup_s" -> setupS,
          "pass_s" -> Util.median(plain.map(passWall)),
          "op_p50_s" -> Util.quantile(ops.map(_.s), 0.5),
          "op_p90_s" -> Util.quantile(ops.map(_.s), 0.9),
          "cache_mb" -> Util.median(plain.map(cacheBytes)) / 1e6) ++
          Layers.kinds(rec, plain) ++ w.extra(plain)
      } else {
        Layers.metrics(rec, tracedPasses, counters.toMap, cacheBytes.toMap, sessionS) ++
          Layers.kinds(rec, tracedPasses) ++ w.extra(tracedPasses) +
          ("trace.overhead_s" -> (Util.median(tracedPasses.map(passWall)) -
            Util.median(plain.map(passWall)))) +
          ("cache_mb" -> Util.median(tracedPasses.map(cacheBytes)) / 1e6)
      })
    if (traced) Trace.write(o("trace-out"), rec, counters.toMap)
    rec.measured.groupBy(_.name).toSeq.sortBy(-_._2.map(_.s).sum).foreach { case (n, os) =>
      System.err.println(f"[perfbench] op $n%-28s x${os.size}%-4d median ${
        Util.median(os.map(_.s))}%.3f s")
    }
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": {"value": $v, "unit": "${Layers.unit(k)}"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
