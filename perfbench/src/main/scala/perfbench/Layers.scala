package perfbench

/** Metric derivation: the op-kind latencies shared by both modes, and the
  * per-layer metrics of traced passes (each the median over those passes
  * of a per-pass figure). */
object Layers {

  val storeMethods = Seq("upsert", "optimize", "vacuum", "read_version")
  val profilerCalls = Seq("schema", "histogram", "refresh", "summary")

  def unit(name: String): String =
    if (name.endsWith("_per_s")) "rows/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name == "store.bytes_added") "B"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ratio") || name.endsWith("_amp") ||
      name == "scheduler.parallelism" || name == "store.jobs_per_commit") "ratio"
    else "count"

  /** Length of the union of [start, end) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > e) { if (e > s) total += e - s; s = a; e = b }
      else e = math.max(e, b)
    }
    if (e > s) total += e - s
    total
  }

  /** Latency percentiles of the ops of each kind in `passes`. */
  def kinds(rec: Recorder, passes: Seq[Int]): Map[String, Double] = {
    val ops = rec.measured.filter(o => passes.contains(o.pass))
    def q(kind: String, p: Double) = Util.quantile(ops.filter(_.kind == kind).map(_.s), p)
    Map("commit_p50_s" -> q("commit", 0.5), "commit_p90_s" -> q("commit", 0.9),
      "read_p50_s" -> q("read", 0.5), "tt_read_p50_s" -> q("tt_read", 0.5))
  }

  def metrics(rec: Recorder, passes: Seq[Int], counters: Map[Int, Counters],
      cacheBytes: Map[Int, Double], sessionS: Double): Map[String, Double] = {
    val perPass: Seq[Map[String, Double]] = passes.map { p =>
      val c = counters(p)
      val ops = rec.measured.filter(_.pass == p)
      val ids = ops.map(_.id).toSet
      val spans = rec.spans.toSeq.filter(s => ids(s.op))
      def spanSum(name: String) = spans.filter(_.name == name).map(_.s).sum
      val wall = ops.map(_.s).sum
      c.synchronized {
        // op wall with no task of that op running
        val byOp = c.taskSpans.groupBy(_.op)
        val gap = ops.map { o =>
          val iv: Seq[(Long, Long)] = byOp.getOrElse(o.id, Nil).toSeq
            .map(t => (math.max(t.startMs, o.startMs), math.min(t.endMs, o.endMs)))
            .filter(x => x._2 > x._1)
          math.max(0.0, o.s - covered(iv) / 1e3)
        }.sum
        val commits = ops.filter(_.kind == "commit")
        // build + plan + execute against the op's wall (query ops only)
        val split = ops.flatMap { o =>
          val parts = spans.filter(s => s.op == o.id && s.parent >= 0 &&
            Set("registry.build", "catalyst.plan", "exec.count")(s.name)).map(_.s)
          if (parts.size == 3) Some(math.abs(o.s - parts.sum) / o.s) else None
        }
        Map(
          "registry.build_s" -> spanSum("registry.build"),
          "registry.build_jobs" -> c.jobsByPhase("registry").toDouble,
          "catalyst.plan_s" -> spanSum("catalyst.plan"),
          "exec.count_s" -> spanSum("exec.count"),
          "scheduler.jobs" -> c.jobs.toDouble,
          "scheduler.stages" -> c.stages.toDouble,
          "scheduler.stages_skipped" -> c.stagesSkipped.toDouble,
          "scheduler.tasks" -> c.tasks.toDouble,
          "scheduler.one_task_stage_ratio" -> c.oneTaskStages.toDouble / math.max(1L, c.stages),
          "scheduler.gap_s" -> gap,
          "scheduler.parallelism" -> c.taskNs / 1e9 / math.max(1e-9, wall),
          "exec.task_s" -> c.taskNs / 1e9,
          "exec.cpu_s" -> c.cpuNs / 1e9,
          "exec.gc_s" -> c.gcMs / 1e3,
          "exec.input_bytes" -> c.inputBytes.toDouble,
          "exec.shuffle_read_bytes" -> c.shuffleRead.toDouble,
          "exec.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
          "exec.spill_bytes" -> c.spill.toDouble,
          "materialize.pins" -> c.pinnedRdds.size.toDouble,
          "materialize.cached_bytes" -> cacheBytes(p),
          "store.jobs_per_commit" ->
            commits.map(o => c.jobsByOp(o.id)).sum.toDouble / math.max(1, commits.size),
          "trace.split_error_ratio" -> (if (split.isEmpty) 0.0 else split.max)) ++
          profilerCalls.map(n => s"profiler.${n}_s" -> spanSum(s"profiler.$n")) ++
          storeMethods.map { m =>
            s"store.${m}_s" -> Util.median(spans.filter(_.name == s"store.$m").map(_.s))
          }
      }
    }
    perPass.head.keys.map(k => k -> Util.median(perPass.map(_(k)))).toMap +
      ("session.start_s" -> sessionS)
  }
}
