package perfbench

/** Writes a traced run's spans, ops and per-pass listener counters as one
  * JSON document (kept in memory during the run, written once at its end). */
object Trace {
  private def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def write(path: String, rec: Recorder, counters: Map[Int, Counters]): Unit = {
    val spans = rec.spans.map(s =>
      s"""{"name":${str(s.name)},"start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""")
    val ops = rec.ops.map(o =>
      s"""{"id":${o.id},"pass":${o.pass},"name":${str(o.name)},"kind":${str(o.kind)},"start_ns":${o.startNs},"end_ns":${o.endNs},"ok":${o.ok}}""")
    val cs = counters.toSeq.sortBy(_._1).map { case (p, c) => c.synchronized {
      s"""{"pass":$p,"jobs":${c.jobs},"stages":${c.stages},"stages_skipped":${c.stagesSkipped},""" +
        s""""tasks":${c.tasks},"one_task_stages":${c.oneTaskStages},"task_ns":${c.taskNs},""" +
        s""""cpu_ns":${c.cpuNs},"gc_ms":${c.gcMs},"input_bytes":${c.inputBytes},""" +
        s""""shuffle_read_bytes":${c.shuffleRead},"shuffle_write_bytes":${c.shuffleWrite},""" +
        s""""spill_bytes":${c.spill},"pinned_rdds":${c.pinnedRdds.size}}"""
    } }
    val doc = s"""{"spans":[${spans.mkString(",\n")}],\n"ops":[${ops.mkString(",\n")}],\n""" +
      s""""counters":[${cs.mkString(",\n")}]}\n"""
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, doc.getBytes("UTF-8"))
  }
}
