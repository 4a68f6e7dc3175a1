package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Spark-side counters of one traced pass, attributed to the benchmark's
  * ops and phases through the job-group local properties the recorder
  * sets ([[Recorder.OpKey]], [[Recorder.PhaseKey]]). Registered only in
  * the traced run. All fields are guarded by `this`. */
final class Counters extends SparkListener {
  import Counters.TaskSpan

  var jobs, stages, stagesSkipped, tasks, oneTaskStages = 0L
  var taskNs, cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite, spill = 0L
  val jobsByPhase = mutable.Map[String, Long]().withDefaultValue(0L)
  val jobsByOp = mutable.Map[Int, Long]().withDefaultValue(0L)
  val taskSpans = mutable.ArrayBuffer[TaskSpan]()
  val pinnedRdds = mutable.Set[Int]()
  private val stageOp = mutable.Map[Int, Int]()
  private val jobStages = mutable.Map[Int, Seq[Int]]()
  private val submitted = mutable.Set[Int]()

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val op = prop(e.properties, Recorder.OpKey).map(_.toInt).getOrElse(-1)
    jobsByOp(op) += 1
    jobsByPhase(prop(e.properties, Recorder.PhaseKey).getOrElse("other")) += 1
    jobStages(e.jobId) = e.stageIds
    e.stageIds.foreach(s => stageOp.getOrElseUpdate(s, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    stagesSkipped += jobStages.remove(e.jobId).getOrElse(Nil).count(s => !submitted(s))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { submitted += e.stageInfo.stageId }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    if (e.stageInfo.numTasks == 1) oneTaskStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskSpans += TaskSpan(stageOp.getOrElse(e.stageId, -1), e.taskInfo.launchTime,
      e.taskInfo.finishTime)
    val m = e.taskMetrics
    if (m != null) {
      taskNs += m.executorRunTime * 1000000L
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case RDDBlockId(rdd, _) if e.blockUpdatedInfo.storageLevel.isValid => pinnedRdds += rdd
      case _ =>
    }
  }
}

object Counters {
  final case class TaskSpan(op: Int, startMs: Long, endMs: Long)
}
