package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Records every job submitted under a `perfbench.span` local property
  * (`<call id>/<phase>`), with its stages and the summed metrics of
  * their tasks. Spans stay in memory until [[takeJobs]] hands a call's
  * jobs over; nothing is written while the workload runs. */
final class Tracer extends SparkListener {

  private final class StageRec(val id: Int, val name: String) {
    var submittedMs = 0L
    var completedMs = 0L
    var tasks = 0
    var failedTasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var input = 0L
    var output = 0L
    var spill = 0L
    def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
      "start_ms" -> submittedMs, "ms" -> (completedMs - submittedMs), "tasks" -> tasks,
      "failed_tasks" -> failedTasks, "task_run_ms" -> runMs,
      "task_cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "sched_delay_ms" -> schedDelayMs,
      "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
      "input" -> input, "output" -> output, "spill" -> spill)
  }

  private final class JobRec(val id: Int, val span: String, val name: String,
      val sources: Boolean, val startMs: Long) {
    var endMs = startMs
    val stages = mutable.ArrayBuffer.empty[StageRec]
    def toMap: Map[String, Any] = Map("id" -> id,
      "phase" -> span.dropWhile(_ != '/').drop(1), "name" -> name,
      "sources" -> sources, "start_ms" -> startMs, "ms" -> (endMs - startMs),
      "stages" -> stages.filter(_.submittedMs > 0).map(_.toMap).toSeq)
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
    span.foreach { s =>
      val last = e.stageInfos.maxBy(_.stageId)
      // the call-site stack tells which layer submitted the job
      val sources = e.stageInfos.exists(_.details.contains("graft.sources."))
      val job = new JobRec(e.jobId, s, last.name, sources, e.time)
      e.stageInfos.foreach { si =>
        val st = stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId, si.name))
        job.stages += st
      }
      jobs(e.jobId) = job
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { st =>
      st.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { st =>
      st.completedMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { st =>
      st.tasks += 1
      if (e.reason != Success) st.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.input += m.inputMetrics.bytesRead
        st.output += m.outputMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        // the Spark UI's scheduler delay: task time not spent running,
        // deserializing, or shipping the result
        val i = e.taskInfo
        st.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      }
    }
  }

  /** Removes and returns the jobs of call `id`, in submission order. */
  def takeJobs(id: Int): Seq[Map[String, Any]] = synchronized {
    val prefix = s"$id/"
    val mine = jobs.values.filter(_.span.startsWith(prefix)).toSeq
    mine.foreach { j =>
      jobs.remove(j.id)
      j.stages.foreach(st => stages.remove(st.id))
    }
    mine.map(_.toMap)
  }
}
