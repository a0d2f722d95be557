package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** What one Spark job did, attributed through the local properties the
  * harness sets before each phase (query, pass, phase, parent span).
  */
final class JobRec(val id: Int, val startMs: Long, val query: String,
    val pass: Int, val phase: String, val parentSpan: Long, val store: Boolean) {
  var endMs: Long = startMs
  var stages, tasks, failedTasks = 0
  var taskMs, cpuMs, gcMs, waitMs = 0.0
  var shuffleWrite, shuffleRead, spill, output, input = 0L
}

final class StageRec(val id: Int, val attempt: Int, val job: JobRec,
    val submittedMs: Long, val numTasks: Int) {
  var completedMs: Long = submittedMs
}

/** A SparkListener that lives in the benchmark: it times the `spark` layer
  * from outside and attributes each job to the query and phase that
  * started it. Jobs whose call stack passes through the store writers
  * (StoreOnce, VintageWrite) are tagged so the `stores` layer can be
  * measured without code inside the program.
  */
final class Recorder extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  private val storeFrames = Seq("graft.operators.StoreOnce", "graft.operators.VintageWrite")

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    val p = Option(ev.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val details = ev.stageInfos.map(_.details).mkString("\n")
    val rec = new JobRec(ev.jobId, ev.time,
      prop(Harness.PropQuery).getOrElse(""),
      prop(Harness.PropPass).map(_.toInt).getOrElse(-1),
      prop(Harness.PropPhase).getOrElse("setup"),
      prop(Harness.PropSpan).map(_.toLong).getOrElse(0L),
      storeFrames.exists(details.contains))
    jobs.put(ev.jobId, rec)
    ev.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit =
    Option(jobs.get(ev.jobId)).foreach(_.endMs = ev.time)

  override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit = {
    val si = ev.stageInfo
    Option(stageJob.get(si.stageId)).foreach { job =>
      job.synchronized(job.stages += 1)
      stages.put((si.stageId, si.attemptNumber()), new StageRec(si.stageId,
        si.attemptNumber(), job, si.submissionTime.getOrElse(System.currentTimeMillis()),
        si.numTasks))
    }
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val si = ev.stageInfo
    Option(stages.get((si.stageId, si.attemptNumber())))
      .foreach(_.completedMs = si.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit =
    Option(stages.get((ev.stageId, ev.stageAttemptId))).foreach { st =>
      val j = st.job
      val m = Option(ev.taskMetrics)
      j.synchronized {
        j.tasks += 1
        if (ev.reason != Success) j.failedTasks += 1
        j.waitMs += math.max(0L, ev.taskInfo.launchTime - st.submittedMs)
        m.foreach { tm =>
          j.taskMs += tm.executorRunTime
          j.cpuMs += tm.executorCpuTime / 1e6
          j.gcMs += tm.jvmGCTime
          j.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
          j.spill += tm.diskBytesSpilled
          j.output += tm.outputMetrics.bytesWritten
          j.input += tm.inputMetrics.bytesRead
        }
      }
    }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def stageList: Seq[StageRec] = stages.values.asScala.toSeq.sortBy(s => (s.id, s.attempt))
}
