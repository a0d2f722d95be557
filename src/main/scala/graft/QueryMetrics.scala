package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** The engine's one SparkListener: what a job group cost, counted in the
  * two units a MapReduce computation is priced in, rounds (jobs, stages,
  * tasks) and communication (shuffle bytes), plus per-stage task progress
  * for `Jobs.state` (the reference's `getJobState` counters,
  * `MapReduceFramework.cpp:317-352`).
  *
  * One collector is added to a live SparkContext, on first use. It counts
  * only job groups opened through it ([[QueryMetrics.open]]) and drops a
  * group's state when the group is closed, so other work on a shared
  * session (AQE cleanup, other callers' jobs, background cache builds)
  * never enters a reading. Broadcast-exchange and AQE subquery jobs run
  * on side threads but capture the submitting thread's locals, so they
  * carry the group and are counted.
  *
  * A stage's metrics are counted when it completes and go to the group
  * that submitted it. Skipped stages (shuffle reuse) never submit, so
  * reusing an earlier stage's shuffle output counts zero, which is the
  * honest accounting for "bytes this group moved".
  */
final class QueryMetrics private (private val sc: SparkContext) extends SparkListener {
  import QueryMetrics._

  private val groups = new ConcurrentHashMap[String, Group]()
  // stage -> group whose job lists it (task progress), until the group closes
  private val progressOwner = new ConcurrentHashMap[Int, Group]()
  // stage -> group that submitted it, until the stage completes
  private val submittedBy = new ConcurrentHashMap[Int, Group]()
  @volatile private var ended = false

  private def groupOf(p: java.util.Properties): Group =
    if (p == null) null
    else Option(p.getProperty("spark.jobGroup.id")).map(groups.get).orNull

  private def open(): Group = {
    val g = new Group(s"graft-${UUID.randomUUID()}", this)
    groups.put(g.id, g)
    g
  }

  private[graft] def close(g: Group): Unit = synchronized {
    groups.remove(g.id, g)
    g.progress.keySet.forEach(s => progressOwner.remove(s, g))
  }

  /** Groups and stages still held (zero once every group is closed and
    * the bus is drained).
    */
  private[graft] def heldState: Int = groups.size + progressOwner.size + submittedBy.size

  override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(ev.properties)
    if (g != null) {
      // Spark passes a job's call site as its result stage's name; the
      // property is there only when a caller set it explicitly
      val site = Option(ev.properties.getProperty("callSite.short"))
        .orElse(ev.stageInfos.maxByOption(_.stageId).map(_.name))
      g.jobStarted(ev.jobId, site.getOrElse("?"), ev.time)
      // a stage an earlier job of the group already lists keeps its entry
      val fresh = ev.stageInfos.zipWithIndex.flatMap { case (si, i) =>
        progressOwner.put(si.stageId, g)
        val p = new StageProgress(i, si.numTasks)
        if (g.progress.putIfAbsent(si.stageId, p) == null) Some(p) else None
      }
      if (fresh.nonEmpty) g.latestJob = fresh.toIndexedSeq
    }
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit =
    groups.values.forEach(_.jobEnded(ev.jobId, ev.time))

  override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(ev.properties)
    if (g != null) submittedBy.put(ev.stageInfo.stageId, g)
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val g = submittedBy.remove(ev.stageInfo.stageId)
    if (g != null) g.stageCompleted(ev.stageInfo)
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit =
    // failed, killed and speculative task ends must not advance progress
    if (ev.reason == Success) {
      val g = progressOwner.get(ev.stageId)
      if (g != null) {
        val p = g.progress.get(ev.stageId)
        if (p != null) p.done = math.min(p.done + 1, p.total)
      }
    }

  override def onApplicationEnd(ev: SparkListenerApplicationEnd): Unit = ended = true
}

object QueryMetrics {
  /** One Spark job of a group; `endMs` is -1 while it runs. */
  final case class Job(id: Int, callSite: String, startMs: Long, endMs: Long = -1L) {
    def ms: Long = if (endMs < 0) -1L else endMs - startMs
  }

  final case class Reading(
      jobs: Seq[Job],
      stagesCompleted: Int,
      tasks: Long,
      taskMs: Long,
      shuffleWriteBytes: Long,
      shuffleReadBytes: Long)

  /** Task progress of one stage of a group's job; `index` is the stage's
    * position in its job. Written only by the listener thread.
    */
  final class StageProgress(val index: Int, val total: Int) {
    @volatile var done = 0
  }

  /** A job group opened through the collector. Run Spark actions under
    * `id` (`SparkContext.setJobGroup`), read it, then `close` it.
    */
  final class Group private[graft] (val id: String, owner: QueryMetrics) {
    private[graft] val progress = new ConcurrentHashMap[Int, StageProgress]()
    /** Task progress of the stages the group's latest job added, in job
      * order (empty before its first job starts).
      */
    @volatile private[graft] var latestJob: IndexedSeq[StageProgress] = IndexedSeq.empty
    private val jobs = scala.collection.mutable.TreeMap[Int, Job]()
    private var stages = 0
    private var tasks, taskMs, shuffleWrite, shuffleRead = 0L

    private[graft] def jobStarted(job: Int, site: String, at: Long): Unit =
      synchronized { jobs(job) = Job(job, site, at) }

    private[graft] def jobEnded(job: Int, at: Long): Unit =
      synchronized { jobs.get(job).foreach(j => jobs(job) = j.copy(endMs = at)) }

    private[graft] def stageCompleted(si: StageInfo): Unit = synchronized {
      stages += 1
      tasks += si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        taskMs += m.executorRunTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
      }
    }

    /** What the group's events delivered so far. */
    def reading: Reading =
      synchronized { Reading(jobs.values.toSeq, stages, tasks, taskMs, shuffleWrite, shuffleRead) }

    /** Stop counting and drop the group's state. Idempotent. */
    def close(): Unit = owner.close(this)
  }

  private var live: QueryMetrics = null

  /** The collector on `sc`, added on first use. A collector whose
    * application has ended, or that belongs to another context, is taken
    * off its bus and never reused.
    */
  private[graft] def of(sc: SparkContext): QueryMetrics = synchronized {
    if (live == null || (live.sc ne sc) || live.ended) {
      if (live != null) live.sc.removeSparkListener(live)
      live = new QueryMetrics(sc)
      sc.addSparkListener(live)
    }
    live
  }

  /** Open a job group on `sc`'s collector. */
  def open(sc: SparkContext): Group = of(sc).open()

  /** Run `body` on this thread under a fresh group, drain the listener
    * bus, and return what the group did.
    */
  def measure[A](spark: SparkSession)(body: => A): (A, Reading) = {
    val sc = spark.sparkContext
    val g = open(sc)
    sc.setJobGroup(g.id, "graft-measure", interruptOnCancel = false)
    try {
      val a = body
      Bridge.waitListenerBusEmpty(sc, 10000)
      (a, g.reading)
    } finally {
      sc.clearJobGroup()
      g.close()
    }
  }
}
