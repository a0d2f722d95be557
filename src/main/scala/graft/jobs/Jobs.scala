package graft.jobs

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

import graft.QueryMetrics

/** Job-lifecycle parity with the reference engine's public API
  * (`MapReduceFramework.h:18-24`):
  *
  *   - `Jobs.start`       ≈ startMapReduceJob — returns a handle immediately
  *   - `JobHandle.state`  ≈ getJobState — {stage, percentage}
  *   - `JobHandle.await`  ≈ waitForJob
  *   - `JobHandle.close`  ≈ closeJobHandle
  *
  * Stage labels mirror the reference's `stage_t` enum: within one Spark
  * job, the first stage is MAP, the last is REDUCE, interior exchange
  * stages are SHUFFLE (`MapReduceFramework.h:8-13`). Percentage is
  * completed/total tasks of the current stage, exactly like the
  * reference's per-record counters (`MapReduceFramework.cpp:317-352`).
  * Progress comes from the session's [[QueryMetrics]] collector, keyed on
  * the handle's job group, so any action — including multi-job AQE
  * queries — reports sensibly.
  */
final case class JobState(stage: String, percentage: Double)

final class JobHandle[T] private[jobs] (fut: Future[T], group: QueryMetrics.Group) {

  /** Non-blocking progress poll (getJobState parity). */
  def state: JobState = {
    if (fut.isCompleted) return JobState("REDUCE", 1.0)
    val jobStages = group.latestJob
    if (jobStages.isEmpty) return JobState("UNDEFINED", 0.0)
    // current = the earliest incomplete stage of the latest job; else done
    val cur = jobStages.find(p => p.done < p.total).getOrElse(jobStages.last)
    val label =
      if (jobStages.length == 1) "MAP"
      else if (cur.index == 0) "MAP"
      else if (cur.index == jobStages.length - 1) "REDUCE"
      else "SHUFFLE"
    JobState(label, if (cur.total == 0) 1.0 else cur.done.toDouble / cur.total)
  }

  def isCompleted: Boolean = fut.isCompleted

  /** Blocks until the job finishes and returns its result (waitForJob). */
  def await(): T = Await.result(fut, Duration.Inf)

  /** Drop the job's progress state (closeJobHandle). Idempotent. */
  def close(): Unit = group.close()
}

object Jobs {
  private implicit val ec: ExecutionContext = ExecutionContext.global

  /** Launch `body` (any Spark action) asynchronously under a fresh job
    * group and return a pollable handle (startMapReduceJob parity —
    * `multiThreadLevel` maps to the session's master/parallelism, fixed at
    * session build time).
    */
  def start[T](spark: SparkSession, name: String = "graft-job")(body: => T): JobHandle[T] = {
    val group = QueryMetrics.open(spark.sparkContext)
    val fut = Future {
      spark.sparkContext.setJobGroup(group.id, name, interruptOnCancel = true)
      try body
      finally spark.sparkContext.clearJobGroup()
    }
    new JobHandle[T](fut, group)
  }
}
